"""Vendored PPM/PNG codec: byte-level roundtrip, real nearest-neighbor
resize, and the end-to-end Spark decode path with NO fake branch."""

from __future__ import annotations

import hashlib

import pytest

from dht11_data_pipeline_spark.functions.imagecodec import (
    decode_ppm, encode_ppm, resize_nn_ppm, text_to_ppm,
)


def _gradient(w, h):
    return bytes((x * 7 + y * 13 + c) % 256
                 for y in range(h) for x in range(w) for c in range(3))


def test_ppm_roundtrip():
    rgb = _gradient(5, 3)
    p = encode_ppm(rgb, 5, 3)
    assert p.startswith(b"P6\n5 3\n255\n")
    assert decode_ppm(p) == (5, 3, rgb)


def test_ppm_header_comments_and_whitespace():
    rgb = _gradient(2, 2)
    p = b"P6\n# a comment\n 2\t2 # trailing\n255\n" + rgb
    assert decode_ppm(p) == (2, 2, rgb)


def test_ppm_errors():
    with pytest.raises(ValueError, match="not a P6"):
        decode_ppm(b"P3\n1 1\n255\n000")
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b"P6\n2 2\n255\n\x00\x00\x00")
    with pytest.raises(ValueError, match="rgb length"):
        encode_ppm(b"\x00" * 5, 2, 2)


def test_resize_nn_exact_pixels():
    # 4x2 -> 2x1: output pixel (x,0) samples input (x*4//2, 0*2//1)=(2x,0)
    rgb = _gradient(4, 2)
    out = resize_nn_ppm(encode_ppm(rgb, 4, 2), 2, 1)
    ow, oh, orgb = decode_ppm(out)
    assert (ow, oh) == (2, 1)
    assert orgb == rgb[0:3] + rgb[6:9]


def test_resize_identity():
    rgb = _gradient(3, 3)
    p = encode_ppm(rgb, 3, 3)
    assert decode_ppm(resize_nn_ppm(p, 3, 3)) == (3, 3, rgb)


def test_text_to_ppm_padding():
    p = text_to_ppm(b"hello world", width=2)  # 11 bytes -> 2 rows of 6
    w, h, rgb = decode_ppm(p)
    assert (w, h) == (2, 2)
    assert rgb == b"hello world\x00"
    # empty payload still yields a valid 1-row image
    w, h, rgb = decode_ppm(text_to_ppm(b"", width=4))
    assert (w, h, rgb) == (4, 1, b"\x00" * 12)


def test_spark_decode_resize_no_fake(spark):
    """End-to-end through Arrow batches with the REAL codec only."""
    from dht11_data_pipeline_spark.operators.multimodal import (
        attach_image_payload, decode_resize_payloads)

    docs = spark.createDataFrame(
        [(1, "x" * 100), (2, "y" * 7), (3, "")],
        "doc_id long, text string")
    imgs = attach_image_payload(docs, width=32)
    # payloads are genuine PPMs the standalone decoder accepts
    for r in imgs.collect():
        w, h, _ = decode_ppm(r["payload"])
        assert w == 32 and h >= 1
    out = {r["doc_id"]: r for r in
           decode_resize_payloads(imgs, out_w=16, out_h=16).collect()}
    assert out[1]["height"] == 2 and out[2]["height"] == 1
    assert all(r["out_width"] == 16 and r["out_height"] == 16
               and r["out_n_bytes"] == 13 + 768 for r in out.values())
    # checksum matches a local re-run of the same codec ops
    p = text_to_ppm(b"x" * 100, 32)
    local = hashlib.sha256(resize_nn_ppm(p, 16, 16)).hexdigest()
    assert out[1]["out_checksum"] == local


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=100, deadline=None)
    @given(w=st.integers(1, 24), h=st.integers(1, 24),
           seed=st.integers(0, 2**31))
    def test_ppm_roundtrip_property(w, h, seed):
        rgb = bytes((seed * 2654435761 + i * 40503) % 256
                    for i in range(w * h * 3))
        assert decode_ppm(encode_ppm(rgb, w, h)) == (w, h, rgb)

    @settings(max_examples=50, deadline=None)
    @given(w=st.integers(1, 16), h=st.integers(1, 16),
           ow=st.integers(1, 16), oh=st.integers(1, 16))
    def test_resize_property_dims_and_pixels(w, h, ow, oh):
        rgb = bytes((x * 31 + y * 17 + c) % 256
                    for y in range(h) for x in range(w) for c in range(3))
        got_w, got_h, got = decode_ppm(
            resize_nn_ppm(encode_ppm(rgb, w, h), ow, oh))
        assert (got_w, got_h) == (ow, oh)
        # spot-check the nearest-neighbor contract on every output pixel
        for y in range(oh):
            for x in range(ow):
                s = ((y * h // oh) * w + (x * w // ow)) * 3
                o = (y * ow + x) * 3
                assert got[o:o + 3] == rgb[s:s + 3]
except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


# ------------------------------------------------------------- PNG

def test_png_roundtrip_and_sniff():
    from dht11_data_pipeline_spark.functions.imagecodec import (
        decode_png, encode_png, text_to_png)

    rgb = _gradient(7, 4)
    p = encode_png(rgb, 7, 4)
    assert p.startswith(b"\x89PNG\r\n\x1a\n")
    assert decode_png(p) == (7, 4, rgb)
    # text_to_png mirrors text_to_ppm's raster (32-wide, zero-padded)
    w, h, got = decode_png(text_to_png(b"hello png", width=32))
    assert (w, h) == (32, 1)
    assert got == b"hello png".ljust(96, b"\x00")


def test_png_all_filter_types_reconstruct():
    """The decoder must handle Sub/Up/Average/Paeth scanlines, not just
    the filter-0 rows our encoder writes — build an IDAT by FILTERING
    a known raster with every type and check exact reconstruction."""
    import zlib

    from dht11_data_pipeline_spark.functions.imagecodec import (
        _png_chunk, decode_png)

    w, h, bpp = 6, 5, 3
    rgb = _gradient(w, h)
    stride = w * bpp

    def px(row, i):
        return row[i] if i >= 0 else 0

    lines = []
    prev = bytes(stride)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = rgb[y * stride:(y + 1) * stride]
        if ftype == 0:
            filt = bytes(cur)
        elif ftype == 1:
            filt = bytes((cur[i] - px(cur, i - bpp)) & 0xFF
                         for i in range(stride))
        elif ftype == 2:
            filt = bytes((cur[i] - prev[i]) & 0xFF for i in range(stride))
        elif ftype == 3:
            filt = bytes((cur[i] - ((px(cur, i - bpp) + prev[i]) >> 1)) & 0xFF
                         for i in range(stride))
        else:
            out = []
            for i in range(stride):
                a, b, c = px(cur, i - bpp), prev[i], px(prev, i - bpp)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out.append((cur[i] - pred) & 0xFF)
            filt = bytes(out)
        lines.append(bytes([ftype]) + filt)
        prev = cur
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0]))
    png = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
           + _png_chunk(b"IEND", b""))
    assert decode_png(png) == (w, h, rgb)


def test_png_rejects_corruption_and_unsupported():
    import pytest as _pytest

    from dht11_data_pipeline_spark.functions.imagecodec import (
        decode_png, encode_png)

    p = bytearray(encode_png(_gradient(4, 4), 4, 4))
    p[40] ^= 0xFF  # flip a byte inside IDAT -> CRC must catch it
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(p))
    with _pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"P6\n1 1\n255\n\x00\x00\x00")
    # grayscale header (color type 0) must be refused loudly
    good = encode_png(_gradient(2, 2), 2, 2)
    import zlib as _z
    body = bytearray(good[16:16 + 13]); body[9] = 0
    ihdr = (len(body).to_bytes(4, "big") + b"IHDR" + bytes(body)
            + (_z.crc32(b"IHDR" + bytes(body)) & 0xFFFFFFFF).to_bytes(4, "big"))
    bad = good[:8] + ihdr + good[8 + 25:]
    with _pytest.raises(ValueError, match="8-bit RGB"):
        decode_png(bad)


def test_spark_png_roundtrip_query(spark, sf_dir):
    from dht11_data_pipeline_spark.operators.multimodal import png_roundtrip

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = png_roundtrip(docs, width=32)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert all(r["roundtrip_ok"] for r in rows)
    assert all(r["n_pixel_bytes"] == 96 * r["height"] for r in rows)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=100, deadline=None)
    @given(w=st.integers(1, 24), h=st.integers(1, 24),
           seed=st.integers(0, 2**31))
    def test_png_roundtrip_property(w, h, seed):
        from dht11_data_pipeline_spark.functions.imagecodec import (
            decode_png, encode_png)

        rgb = bytes((seed * 2654435761 + i * 40503) % 256
                    for i in range(w * h * 3))
        assert decode_png(encode_png(rgb, w, h)) == (w, h, rgb)
except ImportError:
    pass
