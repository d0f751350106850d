"""Pure-Python image codec for the multimodal operators: binary PPM
(P6) encode/decode, nearest-neighbor resize, and a real zlib-backed
PNG (8-bit RGB) encoder/decoder.

The container has no PIL/libjpeg, but stdlib ``zlib`` covers PNG's
deflate layer, and PPM is trivial enough to implement, which
turns the multimodal decode path from a stub into a real end-to-end
pipeline (encode -> decode -> resize -> re-encode), with every step
verifiable byte-for-byte. At scale these functions run inside Arrow
``mapInArrow`` batches (operators/multimodal.py); they are pure
byte-level transforms with no I/O and no driver involvement.

Format notes:
  PPM P6 (netpbm): header ``P6\\n<w> <h>\\n<maxval>\\n`` then w*h*3
    RGB bytes. Whitespace/comment handling per the netpbm spec
    (any whitespace separates tokens; ``#`` starts a comment).
"""

from __future__ import annotations


def encode_ppm(rgb: bytes, width: int, height: int) -> bytes:
    """Binary P6 PPM from raw interleaved RGB bytes."""
    if len(rgb) != width * height * 3:
        raise ValueError(
            f"rgb length {len(rgb)} != {width}x{height}x3 = {width * height * 3}")
    return f"P6\n{width} {height}\n255\n".encode("ascii") + rgb


def _ppm_tokens(payload: bytes, n: int) -> tuple[list[int], int]:
    """First ``n`` whitespace-separated integer tokens after the magic,
    honoring '#' comments; returns (tokens, offset-after-last-token's
    single whitespace) per the netpbm spec."""
    toks: list[int] = []
    i = 2  # past 'P6'
    while len(toks) < n:
        # skip whitespace and comments
        while i < len(payload):
            c = payload[i:i + 1]
            if c == b"#":
                while i < len(payload) and payload[i:i + 1] != b"\n":
                    i += 1
            elif c.isspace():
                i += 1
            else:
                break
        j = i
        while j < len(payload) and payload[j:j + 1].isdigit():
            j += 1
        if j == i:
            raise ValueError(f"malformed PPM header at byte {i}")
        toks.append(int(payload[i:j]))
        i = j
    # exactly ONE whitespace byte separates the header from pixel data
    if i >= len(payload) or not payload[i:i + 1].isspace():
        raise ValueError("PPM header not terminated by whitespace")
    return toks, i + 1


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """(width, height, rgb bytes) from a binary P6 PPM."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    (width, height, maxval), off = _ppm_tokens(payload, 3)
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    need = width * height * 3
    rgb = payload[off:off + need]
    if len(rgb) != need:
        raise ValueError(f"truncated PPM: {len(rgb)} of {need} pixel bytes")
    return width, height, rgb


def resize_nn_ppm(payload: bytes, out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor resize of a P6 PPM — a REAL resize, not a
    decimation stub: output pixel (x, y) samples input pixel
    (floor(x*w/out_w), floor(y*h/out_h))."""
    w, h, rgb = decode_ppm(payload)
    out = bytearray(out_w * out_h * 3)
    for y in range(out_h):
        sy = y * h // out_h
        row = sy * w * 3
        orow = y * out_w * 3
        for x in range(out_w):
            sx = x * w // out_w
            s = row + sx * 3
            o = orow + x * 3
            out[o:o + 3] = rgb[s:s + 3]
    return encode_ppm(bytes(out), out_w, out_h)


# --------------------------------------------------------------- PNG
# Minimal but REAL PNG support via stdlib zlib: 8-bit RGB (color type
# 2), no interlace. The encoder emits filter-0 scanlines; the decoder
# reconstructs ALL five standard filters (None/Sub/Up/Average/Paeth),
# so it reads PNGs from other writers too. CRCs are written and
# verified (zlib.crc32). Deterministic: zlib.compress at a fixed level
# is byte-stable, so the SQL-oracle-facing sizes never drift.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import zlib
    return (len(body).to_bytes(4, "big") + tag + body
            + (zlib.crc32(tag + body) & 0xFFFFFFFF).to_bytes(4, "big"))


def encode_png(rgb: bytes, width: int, height: int) -> bytes:
    """8-bit RGB PNG from raw interleaved RGB bytes (filter 0 rows)."""
    import zlib
    if len(rgb) != width * height * 3:
        raise ValueError(
            f"rgb length {len(rgb)} != {width}x{height}x3 = {width * height * 3}")
    ihdr = (width.to_bytes(4, "big") + height.to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0]))  # bitdepth 8, RGB, deflate, no interlace
    stride = width * 3
    raw = b"".join(b"\x00" + rgb[y * stride:(y + 1) * stride]
                   for y in range(height))
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw, 6))
            + _png_chunk(b"IEND", b""))


def _unfilter_row(ftype: int, row: bytearray, prev: bytes, bpp: int) -> None:
    """In-place scanline reconstruction per the PNG spec filters."""
    n = len(row)
    if ftype == 0:                      # None
        return
    if ftype == 1:                      # Sub
        for i in range(bpp, n):
            row[i] = (row[i] + row[i - bpp]) & 0xFF
    elif ftype == 2:                    # Up
        for i in range(n):
            row[i] = (row[i] + prev[i]) & 0xFF
    elif ftype == 3:                    # Average
        for i in range(n):
            a = row[i - bpp] if i >= bpp else 0
            row[i] = (row[i] + ((a + prev[i]) >> 1)) & 0xFF
    elif ftype == 4:                    # Paeth
        for i in range(n):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            row[i] = (row[i] + pred) & 0xFF
    else:
        raise ValueError(f"unknown PNG filter type {ftype}")


def decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """(width, height, rgb bytes) from an 8-bit RGB non-interlaced PNG.
    Verifies chunk CRCs; rejects palettes/alpha/16-bit/interlace (out
    of scope for the multimodal plumbing — fail loudly, never guess)."""
    import zlib
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, width, height, idat = 8, None, None, []
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos:pos + 4], "big")
        tag = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + ln]
        if len(body) != ln:
            raise ValueError("truncated PNG chunk")
        crc = int.from_bytes(payload[pos + 8 + ln:pos + 12 + ln], "big")
        if (zlib.crc32(tag + body) & 0xFFFFFFFF) != crc:
            raise ValueError(f"PNG CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            width = int.from_bytes(body[0:4], "big")
            height = int.from_bytes(body[4:8], "big")
            bitdepth, color, _, _, interlace = body[8:13]
            if (bitdepth, color) != (8, 2):
                raise ValueError(
                    f"only 8-bit RGB supported (got depth={bitdepth}, "
                    f"color_type={color})")
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if width is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    raw = zlib.decompress(b"".join(idat))
    stride = width * 3
    if len(raw) != (stride + 1) * height:
        raise ValueError(
            f"PNG pixel data {len(raw)} != {(stride + 1) * height}")
    out = bytearray(stride * height)
    prev = bytes(stride)
    for y in range(height):
        start = y * (stride + 1)
        row = bytearray(raw[start + 1:start + 1 + stride])
        _unfilter_row(raw[start], row, prev, 3)
        out[y * stride:(y + 1) * stride] = row
        prev = bytes(row)
    return width, height, bytes(out)


def text_to_png(text_bytes: bytes, width: int = 32) -> bytes:
    """Deterministic test-image synthesis, PNG flavor: same raster
    construction as ``text_to_ppm`` (zero-padded ``width``-wide RGB
    rows), wrapped in a real zlib-compressed PNG container."""
    row_bytes = width * 3
    height = max(1, -(-len(text_bytes) // row_bytes))
    padded = text_bytes.ljust(width * height * 3, b"\x00")
    return encode_png(padded, width, height)


def text_to_ppm(text_bytes: bytes, width: int = 32) -> bytes:
    """Deterministic test-image synthesis: pack a byte payload into a
    ``width``-wide RGB raster (zero-padded to full rows) and wrap it in
    a real P6 header. ceil(len/ (3*width)) rows; mirrored exactly by
    the SQL oracle for driver verification."""
    row_bytes = width * 3
    height = max(1, -(-len(text_bytes) // row_bytes))
    padded = text_bytes.ljust(width * height * 3, b"\x00")
    return encode_ppm(padded, width, height)
