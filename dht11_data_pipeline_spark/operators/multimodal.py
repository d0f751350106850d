"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed per row over Arrow batches (functions/partitioning.map_rows,
built on ``mapInArrow``).

Two decode tiers:
  * REAL: PPM, PNG (zlib inflate + filter reconstruction), WAV
    (functions/audiocodec.py), and baseline JPEG (functions/
    jpegcodec.py: Huffman + DCT) via vendored pure-Python codecs —
    actual container parsing and pixel/sample reconstruction, no fake
    branch.
  * STUB: formats whose decode genuinely needs a native library the
    package does not vendor (e.g. video codecs) — ``decode_image_stub``
    returns deterministic fake features. Swapping the stub for PIL is a
    one-function change; the Spark-side plumbing (binary schema, Arrow
    batch transfer, row function, partitioning) is identical for both
    tiers.

Scale: mapInArrow streams Arrow record batches through Python —
payload bytes never materialize on the driver; batch size is bounded
by ``spark.sql.execution.arrow.maxRecordsPerBatch``. Partition count
should track input splits (binary blobs are big: keep
``maxPartitionBytes`` moderate so a partition's batch fits in worker
memory).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.functions.partitioning import map_rows, right_size

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes int, fake_width int, fake_height int, checksum string"
)


def attach_binary_payload(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Materialize an opaque binary column + typed metadata struct —
    the storage shape a real image/audio table would have (payload:
    binary, meta: struct<mime,source_len>)."""
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("application/x-fake").alias("mime"),
            F.length(text_col).alias("source_len"),
        ).alias("meta"),
    )


def decode_image_stub(payload: bytes) -> tuple[int, int]:
    """Placeholder for a compressed-format decoder (PIL.Image.open);
    PPM decode is REAL via functions/imagecodec.decode_ppm."""
    n = len(payload)
    return n % 256, (n // 256) % 256  # deterministic fake (width, height)


def attach_image_payload(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", width: int = 32) -> DataFrame:
    """Binary column holding a REAL P6 PPM image deterministically
    synthesized from each document's bytes (functions/imagecodec.
    text_to_ppm): the ingestion shape of an image table, exercised
    end-to-end without external libraries."""
    from dht11_data_pipeline_spark.functions.imagecodec import text_to_ppm

    def _row(doc_id, text):
        yield doc_id, text_to_ppm(text.encode("utf-8"), width)

    return map_rows(df.select(F.col(id_col), F.col(text_col)), _row,
                    f"{id_col} bigint, payload binary")


DECODE_RESIZE_SCHEMA = ("doc_id bigint, width int, height int, "
                        "out_width int, out_height int, out_n_bytes int, "
                        "out_checksum string")


def decode_resize_payloads(binary_df: DataFrame, out_w: int = 16,
                           out_h: int = 16) -> DataFrame:
    """REAL decode + nearest-neighbor resize + re-encode over the
    binary column: parses each P6 payload's header/pixels, resamples to
    ``out_w`` x ``out_h``, and re-encodes — every byte produced by the
    vendored codec, no fake path. Arrow-batched; partitions stay
    independent (the 100 TB image-preprocessing shape)."""
    from dht11_data_pipeline_spark.functions.imagecodec import (
        decode_ppm, resize_nn_ppm)

    def _row(doc_id, payload):
        w, h, _ = decode_ppm(payload)
        out = resize_nn_ppm(payload, out_w, out_h)
        ow, oh, _ = decode_ppm(out)
        yield (doc_id, w, h, ow, oh, len(out),
               hashlib.sha256(out).hexdigest())

    return map_rows(binary_df.select("doc_id", "payload"), _row,
                    DECODE_RESIZE_SCHEMA)


PNG_ROUNDTRIP_SCHEMA = ("doc_id bigint, width int, height int, "
                        "n_pixel_bytes int, roundtrip_ok boolean")


def png_roundtrip(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", width: int = 32) -> DataFrame:
    """REAL compressed-format decode, no stub: each document's bytes
    become a zlib-compressed 8-bit RGB PNG (functions/imagecodec.
    text_to_png), which is then fully parsed back — chunk walk, CRC
    verify, inflate, per-scanline filter reconstruction — and compared
    byte-for-byte against the original raster. One Arrow pass; the PNG
    never leaves the batch (the 100 TB shape: decode cost rides the
    executor, output is fixed-width metadata + a verdict)."""
    from dht11_data_pipeline_spark.functions.imagecodec import (
        decode_png, text_to_png)

    def _row(doc_id, text):
        raw = text.encode("utf-8")
        w, h, rgb = decode_png(text_to_png(raw, width))
        yield doc_id, w, h, len(rgb), rgb == raw.ljust(w * h * 3, b"\x00")

    return map_rows(df.select(F.col(id_col), F.col(text_col)), _row,
                    PNG_ROUNDTRIP_SCHEMA)


JPEG_ROUNDTRIP_SCHEMA = ("doc_id bigint, width int, height int, "
                         "n_blocks int, pixel_sum bigint, max_abs_err int")


def jpeg_roundtrip(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   blocks_per_row: int = 8) -> DataFrame:
    """REAL lossy-format decode, no stub: each document's bytes become
    a baseline grayscale JPEG (one constant 8x8 block per byte —
    functions/jpegcodec.text_to_jpeg), which is then fully decoded —
    marker walk, canonical Huffman, dequantize, batched IDCT — and
    summarized as (pixel_sum over the decoded raster, max |decoded −
    original| over the real bytes).  Block-constant inputs give the
    lossy decode a closed form (see jpegcodec docstring), so unlike
    the PNG roundtrip's pinned-TRUE verdict both outputs here hit the
    oracle's value hash.  One Arrow pass; the JPEG never leaves the
    batch (the 100 TB shape: decode cost rides the executor, output is
    fixed-width metadata)."""
    from dht11_data_pipeline_spark.functions.jpegcodec import (
        decode_jpeg_gray, text_to_jpeg)

    def _row(doc_id, text):
        raw = text.encode("utf-8")
        w, h, gray = decode_jpeg_gray(text_to_jpeg(raw, blocks_per_row))
        img = np.frombuffer(gray, np.uint8)
        # decoded DC value of block i = pixel at block corner
        grid = img.reshape(h // 8, 8, w // 8, 8)[:, 0, :, 0]
        rec = grid.reshape(-1)[:max(1, len(raw))].astype(np.int64)
        orig = np.zeros(rec.shape[0], np.int64)
        orig[:len(raw)] = np.frombuffer(raw, np.uint8)
        yield (doc_id, w, h, (w // 8) * (h // 8),
               int(img.sum(dtype=np.int64)), int(np.abs(rec - orig).max()))

    return map_rows(right_size(df.select(F.col(id_col), F.col(text_col))),
                    _row, JPEG_ROUNDTRIP_SCHEMA)


def extract_features(binary_df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column."""

    def _row(doc_id, payload):
        yield (doc_id, len(payload), *decode_image_stub(payload),
               hashlib.sha256(payload).hexdigest())

    return map_rows(binary_df.select("doc_id", "payload"), _row,
                    FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id bigint, n_bytes_in int, n_bytes_out int, out_checksum string"
)


def resize_stub(payload: bytes, target: int = 64) -> bytes:
    """Placeholder for a real resample/resize (PIL.Image.resize,
    librosa.resample). The deterministic fake keeps every ``target``-th
    byte — shape-preserving decimation, so tests can verify the
    plumbing end-to-end."""
    stride = max(1, len(payload) // target)
    return payload[::stride][:target]


def resize_payloads(binary_df: DataFrame, target: int = 64) -> DataFrame:
    """1:1 binary→binary transform via Arrow batches (the resize /
    resample / transcode shape). Output carries sizes + checksum rather
    than raw bytes so downstream joins stay narrow."""

    def _row(doc_id, payload):
        out = resize_stub(payload, target)
        yield doc_id, len(payload), len(out), hashlib.sha256(out).hexdigest()

    return map_rows(binary_df.select("doc_id", "payload"), _row,
                    RESIZE_SCHEMA)


FRAME_SCHEMA = (
    "doc_id bigint, frame_idx int, frame_len int, frame_checksum string"
)


def sample_frames(binary_df: DataFrame, frame_size: int = 256,
                  every: int = 4) -> DataFrame:
    """1:N frame sampling (the video/audio keyframe shape): treat the
    payload as consecutive ``frame_size``-byte frames, emit every
    ``every``-th one. map_rows fans out rows inside the Arrow batch —
    no explode shuffle, no driver involvement; at 100 TB the fan-out
    factor is payload_bytes/(frame_size*every) per row and partitions
    stay independent."""

    def _row(doc_id, payload):
        n_frames = (len(payload) + frame_size - 1) // frame_size
        for fi in range(0, n_frames, every):
            frame = payload[fi * frame_size:(fi + 1) * frame_size]
            yield doc_id, fi, len(frame), hashlib.sha256(frame).hexdigest()

    return map_rows(binary_df.select("doc_id", "payload"), _row,
                    FRAME_SCHEMA)


def attach_audio_payload(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", rate: int = 8000) -> DataFrame:
    """Binary column holding a REAL mono 16-bit PCM WAV deterministically
    synthesized from each document's bytes (functions/audiocodec.
    text_to_wav) — the ingestion shape of an audio table, exercised
    end-to-end without external libraries (the audio twin of
    attach_image_payload)."""
    from dht11_data_pipeline_spark.functions.audiocodec import text_to_wav

    def _row(doc_id, text):
        yield doc_id, text_to_wav(text.encode("utf-8"), rate)

    return map_rows(df.select(F.col(id_col), F.col(text_col)), _row,
                    f"{id_col} bigint, payload binary")


AUDIO_FEATURE_SCHEMA = ("doc_id bigint, n_channels int, sample_rate int, "
                        "n_samples int, duration_ms int, peak int, "
                        "energy bigint")


def audio_features(binary_df: DataFrame) -> DataFrame:
    """REAL audio decode over the binary column: chunk-walks each RIFF
    payload and emits integer signal features (sample count, duration,
    peak amplitude, total energy = sum of squared samples). All-integer
    output so a SQL oracle reproduces it exactly; no fake branch.
    Arrow-batched, partitions independent — the 100 TB audio-profiling
    shape."""

    from dht11_data_pipeline_spark.functions.audiocodec import decode_wav

    def _row(doc_id, payload):
        ch, rate, samples = decode_wav(payload)
        yield (doc_id, ch, rate, len(samples), len(samples) * 1000 // rate,
               max((abs(s) for s in samples), default=0),
               sum(s * s for s in samples))

    return map_rows(binary_df.select("doc_id", "payload"), _row,
                    AUDIO_FEATURE_SCHEMA)


RESAMPLE_AUDIO_SCHEMA = ("doc_id bigint, rate_in int, rate_out int, "
                         "n_in int, n_out int, out_checksum string")


def resample_audio(binary_df: DataFrame, out_rate: int = 4000) -> DataFrame:
    """REAL decode + nearest-neighbor resample + re-encode of the WAV
    column (functions/audiocodec.resample_nn_wav). Integer sample
    counts verify against n_out = n_in * out_rate / in_rate; the
    checksum pins the exact re-encoded bytes for regression tests."""

    from dht11_data_pipeline_spark.functions.audiocodec import (
        decode_wav, resample_nn_wav)

    def _row(doc_id, payload):
        _, rate, samples = decode_wav(payload)
        out = resample_nn_wav(payload, out_rate)
        _, orate, osamples = decode_wav(out)
        yield (doc_id, rate, orate, len(samples), len(osamples),
               hashlib.sha256(out).hexdigest())

    return map_rows(binary_df.select("doc_id", "payload"), _row,
                    RESAMPLE_AUDIO_SCHEMA)


AUDIO_EMBED_SCHEMA = "doc_id long, embedding array<float>"


def audio_embed(binary_df: DataFrame, dim: int = 16) -> DataFrame:
    """REAL audio -> embedding: decode each WAV and build a histogram
    over the decoded samples' amplitude classes (abs(sample) DIV 256
    mod dim). A stand-in for a learned audio encoder with the same
    Spark shape (Arrow batches in, array<float> out), but — unlike the
    byte-histogram stub — computed from the DECODED signal, so a SQL
    oracle can reproduce the vector exactly from first principles and
    the output feeds the similarity operators unchanged (attach ->
    embed -> top-k is the multimodal retrieval pipeline at 100 TB).

    Deliberately RAW integer counts, not unit-normalized: cosine is
    scale-invariant, and small-integer counts are exact in float32 —
    both engines then score identical values and the rounded ranking
    can never diverge on a normalization ulp."""

    from dht11_data_pipeline_spark.functions.audiocodec import decode_wav

    def _row(doc_id, payload):
        _, _, samples = decode_wav(payload)
        arr = np.abs(np.asarray(samples, dtype=np.int64)) // 256 % dim
        yield doc_id, np.bincount(arr, minlength=dim).astype("float32")

    return map_rows(binary_df.select("doc_id", "payload"), _row,
                    AUDIO_EMBED_SCHEMA)


PHASH_SCHEMA = ("doc_id bigint, width int, height int, "
                "phash_hi bigint, phash_lo bigint")


def phash_payloads(binary_df: DataFrame, hash_w: int = 8,
                   hash_h: int = 8) -> DataFrame:
    """Perceptual average-hash (aHash) over the image column — the
    image-dedup primitive: decode → NN-resample to ``hash_w``×``hash_h``
    → integer grayscale ((r+g+b) DIV 3) → threshold each cell against
    the integer mean (>=) → 64 bits packed little-endian into TWO
    32-bit halves (phash_hi = bits 0..31, phash_lo = bits 32..63; the
    split keeps both values positive in any engine's signed int64).

    Identical images hash equal; near-identical ones land within a few
    Hamming bits — group on (hi, lo) for exact perceptual dedup, or
    feed the 64 bits through the simhash pigeonhole join
    (operators/dedup.simhash) for banded Hamming-distance pairing.
    One Arrow pass, partitions independent — the 100 TB shape. All
    arithmetic is integer (floor division everywhere), so the SQL
    oracle reproduces the hash bit-for-bit from the synthesis rule.
    """

    n_cells = hash_w * hash_h
    if n_cells < 1 or n_cells > 64:
        raise ValueError(
            f"hash_w*hash_h must be in 1..64 (two signed-int32-safe "
            f"halves); got {hash_w}x{hash_h}={n_cells}"
        )
    # bits [0, split) pack into phash_hi, bits [split, n_cells) into
    # phash_lo — derived from n_cells, not hardcoded to an 8x8 grid.
    split = min(32, n_cells)

    from dht11_data_pipeline_spark.functions.imagecodec import (
        decode_ppm, resize_nn_ppm)

    def _row(doc_id, payload):
        w, h, _ = decode_ppm(payload)
        _, _, rgb = decode_ppm(resize_nn_ppm(payload, hash_w, hash_h))
        gs = [(rgb[3 * i] + rgb[3 * i + 1] + rgb[3 * i + 2]) // 3
              for i in range(n_cells)]
        mean = sum(gs) // n_cells
        hi = sum(1 << k for k in range(split) if gs[k] >= mean)
        lo = sum(1 << (k - split) for k in range(split, n_cells)
                 if gs[k] >= mean)
        yield doc_id, w, h, hi, lo

    return map_rows(binary_df.select("doc_id", "payload"), _row,
                    PHASH_SCHEMA)


AUDIO_FP_SCHEMA = "doc_id bigint, n_frames int, fp_hi bigint, fp_lo bigint"


def audio_fingerprint(binary_df: DataFrame, frame_len: int = 8,
                      n_bits: int = 64) -> DataFrame:
    """Energy-delta acoustic fingerprint over the WAV column — the
    audio twin of ``phash_payloads`` (chromaprint-style, minus the
    DFT): decode → split into ``frame_len``-sample frames → integer
    frame energy Σ s² → bit k set iff E(k+1) > E(k), packed into two
    positive 32-bit halves. Energy DELTAS (not levels) make the bits
    volume-invariant up to scaling and engine-exact — every quantity
    is an integer, so the SQL oracle replays the fingerprint
    bit-for-bit from the synthesis rule.

    Partial trailing frames are dropped (only full frames count);
    docs with < 2 full frames emit an all-zero fingerprint. One Arrow
    pass, partitions independent — the 100 TB shape. Hamming pairing
    downstream should BLOCK on n_frames (duration) — see
    mm_audio_near_dup — so sparse short fingerprints can't spuriously
    collide."""
    n_cells = n_bits
    if not 1 <= n_cells <= 64:
        raise ValueError(f"n_bits must be in 1..64; got {n_bits}")
    split = min(32, n_cells)

    from dht11_data_pipeline_spark.functions.audiocodec import decode_wav

    def _row(doc_id, payload):
        _, _, samples = decode_wav(payload)
        nf = len(samples) // frame_len
        e = [sum(s * s for s in samples[f * frame_len:(f + 1) * frame_len])
             for f in range(nf)]
        ks = [k for k in range(min(n_cells, nf - 1)) if e[k + 1] > e[k]]
        yield (doc_id, nf, sum(1 << k for k in ks if k < split),
               sum(1 << (k - split) for k in ks if k >= split))

    return map_rows(binary_df.select("doc_id", "payload"), _row,
                    AUDIO_FP_SCHEMA)


GIF_ROUNDTRIP_SCHEMA = ("doc_id bigint, width int, height int, "
                        "pixel_sum bigint, n_mismatch int")


def gif_roundtrip(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", width: int = 64) -> DataFrame:
    """REAL LZW-compressed-format decode, no stub: each document's
    bytes become one palette-indexed pixel of a spec-conformant GIF87a
    (functions/gifcodec.text_to_gif — actual variable-width LZW with
    dictionary growth, width bumps, and 4096-CLEAR resets), which is
    then container-walked and LZW-decompressed back.  GIF is lossless
    over indices, so pixel_sum replays the byte sum exactly and
    n_mismatch pins the roundtrip at 0 — one wrong code width anywhere
    scrambles every later pixel, so the value hash is real evidence
    the compressor AND decompressor are correct.  One Arrow pass; the
    GIF bytes never leave the executor batch."""
    from dht11_data_pipeline_spark.functions.gifcodec import (
        decode_gif_gray, text_to_gif)

    def _row(doc_id, text):
        raw = text.encode("utf-8")
        w, h, gray = decode_gif_gray(text_to_gif(raw, width))
        yield (doc_id, w, h, sum(gray),
               sum(1 for a, b in zip(gray, raw) if a != b)
               + sum(1 for b in gray[len(raw):] if b != 0))

    return map_rows(right_size(df.select(F.col(id_col), F.col(text_col))),
                    _row, GIF_ROUNDTRIP_SCHEMA)


QOI_ROUNDTRIP_SCHEMA = ("doc_id bigint, width int, height int, "
                        "pixel_sum bigint, n_mismatch int")


def qoi_roundtrip(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", width: int = 64) -> DataFrame:
    """REAL compressed-format decode #3 (QOI, functions/qoicodec):
    each document's bytes become one grayscale RGB pixel of a
    spec-conformant QOI stream (real run/index/diff/luma op encoding
    with the 64-slot rolling hash table), which is then fully decoded
    back.  QOI is lossless, so pixel_sum replays 3x the byte sum
    exactly (r=g=b; zero padding adds nothing) and n_mismatch pins
    the roundtrip at 0 — one wrong hash slot or run length
    desynchronizes the index table and scrambles every later INDEX
    op, so the value hash certifies the whole state machine.  One
    Arrow pass; the QOI bytes never leave the executor batch."""
    from dht11_data_pipeline_spark.functions.qoicodec import (
        decode_qoi_gray, text_to_qoi)

    def _row(doc_id, text):
        raw = text.encode("utf-8")
        w, h, gray = decode_qoi_gray(text_to_qoi(raw, width))
        yield (doc_id, w, h, 3 * sum(gray),
               sum(1 for a, b in zip(gray, raw) if a != b)
               + sum(1 for b in gray[len(raw):] if b != 0))

    return map_rows(right_size(df.select(F.col(id_col), F.col(text_col))),
                    _row, QOI_ROUNDTRIP_SCHEMA)
