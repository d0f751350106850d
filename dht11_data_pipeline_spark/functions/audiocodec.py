"""Pure-Python WAV (RIFF PCM) codec for the multimodal operators:
encode / decode / nearest-neighbor resample of 16-bit mono PCM.

The container has no librosa/soundfile, but uncompressed RIFF/WAVE is
a fixed-layout header plus raw little-endian samples — simple enough
to implement directly, which turns the audio tier of the multimodal
path from a stub into a real end-to-end pipeline (synthesize ->
decode -> resample -> re-encode), every step verifiable byte-for-byte.
At scale these run inside Arrow ``mapInArrow`` batches
(operators/multimodal.py); they are pure byte transforms with no I/O.

Format (canonical 44-byte header, PCM):
  'RIFF' <filesize-8 u32le> 'WAVE'
  'fmt ' <16 u32le> <format=1 u16le> <channels u16le> <rate u32le>
         <byte_rate u32le> <block_align u16le> <bits u16le>
  'data' <data_size u32le> <samples s16le...>
Decode walks RIFF chunks (so files with extra chunks, e.g. LIST,
still parse) and requires PCM/16-bit.
"""

from __future__ import annotations

import struct


def encode_wav(samples: list[int], rate: int = 8000) -> bytes:
    """Canonical mono 16-bit PCM WAV from integer samples."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav(payload: bytes) -> tuple[int, int, list[int]]:
    """(n_channels, sample_rate, samples) from a mono PCM WAV payload.
    Chunk-walks the RIFF container; raises on non-PCM / non-16-bit /
    non-mono (interleaved frames would silently corrupt duration math
    and channel-mix under sample-and-hold resampling downstream) and
    on chunks whose declared length overruns the payload (a truncated
    file must surface, not quietly decode to fewer samples)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i = 12
    channels = rate = bits = None
    samples: list[int] | None = None
    while i + 8 <= len(payload):
        cid = payload[i:i + 4]
        (clen,) = struct.unpack_from("<I", payload, i + 4)
        if i + 8 + clen > len(payload):
            raise ValueError(
                f"truncated WAV: chunk {cid!r} declares {clen} bytes, "
                f"{len(payload) - i - 8} remain")
        body = payload[i + 8:i + 8 + clen]
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            (bits,) = struct.unpack_from("<H", body, 14)
            if fmt != 1 or bits != 16 or channels != 1:
                raise ValueError(
                    f"unsupported WAV (format={fmt}, bits={bits}, "
                    f"channels={channels}); only mono PCM16 is handled")
        elif cid == b"data":
            samples = list(struct.unpack(f"<{len(body) // 2}h",
                                         body[:len(body) // 2 * 2]))
        i += 8 + clen + (clen & 1)  # RIFF chunks are word-aligned
    if channels is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return channels, rate, samples


def resample_nn_wav(payload: bytes, out_rate: int) -> bytes:
    """Nearest-neighbor (sample-and-hold) resample to ``out_rate``:
    output sample j takes input sample floor(j * in_rate / out_rate).
    n_out = floor(n_in * out_rate / in_rate) — duration preserved to
    one sample."""
    _, rate, samples = decode_wav(payload)
    n_out = len(samples) * out_rate // rate
    out = [samples[j * rate // out_rate] for j in range(n_out)]
    return encode_wav(out, out_rate)


def text_to_wav(text_bytes: bytes, rate: int = 8000) -> bytes:
    """Deterministic audio synthesis for tests/fixtures: byte b maps to
    the 16-bit sample (b - 128) * 256 — mirrors imagecodec.text_to_ppm
    and is reproducible as integer arithmetic in any SQL engine."""
    return encode_wav([(b - 128) * 256 for b in text_bytes], rate)
