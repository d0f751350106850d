"""Baseline JPEG (ITU-T T.81) grayscale codec, stdlib + numpy only.

Real codec, no stub: the encoder emits a spec-conformant single-
component baseline JFIF stream (DQT, SOF0, the public Annex-K
luminance Huffman tables, byte-stuffed entropy data) and the decoder
parses an arbitrary such stream back — canonical Huffman decode,
dequantization, de-zigzag, batched float IDCT, level shift, clamp.

Determinism contract (what makes an EXACT differential oracle possible
for a lossy format): FDCT outputs are rounded to the nearest integer
before quantization (the integer-DCT convention), quantization and
reconstruction rounding are both ``floor(x + 0.5)``, and the test
images synthesized by ``text_to_jpeg`` are constant per 8x8 block — a
constant block has only a DC coefficient, so the decoded block value
collapses to the closed form

    rec(u) = clamp(2 * floor((u - 127) / 2) + 128, 0, 255)     (Q_DC=16)

which the DuckDB oracle states directly in SQL.  The decoder itself is
general (it dequantizes and inverse-transforms all 64 coefficients);
the closed form is a property of the INPUT, not a shortcut in the
code — pinned by a non-constant-block roundtrip test against an
independent numpy DCT reference.

Reference repo has no multimodal surface at all; this extends the
image family (imagecodec.py: PPM/PNG) per SURVEY §2 extensions.
"""

from __future__ import annotations

import numpy as np

# uniform quantization table — DC step 16 makes the block-constant
# reconstruction closed form exact (see module docstring); a uniform
# table is spec-legal (any 1..255 per entry)
Q_STEP = 16
QTABLE = np.full(64, Q_STEP, dtype=np.int64)

# zigzag[k] = raster index of the k-th coefficient in zigzag order
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# standard Annex K luminance tables: counts of codes per length 1..16,
# then the symbol values in code order (public spec data)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _dct_matrix() -> np.ndarray:
    j = np.arange(8)
    u = np.arange(8).reshape(-1, 1)
    d = 0.5 * np.cos((2 * j + 1) * u * np.pi / 16)
    d[0] /= np.sqrt(2.0)
    return d


_D = _dct_matrix()


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical Huffman construction."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(DC_BITS, DC_VALS)
_AC_ENC = _canonical_codes(AC_BITS, AC_VALS)


class _HuffTable:
    """Canonical decode tables: mincode/maxcode/valptr per length."""

    def __init__(self, bits: list[int], vals: list[int]):
        self.vals = vals
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code, k = 0, 0
        for length in range(1, 17):
            if bits[length - 1]:
                self.valptr[length] = k
                self.mincode[length] = code
                code += bits[length - 1]
                k += bits[length - 1]
                self.maxcode[length] = code - 1
            code <<= 1


def _marker(tag: int, body: bytes) -> bytes:
    return bytes([0xFF, tag]) + (len(body) + 2).to_bytes(2, "big") + body


def _dht_body(cls: int, ident: int, bits: list[int], vals: list[int]) -> bytes:
    return bytes([(cls << 4) | ident]) + bytes(bits) + bytes(vals)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def put(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nacc += nbits
        while self.nacc >= 8:
            self.nacc -= 8
            byte = (self.acc >> self.nacc) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:        # byte stuffing
                self.out.append(0x00)
        self.acc &= (1 << self.nacc) - 1

    def flush(self) -> bytes:
        if self.nacc:
            pad = 8 - self.nacc
            self.put((1 << pad) - 1, pad)
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """(category, value-bits) per the T.81 DIFF/AC magnitude coding."""
    if v == 0:
        return 0, 0
    s = abs(v).bit_length()
    return s, v if v > 0 else v + (1 << s) - 1


def encode_jpeg_gray(gray: bytes, width: int, height: int) -> bytes:
    """Baseline grayscale JFIF from raw 8-bit pixels (row-major).
    Dimensions must be multiples of 8 (no edge-extension ambiguity —
    the synthesizer below always produces full blocks)."""
    if width % 8 or height % 8 or width == 0 or height == 0:
        raise ValueError(f"dimensions must be positive multiples of 8; "
                         f"got {width}x{height}")
    if len(gray) != width * height:
        raise ValueError(f"pixel length {len(gray)} != {width}x{height}")
    img = np.frombuffer(gray, dtype=np.uint8).reshape(height, width)
    br, bc = height // 8, width // 8
    blocks = (img.reshape(br, 8, bc, 8).transpose(0, 2, 1, 3)
              .reshape(-1, 8, 8).astype(np.float64) - 128.0)
    coeffs = _D @ blocks @ _D.T                 # batched FDCT
    coeffs = np.floor(coeffs + 0.5).astype(np.int64)   # integer-DCT round
    quant = np.floor(coeffs / QTABLE.reshape(8, 8) + 0.5).astype(np.int64)
    zz = quant.reshape(-1, 64)[:, ZIGZAG]       # (nblocks, 64) zigzag order

    w = _BitWriter()
    prev_dc = 0
    has_ac = (zz[:, 1:] != 0).any(axis=1)
    for i in range(zz.shape[0]):
        s, bits = _magnitude(int(zz[i, 0]) - prev_dc)
        prev_dc = int(zz[i, 0])
        code, ln = _DC_ENC[s]
        w.put(code, ln)
        w.put(bits, s)
        if not has_ac[i]:
            code, ln = _AC_ENC[0x00]            # EOB
            w.put(code, ln)
            continue
        run = 0
        last_nz = int(np.nonzero(zz[i])[0][-1])
        for k in range(1, last_nz + 1):
            v = int(zz[i, k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = _AC_ENC[0xF0]        # ZRL
                w.put(code, ln)
                run -= 16
            s, bits = _magnitude(v)
            code, ln = _AC_ENC[(run << 4) | s]
            w.put(code, ln)
            w.put(bits, s)
            run = 0
        if last_nz < 63:
            code, ln = _AC_ENC[0x00]
            w.put(code, ln)

    qt_zz = QTABLE[ZIGZAG]          # DQT stores the table in zigzag order
    head = (b"\xFF\xD8"                                      # SOI
            + _marker(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
            + _marker(0xDB, b"\x00" + bytes(int(x) for x in qt_zz))
            + _marker(0xC0, b"\x08" + height.to_bytes(2, "big")
                      + width.to_bytes(2, "big") + b"\x01\x01\x11\x00")
            + _marker(0xC4, _dht_body(0, 0, DC_BITS, DC_VALS))
            + _marker(0xC4, _dht_body(1, 0, AC_BITS, AC_VALS))
            + _marker(0xDA, b"\x01\x01\x00\x00\x3F\x00"))
    return head + w.flush() + b"\xFF\xD9"


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        end = self.pos + n
        if end > len(self.data) * 8:
            raise ValueError("JPEG entropy stream truncated")
        chunk = int.from_bytes(self.data[self.pos >> 3:(end + 7) >> 3], "big")
        self.pos = end
        return (chunk >> ((((end + 7) >> 3) << 3) - end)) & ((1 << n) - 1)

    def decode(self, table: _HuffTable) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read(1)
            if code <= table.maxcode[length]:
                return table.vals[table.valptr[length] + code
                                  - table.mincode[length]]
        raise ValueError("invalid Huffman code in JPEG stream")


def _extend(v: int, s: int) -> int:
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg_gray(payload: bytes) -> tuple[int, int, bytes]:
    """(width, height, gray bytes) from a baseline grayscale JPEG.
    General T.81 baseline decode for 1-component streams: walks the
    marker segments, builds the canonical Huffman tables from DHT,
    Huffman-decodes every (DC diff, AC RLE) block, dequantizes all 64
    coefficients, batched IDCT, level shift, clamp. Rejects
    progressive / multi-component / 16-bit inputs loudly."""
    if payload[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffTable] = {}
    width = height = None
    comp_qt = 0
    dc_id = ac_id = 0
    scan_start = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"marker expected at offset {pos}")
        tag = payload[pos + 1]
        ln = int.from_bytes(payload[pos + 2:pos + 4], "big")
        body = payload[pos + 4:pos + 2 + ln]
        if tag == 0xDB:                         # DQT
            o = 0
            while o < len(body):
                prec, ident = body[o] >> 4, body[o] & 0x0F
                if prec != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qtables[ident] = np.frombuffer(
                    body[o + 1:o + 65], dtype=np.uint8).astype(np.int64)
                o += 65
        elif tag == 0xC4:                       # DHT
            o = 0
            while o < len(body):
                cls, ident = body[o] >> 4, body[o] & 0x0F
                bits = list(body[o + 1:o + 17])
                n = sum(bits)
                vals = list(body[o + 17:o + 17 + n])
                htables[(cls, ident)] = _HuffTable(bits, vals)
                o += 17 + n
        elif tag == 0xC0:                       # SOF0 baseline
            if body[0] != 8:
                raise ValueError("only 8-bit precision supported")
            height = int.from_bytes(body[1:3], "big")
            width = int.from_bytes(body[3:5], "big")
            if body[5] != 1:
                raise ValueError("only single-component (grayscale) "
                                 "JPEG supported")
            if body[7] != 0x11:
                raise ValueError("subsampled grayscale is malformed")
            comp_qt = body[8]
        elif tag in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                     0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"non-baseline SOF marker 0xFF{tag:02X} "
                             "unsupported")
        elif tag == 0xDA:                       # SOS
            if body[0] != 1:
                raise ValueError("multi-component scan unsupported")
            dc_id, ac_id = body[2] >> 4, body[2] & 0x0F
            scan_start = pos + 2 + ln
            break
        pos += 2 + ln
    if width is None or scan_start is None:
        raise ValueError("JPEG missing SOF0/SOS")
    if width % 8 or height % 8:
        raise ValueError("partial edge blocks unsupported (encoder "
                         "emits full blocks only)")
    # entropy segment runs to the next real marker (FF00 is a stuffed
    # literal FF); destuff before bit reading
    end = scan_start
    while end + 1 < len(payload):
        if payload[end] == 0xFF and payload[end + 1] not in (0x00,):
            break
        end += 1
    entropy = payload[scan_start:end].replace(b"\xFF\x00", b"\xFF")
    qt = qtables[comp_qt]
    dct, act = htables[(0, dc_id)], htables[(1, ac_id)]

    br, bc = height // 8, width // 8
    nblocks = br * bc
    zz = np.zeros((nblocks, 64), dtype=np.int64)
    r = _BitReader(entropy)
    prev_dc = 0
    for i in range(nblocks):
        s = r.decode(dct)
        prev_dc += _extend(r.read(s), s)
        zz[i, 0] = prev_dc
        k = 1
        while k < 64:
            rs = r.decode(act)
            if rs == 0x00:                      # EOB
                break
            run, s = rs >> 4, rs & 0x0F
            if s == 0:
                if run != 15:
                    raise ValueError(f"invalid AC symbol 0x{rs:02X}")
                k += 16                         # ZRL
                continue
            k += run
            if k > 63:
                raise ValueError("AC run overflows block")
            zz[i, k] = _extend(r.read(s), s)
            k += 1

    deq = (zz * qt).astype(np.float64)
    blocks = np.zeros((nblocks, 64), dtype=np.float64)
    blocks[:, ZIGZAG] = deq                     # de-zigzag
    spatial = _D.T @ blocks.reshape(-1, 8, 8) @ _D   # batched IDCT
    pix = np.clip(np.floor(spatial + 128.5), 0, 255).astype(np.uint8)
    img = (pix.reshape(br, bc, 8, 8).transpose(0, 2, 1, 3)
           .reshape(height, width))
    return width, height, img.tobytes()


def text_to_jpeg(raw: bytes, blocks_per_row: int = 8) -> bytes:
    """Deterministic test-image synthesis, JPEG flavor: each payload
    byte becomes one CONSTANT 8x8 block (raster block order, zero-
    padded to full block rows), so every block carries only a DC
    coefficient and the lossy decode has the closed form in the module
    docstring — the trick that lets a lossy codec have an exact SQL
    oracle."""
    n = max(1, len(raw))
    vals = np.zeros(n, dtype=np.uint8)
    vals[:len(raw)] = np.frombuffer(raw, dtype=np.uint8)
    bc = blocks_per_row
    br = -(-n // bc)
    padded = np.zeros(br * bc, dtype=np.uint8)
    padded[:n] = vals
    img = np.repeat(np.repeat(padded.reshape(br, bc), 8, axis=0), 8, axis=1)
    return encode_jpeg_gray(img.tobytes(), bc * 8, br * 8)
