"""GIF87a grayscale codec, stdlib only — a REAL LZW compressor and
decompressor, no image library.

The encoder emits a spec-conformant GIF87a stream: header, logical
screen descriptor, a 256-entry grayscale global color table
(palette[i] = (i, i, i)), one image descriptor, and the pixel indices
compressed with actual variable-width LZW — dictionary growth, code
width increases at 2^w boundaries, CLEAR emitted when the table hits
4096, 255-byte sub-block framing. The decoder walks the container and
runs full LZW decompression including the KwKwK self-reference case.

GIF is LOSSLESS over palette indices, so decode(encode(x)) == x for
any byte string — which is what makes an exact differential oracle
possible: ``text_to_gif`` maps each document byte to one pixel index,
and a SQL oracle can state the decoded image's dimensions and pixel
sum directly from the text bytes. The roundtrip equality is REAL
evidence: a single wrong LZW code, width bump, or sub-block boundary
scrambles every later pixel.

Reference repo has no multimodal surface at all; this extends the
image family (imagecodec.py PPM/PNG, jpegcodec.py baseline JPEG)
per SURVEY §2 extensions.
"""

from __future__ import annotations

GIF_WIDTH_DEFAULT = 64

_HEADER = b"GIF87a"
_TRAILER = 0x3B
_IMAGE_SEP = 0x2C


class _BitWriter:
    """LSB-first bit packer (GIF's LZW bit order — opposite of JPEG)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def put(self, code: int, width: int) -> None:
        self.cur |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.cur & 0xFF)
            self.cur >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.cur & 0xFF)
            self.cur = 0
            self.nbits = 0
        return bytes(self.out)


class _BitReader:
    """LSB-first bit reader over the concatenated sub-block payload."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.cur = 0
        self.nbits = 0

    def read(self, width: int) -> int:
        while self.nbits < width:
            if self.pos >= len(self.data):
                raise ValueError("LZW stream truncated")
            self.cur |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.cur & ((1 << width) - 1)
        self.cur >>= width
        self.nbits -= width
        return v


def _lzw_compress(indices: bytes, min_code_size: int) -> bytes:
    """Variable-width LZW per the GIF spec: codes start at
    min_code_size+1 bits, the table starts with 2^min_code_size roots
    plus CLEAR and EOI, grows one entry per emitted code, widens when
    the next code would not fit, and resets via CLEAR at 4096."""
    clear = 1 << min_code_size
    eoi = clear + 1
    w = _BitWriter()

    def fresh() -> tuple[dict, int, int]:
        return ({bytes([i]): i for i in range(clear)}, eoi + 1, min_code_size + 1)

    table, next_code, width = fresh()
    w.put(clear, width)
    buf = b""
    for ch in indices:
        cand = buf + bytes([ch])
        if cand in table:
            buf = cand
            continue
        w.put(table[buf], width)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:
            w.put(clear, width)
            table, next_code, width = fresh()
        buf = bytes([ch])
    if buf:
        w.put(table[buf], width)
        # mirror the decoder: it appends an entry after EVERY data code
        # (bar the first post-clear) and may widen before the next read,
        # so the EOI must be emitted at that widened width — the classic
        # final-code off-by-one that scrambles streams ending exactly on
        # a 2^w boundary
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
    w.put(eoi, width)
    return w.flush()


def _lzw_decompress(data: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    r = _BitReader(data)
    out = bytearray()

    def fresh() -> tuple[list, int]:
        return ([bytes([i]) for i in range(clear)] + [b"", b""],
                min_code_size + 1)

    table, width = fresh()
    prev: bytes | None = None
    while True:
        code = r.read(width)
        if code == clear:
            table, width = fresh()
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"bad LZW code {code}")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
        # widen when the NEXT appended code would overflow the width
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry


def _sub_blocks(payload: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)  # block terminator
    return bytes(out)


def encode_gif_gray(gray: bytes, width: int, height: int) -> bytes:
    """Spec-conformant GIF87a: grayscale palette, one image, real LZW."""
    if len(gray) != width * height:
        raise ValueError("gray buffer does not match dimensions")
    out = bytearray(_HEADER)
    # logical screen descriptor: global color table, 8 bits/channel,
    # 256 entries
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out.append(0b10000111 | (7 << 4))  # GCT flag, color res 8, size 2^8
    out.append(0)  # background color index
    out.append(0)  # no aspect ratio
    for i in range(256):  # grayscale global color table
        out += bytes([i, i, i])
    out.append(_IMAGE_SEP)
    out += (0).to_bytes(2, "little") + (0).to_bytes(2, "little")
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out.append(0)  # no local color table, not interlaced
    min_code_size = 8
    out.append(min_code_size)
    out += _sub_blocks(_lzw_compress(gray, min_code_size))
    out.append(_TRAILER)
    return bytes(out)


def decode_gif_gray(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a grayscale GIF87a/89a stream: returns (width, height,
    gray bytes) where gray = palette red channel per pixel."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF stream")
    pos = 6
    sw = int.from_bytes(payload[pos:pos + 2], "little")
    sh = int.from_bytes(payload[pos + 2:pos + 4], "little")
    packed = payload[pos + 4]
    pos += 7
    palette = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        palette = payload[pos:pos + 3 * n]
        pos += 3 * n
    while pos < len(payload):
        tag = payload[pos]
        pos += 1
        if tag == _TRAILER:
            break
        if tag == 0x21:  # extension: skip label + sub-blocks
            pos += 1
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if tag != _IMAGE_SEP:
            raise ValueError(f"unexpected block 0x{tag:02x}")
        iw = int.from_bytes(payload[pos + 4:pos + 6], "little")
        ih = int.from_bytes(payload[pos + 6:pos + 8], "little")
        ipacked = payload[pos + 8]
        pos += 9
        pal = palette
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = payload[pos:pos + 3 * n]
            pos += 3 * n
        if pal is None:
            raise ValueError("no color table")
        min_code_size = payload[pos]
        pos += 1
        lzw = bytearray()
        while payload[pos]:
            ln = payload[pos]
            lzw += payload[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        indices = _lzw_decompress(bytes(lzw), min_code_size)
        if len(indices) != iw * ih:
            raise ValueError("pixel count mismatch")
        gray = bytes(pal[3 * i] for i in indices)
        return iw, ih, gray
    raise ValueError("no image block")
    # (sw/sh intentionally unused beyond parsing: the image descriptor
    # dimensions are authoritative for the single-image streams here)


def text_to_gif(raw: bytes, width: int = GIF_WIDTH_DEFAULT) -> bytes:
    """One pixel per document byte (row-major, zero-padded final row):
    GIF's palette-index pixels make this LOSSLESS, so the decoded
    image replays the bytes exactly — the differential oracle states
    dimensions and pixel sums straight from the text."""
    height = max(1, (len(raw) + width - 1) // width)
    padded = raw + bytes(width * height - len(raw))
    return encode_gif_gray(padded, width, height)
