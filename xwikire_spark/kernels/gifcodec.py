"""GIF87a/89a decoder (pure stdlib) + a minimal encoder for test vectors.

Extends the dependency-free real-decode family (imagecodec/wavcodec):
GIF is the remaining common still-image format in scraped web corpora.
Scope:

- decode: full LZW (growing codes to 12 bits, CLEAR/EOI), global and
  local color tables, interlaced and non-interlaced, extensions skipped
  (for animated GIFs this decodes the FIRST frame composed onto the
  logical screen, which is the training-data-relevant still). Transparency
  index is ignored (features want pixels, not alpha).
- encode: valid GIF87a writer using the classic uncompressed-LZW trick
  (emit a CLEAR code before the string table can grow past the initial
  width) — test-vector source and re-encode path; optional interlace to
  exercise the decoder's de-interlacer.

Decoded form matches imagecodec: (width, height, 3, flat RGB bytearray).
"""

from __future__ import annotations

import struct


def sniff_gif(payload: bytes) -> bool:
    return payload[:6] in (b"GIF87a", b"GIF89a")


class _BitStream:
    """LSB-first bit reader over concatenated GIF data sub-blocks."""

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def read(self, k: int) -> int:
        while self.n < k:
            if self.pos >= len(self.d):
                raise ValueError("GIF LZW stream truncated")
            self.acc |= self.d[self.pos] << self.n
            self.n += 8
            self.pos += 1
        v = self.acc & ((1 << k) - 1)
        self.acc >>= k
        self.n -= k
        return v


def _sub_blocks(payload: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(payload):
            raise ValueError("truncated GIF: sub-block chain runs off end")
        size = payload[pos]
        pos += 1
        if size == 0:
            return bytes(out), pos
        if pos + size > len(payload):
            raise ValueError("truncated GIF: short data sub-block")
        out += payload[pos : pos + size]
        pos += size


_INTERLACE_PASSES = [(0, 8), (4, 8), (2, 4), (1, 2)]


def _lzw_decode(data: bytes, min_code: int, n_pixels: int) -> bytearray:
    clear = 1 << min_code
    eoi = clear + 1
    bits = _BitStream(data)
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code + 1

    width = min_code + 1
    reset()
    prev: bytes | None = None
    while len(out) < n_pixels:
        code = bits.read(width)
        if code == clear:
            reset()
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
            if prev is not None:
                table.append(prev + entry[:1])
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt GIF LZW code")
        out += entry
        prev = entry
        if len(table) >= (1 << width) and width < 12:
            width += 1
    return out[:n_pixels]


def _need(payload: bytes, pos: int, n: int) -> None:
    if pos + n > len(payload):
        raise ValueError("truncated GIF: header/table runs off end")


def decode_gif(payload: bytes) -> tuple[int, int, int, bytearray]:
    """-> (width, height, 3, flat RGB samples) — first frame, composed
    onto the logical screen (background-filled)."""
    if not sniff_gif(payload):
        raise ValueError("not a GIF")
    _need(payload, 6, 7)
    sw, sh, flags, bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 ** ((flags & 7) + 1)
        _need(payload, pos, 3 * n)
        gct = payload[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        pos += 1
        if b == 0x21:  # extension: label + sub-blocks, all skipped
            pos += 1
            _, pos = _sub_blocks(payload, pos)
        elif b == 0x2C:  # image descriptor — decode this (first) frame
            _need(payload, pos, 9)
            left, top, w, h, iflags = struct.unpack(
                "<HHHHB", payload[pos : pos + 9]
            )
            pos += 9
            table = gct
            if iflags & 0x80:  # local color table
                n = 2 ** ((iflags & 7) + 1)
                _need(payload, pos, 3 * n)
                table = payload[pos : pos + 3 * n]
                pos += 3 * n
            if table is None:
                raise ValueError("GIF image with no color table")
            _need(payload, pos, 1)
            min_code = payload[pos]
            pos += 1
            data, pos = _sub_blocks(payload, pos)
            idx = _lzw_decode(data, min_code, w * h)
            if len(idx) < w * h:
                # EOI (or stream end) arrived before w*h pixels decoded —
                # malformed input must surface as ValueError, not a raw
                # IndexError from the compositing loops below
                raise ValueError("truncated GIF: LZW ended early")
            if iflags & 0x40:  # interlaced: rows arrive in 4 passes
                rows = bytearray(w * h)
                src = 0
                for start, step in _INTERLACE_PASSES:
                    for y in range(start, h, step):
                        rows[y * w : (y + 1) * w] = idx[src : src + w]
                        src += w
                idx = rows
            # compose onto the background-filled logical screen
            out = bytearray(sw * sh * 3)
            bg_rgb = (
                table[3 * bg : 3 * bg + 3] if 3 * bg + 3 <= len(table)
                else b"\x00\x00\x00"
            )
            for i in range(sw * sh):
                out[3 * i : 3 * i + 3] = bg_rgb
            for y in range(h):
                if not 0 <= top + y < sh:
                    continue
                for x in range(w):
                    if not 0 <= left + x < sw:
                        continue
                    c = idx[y * w + x]
                    o = 3 * ((top + y) * sw + (left + x))
                    out[o : o + 3] = table[3 * c : 3 * c + 3]
            return sw, sh, 3, out
        elif b == 0x3B:  # trailer
            break
    raise ValueError("GIF has no image data")


def encode_gif(
    width: int,
    height: int,
    pixels: bytes | bytearray,
    interlace: bool = False,
) -> bytes:
    """Valid GIF87a from RGB pixels: palette = the distinct colors (<=256
    required), uncompressed-style LZW (CLEAR before table growth)."""
    colors: dict[bytes, int] = {}
    idx = bytearray()
    for i in range(width * height):
        c = bytes(pixels[3 * i : 3 * i + 3])
        if c not in colors:
            if len(colors) == 256:
                raise ValueError("encode_gif needs <=256 distinct colors")
            colors[c] = len(colors)
        idx.append(colors[c])
    depth = max(2, (len(colors) - 1).bit_length())  # GIF minimum 2
    palette = bytearray()
    for c in sorted(colors, key=colors.get):
        palette += c
    palette += b"\x00" * (3 * (2 ** depth) - len(palette))

    if interlace:
        reordered = bytearray()
        for start, step in _INTERLACE_PASSES:
            for y in range(start, height, step):
                reordered += idx[y * width : (y + 1) * width]
        idx = reordered

    min_code = depth
    clear = 1 << min_code
    eoi = clear + 1
    width_bits = min_code + 1
    acc = n = 0
    stream = bytearray()

    def emit(code: int):
        nonlocal acc, n
        acc |= code << n
        n += width_bits
        while n >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            n -= 8

    emit(clear)
    for i, c in enumerate(idx):
        emit(c)
        # keep the decoder's table from forcing a width change: after
        # clear the table holds clear+2 entries and grows one per code —
        # re-clear before it reaches 2^width_bits
        if (i + 1) % (clear - 2 or 1) == 0:
            emit(clear)
    emit(eoi)
    if n:
        stream.append(acc & 0xFF)

    blocks = bytearray()
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"

    iflags = (0x40 if interlace else 0)
    return (
        b"GIF87a"
        + struct.pack("<HHBBB", width, height, 0x80 | (depth - 1), 0, 0)
        + bytes(palette)
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, iflags)
        + bytes([min_code])
        + bytes(blocks)
        + b"\x3b"
    )
