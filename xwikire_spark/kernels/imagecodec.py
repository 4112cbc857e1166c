"""Dependency-free image codecs: PNG (zlib DEFLATE, filters 0-4), binary
PPM, and GIF87a/89a (via ``kernels/gifcodec.py`` — full LZW, interlace).

Closes the round-2 "image decode honestly stubbed" gap for the formats
decodable without PIL/libvips: PNG is zlib + per-scanline filters, PPM a
header + raw bytes, and GIF is implemented outright in gifcodec. Every
other format (JPEG, WebP, video frames) raises NotImplementedError (swap
in libvips/ffmpeg in production; the Spark-side plumbing is
format-agnostic).

Scope (deliberately small, fully tested): 8-bit depth; PNG color types
0 (gray), 2 (RGB), 3 (palette via PLTE, opaque or tRNS-alpha), 4
(gray+alpha), 6 (RGBA); Adam7 interlace for every supported color type.
Decoded form: (width, height, channels, pixels) with ``pixels`` a flat
``bytearray`` of row-major samples — cheap to slice into Arrow buffers and
dependency-free.
"""

from __future__ import annotations

import struct
import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def sniff_format(payload: bytes) -> str | None:
    """'png' | 'ppm' | 'gif' | None for anything else."""
    if payload.startswith(_PNG_SIG):
        return "png"
    if payload.startswith(b"P6"):
        return "ppm"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    return None


# --- PNG ---------------------------------------------------------------------


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


# Adam7 pass geometry: (x0, y0, dx, dy) per pass — the published PNG
# interlace grid (each pass is an independently-filtered sub-image)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _unfilter(raw: bytes, width: int, height: int, channels: int) -> bytearray:
    """Reverse per-scanline filters 0-4 over one (sub-)image."""
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG size mismatch")
    out = bytearray(stride * height)
    for y in range(height):
        fbyte = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        o = y * stride
        if fbyte == 0:  # None
            out[o : o + stride] = line
        elif fbyte == 1:  # Sub
            for i, v in enumerate(line):
                left = out[o + i - channels] if i >= channels else 0
                out[o + i] = (v + left) & 0xFF
        elif fbyte == 2:  # Up
            if y == 0:
                out[o : o + stride] = line
            else:
                for i, v in enumerate(line):
                    out[o + i] = (v + out[o + i - stride]) & 0xFF
        elif fbyte == 3:  # Average
            for i, v in enumerate(line):
                left = out[o + i - channels] if i >= channels else 0
                up = out[o + i - stride] if y > 0 else 0
                out[o + i] = (v + (left + up) // 2) & 0xFF
        elif fbyte == 4:  # Paeth
            for i, v in enumerate(line):
                left = out[o + i - channels] if i >= channels else 0
                up = out[o + i - stride] if y > 0 else 0
                ul = (
                    out[o + i - stride - channels]
                    if (y > 0 and i >= channels)
                    else 0
                )
                out[o + i] = (v + _paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"PNG filter {fbyte}")
    return out


def _pass_dims(width: int, height: int, p: int) -> tuple[int, int]:
    x0, y0, dx, dy = _ADAM7[p]
    return max(0, (width - x0 + dx - 1) // dx), \
        max(0, (height - y0 + dy - 1) // dy)


def decode_png(payload: bytes) -> tuple[int, int, int, bytearray]:
    """-> (width, height, channels, flat row-major samples)."""
    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    pos = len(_PNG_SIG)
    width = height = None
    channels = 0
    color = interlace = 0
    idat = bytearray()
    plte: bytes | None = None
    trns: bytes | None = None
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if depth != 8:
                raise NotImplementedError(f"PNG bit depth {depth}")
            if color != 3 and color not in _CHANNELS:
                raise NotImplementedError(f"PNG color type {color}")
            if interlace > 1:
                raise ValueError(f"PNG interlace method {interlace}")
            channels = 1 if color == 3 else _CHANNELS[color]
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError("PNG PLTE length not a multiple of 3")
            plte = data
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    if not interlace:
        out = _unfilter(raw, width, height, channels)
    else:  # Adam7: 7 independently-filtered sub-images, scattered back
        out = bytearray(width * height * channels)
        off = 0
        for p, (x0, y0, dx, dy) in enumerate(_ADAM7):
            pw, ph = _pass_dims(width, height, p)
            if pw == 0 or ph == 0:
                continue  # empty pass contributes no scanlines at all
            sub_len = (pw * channels + 1) * ph
            sub = _unfilter(raw[off : off + sub_len], pw, ph, channels)
            off += sub_len
            for sy in range(ph):
                y = y0 + sy * dy
                for sx in range(pw):
                    d = (y * width + (x0 + sx * dx)) * channels
                    s = (sy * pw + sx) * channels
                    out[d : d + channels] = sub[s : s + channels]
        if off != len(raw):
            raise ValueError("PNG size mismatch")
    if color == 3:  # palette expansion (tRNS present -> RGBA, else RGB)
        if plte is None:
            raise ValueError("PNG color type 3 missing PLTE")
        n_pal = len(plte) // 3
        och = 4 if trns is not None else 3
        alpha = trns or b""
        rgb = bytearray(width * height * och)
        for i, idx in enumerate(out):
            if idx >= n_pal:
                raise ValueError("PNG palette index out of range")
            d = i * och
            rgb[d : d + 3] = plte[idx * 3 : idx * 3 + 3]
            if och == 4:
                rgb[d + 3] = alpha[idx] if idx < len(alpha) else 255
        return width, height, och, rgb
    return width, height, channels, out


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_scanlines(
    width: int,
    height: int,
    channels: int,
    pixels: bytes | bytearray,
    interlace: bool,
) -> bytes:
    """Filter-0 scanline stream: sequential, or the 7 Adam7 sub-images
    (each pass gathered from the full image, empty passes omitted)."""
    stride = width * channels
    raw = bytearray()
    if not interlace:
        for y in range(height):
            raw.append(0)
            raw.extend(pixels[y * stride : (y + 1) * stride])
        return bytes(raw)
    for p, (x0, y0, dx, dy) in enumerate(_ADAM7):
        pw, ph = _pass_dims(width, height, p)
        if pw == 0 or ph == 0:
            continue
        for sy in range(ph):
            raw.append(0)
            y = y0 + sy * dy
            for sx in range(pw):
                s = (y * width + (x0 + sx * dx)) * channels
                raw.extend(pixels[s : s + channels])
    return bytes(raw)


def encode_png(
    width: int,
    height: int,
    channels: int,
    pixels: bytes | bytearray,
    interlace: bool = False,
) -> bytes:
    """Filter-0 PNG encoder (valid, unoptimized); optional Adam7."""
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, color, 0, 0, 1 if interlace else 0
    )
    raw = _png_scanlines(width, height, channels, pixels, interlace)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_palette(
    width: int,
    height: int,
    pixels: bytes | bytearray,
    interlace: bool = False,
    trns: dict[tuple[int, int, int], int] | None = None,
) -> bytes:
    """Color-type-3 PNG writer from RGB pixels (<=256 distinct colors;
    test-vector source for the PLTE/tRNS/Adam7 decode paths). ``trns``
    optionally maps an RGB color to its alpha (a tRNS chunk is emitted
    covering entries up to the last non-opaque one)."""
    colors: dict[bytes, int] = {}
    idx = bytearray()
    for i in range(width * height):
        c = bytes(pixels[i * 3 : i * 3 + 3])
        if c not in colors:
            if len(colors) == 256:
                raise ValueError("palette PNG needs <=256 distinct colors")
            colors[c] = len(colors)
        idx.append(colors[c])
    plte = b"".join(colors)
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, 3, 0, 0, 1 if interlace else 0
    )
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"PLTE", plte)
    if trns:
        alphas = [
            trns.get(tuple(c), 255) for c in colors  # keyed by RGB tuple
        ]
        while alphas and alphas[-1] == 255:
            alphas.pop()  # tRNS may be shorter than PLTE; tail is opaque
        out += _png_chunk(b"tRNS", bytes(alphas))
    raw = _png_scanlines(width, height, 1, idx, interlace)
    return (
        out
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


# --- PPM (P6, maxval 255) ----------------------------------------------------


def decode_ppm(payload: bytes) -> tuple[int, int, int, bytearray]:
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM")
    # header: P6 <ws> width <ws> height <ws> maxval <single ws> data
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment to EOL
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        fields.append(int(payload[i:j]))
        i = j
    i += 1  # the single whitespace after maxval
    width, height, maxval = fields
    if maxval != 255:
        raise NotImplementedError(f"PPM maxval {maxval}")
    need = width * height * 3
    data = payload[i : i + need]
    if len(data) != need:
        raise ValueError("PPM truncated")
    return width, height, 3, bytearray(data)


def encode_ppm(width: int, height: int, pixels: bytes | bytearray) -> bytes:
    return b"P6\n%d %d\n255\n" % (width, height) + bytes(pixels)


# --- ops over decoded pixels -------------------------------------------------


def decode_image(payload: bytes) -> tuple[int, int, int, bytearray]:
    fmt = sniff_format(payload)
    if fmt == "png":
        return decode_png(payload)
    if fmt == "ppm":
        return decode_ppm(payload)
    if fmt == "gif":
        from xwikire_spark.kernels.gifcodec import decode_gif

        return decode_gif(payload)
    raise NotImplementedError(
        "only PNG/PPM/GIF decode in-container; other codecs "
        "(JPEG/WebP/video frames) need PIL/libvips in production"
    )


def encode_image(
    fmt: str | None,
    width: int,
    height: int,
    channels: int,
    pixels: bytes | bytearray,
) -> bytes:
    """Family-preserving re-encode: ppm stays ppm, gif stays gif
    (nearest-resized GIF pixels are a palette subset, so <=256 colors is
    guaranteed; >256 falls back to PNG), everything else becomes PNG
    (lossless container for any channel count)."""
    if fmt == "ppm" and channels == 3:
        return encode_ppm(width, height, pixels)
    if fmt == "gif" and channels == 3:
        from xwikire_spark.kernels.gifcodec import encode_gif

        try:
            return encode_gif(width, height, pixels)
        except ValueError:  # >256 distinct colors (non-GIF-origin pixels)
            pass
    return encode_png(width, height, channels, pixels)


def resize_nearest(
    width: int,
    height: int,
    channels: int,
    pixels: bytes | bytearray,
    new_w: int,
    new_h: int,
) -> bytearray:
    """Nearest-neighbor resample (deterministic, dependency-free)."""
    out = bytearray(new_w * new_h * channels)
    for y in range(new_h):
        sy = min(y * height // new_h, height - 1)
        src_row = sy * width * channels
        dst_row = y * new_w * channels
        for x in range(new_w):
            sx = min(x * width // new_w, width - 1)
            s = src_row + sx * channels
            d = dst_row + x * channels
            out[d : d + channels] = pixels[s : s + channels]
    return out


def channel_stats(
    width: int, height: int, channels: int, pixels: bytes | bytearray
) -> list[float]:
    """8 deterministic features: w, h, c, then per-channel means (padded to
    4 with 0.0), global min — a fixed-length real-decode feature vector."""
    n = width * height
    means = []
    for c in range(channels):
        means.append(sum(pixels[c::channels]) / max(n, 1))
    means += [0.0] * (4 - len(means))
    return [
        float(width),
        float(height),
        float(channels),
        *[round(m, 4) for m in means[:4]],
        float(min(pixels) if pixels else 0),
    ]
