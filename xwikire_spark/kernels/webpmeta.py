"""WebP container-layer metadata: RIFF chunk walking, VP8/VP8L/VP8X
header parsing, animation frame counting — the indexing tier for the
image format whose PIXEL decode is a documented permanent skip (a
from-memory VP8/VP8L entropy decoder validated only by its own encoder
has no external validity; production routes through PIL/libvips).

The CONTAINER layer, by contrast, is fully checkable by construction:

- RIFF framing: "RIFF" + little-endian size + "WEBP", chunks padded to
  even length;
- lossy "VP8 " dimensions live in the keyframe uncompressed header:
  3-byte frame tag, 3-byte start code 9D 01 2A, then 14-bit width and
  height (2 bytes LE each, top 2 bits = scaling hints) — published in
  RFC 6386 §9.1;
- lossless "VP8L" dimensions: 1-byte signature 0x2F then a 32-bit LE
  word holding width-1 (14 bits), height-1 (14 bits), alpha-is-used
  (1 bit), version (3 bits, must be 0);
- extended "VP8X": 1 feature-flags byte (ICC/alpha/EXIF/XMP/animation),
  3 reserved bytes, canvas width-1 and height-1 as 24-bit LE fields;
  ANMF chunks carry the animation frames.

Tests hand-pack each variant with an INDEPENDENT bit layout derivation,
so the parser and the packer cross-check (the mp3meta/aacmeta pattern).

Reference parity note: the reference pipeline (SasCezar/XWikiRE) has no
media handling; this module serves the media tier of the 100 TB
training-data story.
"""

from __future__ import annotations

import struct


def sniff_webp(payload: bytes) -> bool:
    """RIFF/WEBP magic with a known first chunk fourcc."""
    return (
        len(payload) >= 16
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WEBP"
        and payload[12:16] in (b"VP8 ", b"VP8L", b"VP8X")
    )


def _chunks(payload: bytes):
    """Yield (fourcc, data) for every RIFF sub-chunk; ValueError on a
    chunk that overruns the container (truncated file)."""
    riff_end = min(len(payload), 8 + struct.unpack("<I", payload[4:8])[0])
    off = 12
    while off + 8 <= riff_end:
        fourcc = payload[off:off + 8][:4]
        size = struct.unpack("<I", payload[off + 4:off + 8])[0]
        data = payload[off + 8:off + 8 + size]
        if len(data) < size:
            raise ValueError(
                f"chunk {fourcc!r} overruns container at byte {off}"
            )
        yield fourcc, data
        off += 8 + size + (size & 1)  # chunks pad to even length


def _vp8_dims(data: bytes) -> tuple[int, int]:
    """Lossy bitstream (RFC 6386 §9.1): dimensions are only present in
    keyframes, which every still and every first animation frame is."""
    if len(data) < 10:
        raise ValueError("VP8 chunk too short for a keyframe header")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    if tag & 1:
        raise ValueError("VP8 chunk is an interframe (no dimensions)")
    if data[3:6] != b"\x9d\x01\x2a":
        raise ValueError("bad VP8 keyframe start code")
    w = struct.unpack("<H", data[6:8])[0]
    h = struct.unpack("<H", data[8:10])[0]
    return w & 0x3FFF, h & 0x3FFF


def _vp8l_dims(data: bytes) -> tuple[int, int, bool]:
    if len(data) < 5 or data[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    bits = struct.unpack("<I", data[1:5])[0]
    if (bits >> 29) & 7 != 0:
        raise ValueError("unsupported VP8L version")
    w = (bits & 0x3FFF) + 1
    h = ((bits >> 14) & 0x3FFF) + 1
    alpha = bool((bits >> 28) & 1)
    return w, h, alpha


def webp_info(payload: bytes) -> dict:
    """Container metadata: {variant, width, height, alpha, animation,
    n_frames, icc, exif, xmp}. Raises ValueError on malformed or
    truncated containers (the F5 quarantine contract)."""
    if not sniff_webp(payload):
        raise ValueError("not a WebP container")
    first = payload[12:16]
    info = {
        "variant": {b"VP8 ": "lossy", b"VP8L": "lossless",
                    b"VP8X": "extended"}[first],
        "width": None,
        "height": None,
        "alpha": False,
        "animation": False,
        "n_frames": 0,
        "icc": False,
        "exif": False,
        "xmp": False,
    }
    for fourcc, data in _chunks(payload):
        if fourcc == b"VP8X":
            if len(data) < 10:
                raise ValueError("VP8X chunk too short")
            flags = data[0]
            info["icc"] = bool(flags & 0x20)
            info["alpha"] = bool(flags & 0x10)
            info["exif"] = bool(flags & 0x08)
            info["xmp"] = bool(flags & 0x04)
            info["animation"] = bool(flags & 0x02)
            info["width"] = (
                data[4] | (data[5] << 8) | (data[6] << 16)
            ) + 1
            info["height"] = (
                data[7] | (data[8] << 8) | (data[9] << 16)
            ) + 1
        elif fourcc == b"VP8 ":
            info["n_frames"] += 1
            if info["width"] is None:
                info["width"], info["height"] = _vp8_dims(data)
        elif fourcc == b"VP8L":
            info["n_frames"] += 1
            if info["width"] is None:
                w, h, alpha = _vp8l_dims(data)
                info["width"], info["height"] = w, h
                info["alpha"] = info["alpha"] or alpha
        elif fourcc == b"ANMF":
            info["n_frames"] += 1
        elif fourcc == b"ALPH":
            info["alpha"] = True
    if info["width"] is None:
        raise ValueError("no dimension-bearing chunk in container")
    if info["n_frames"] == 0:
        raise ValueError("no image data chunk in container")
    return info


def decode_webp(payload: bytes):
    """Pixel decode is a DOCUMENTED PERMANENT SKIP (module docstring):
    production routes through PIL/libvips at this seam."""
    raise NotImplementedError(
        "WebP pixel decode needs PIL/libvips in production; container "
        "metadata is available via webp_info()"
    )
