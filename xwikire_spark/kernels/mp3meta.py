"""MPEG audio (MP3) frame-layer metadata: sync walking, header parsing,
ID3v2 skipping, Xing/Info VBR detection — the indexing tier a
training-data pipeline needs (duration / bitrate / channel stats over a
binary audio column) WITHOUT a sample decoder.

Why full Layer III decode is PERMANENTLY out of scope here (the WebP
argument, adopted for MP3 in round 6 — see COVERAGE.md):

- MP3 is LOSSY and carries no in-container checksum of the decoded
  samples (FLAC's MD5 is what made a from-scratch FLAC decoder
  externally validatable; MP3's optional CRC-16 covers header/side-info
  bytes, not output audio).
- a correct decoder needs the ISO/IEC 11172-3 Huffman code tables,
  scalefactor band tables, and synthesis-filterbank windows verbatim;
  reproducing hundreds of table entries from memory and then "validating"
  them against an encoder built from the same memory proves nothing.
- production swaps in ffmpeg/libsndfile; decode attempts raise
  NotImplementedError, exactly like WebP.

The FRAME LAYER, by contrast, is a 4-byte header with small public
tables (sync, version, layer, bitrate index, sample-rate index,
padding, channel mode) and an arithmetic frame-length formula — fully
checkable by construction: ``mp3_info`` must walk a stream of
synthesized frames to the exact frame count, reject desynced bytes, and
agree with the header fields round-tripped through an independent
hand-packed writer in the tests.

Reference parity note: the reference pipeline (SasCezar/XWikiRE) has no
media handling at all; this module serves the media tier of the
100 TB training-data story, not reference parity.
"""

from __future__ import annotations

import struct

# bitrate tables in kbps, indexed [version_group][layer][bitrate_index];
# index 0 = "free format" (unsupported here), 15 = invalid
_BITRATES_V1 = {
    1: (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    2: (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    3: (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
}
_BITRATES_V2 = {
    1: (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    2: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    3: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_RATES = {  # Hz by version; index 3 reserved
    "1": (44100, 48000, 32000),
    "2": (22050, 24000, 16000),
    "2.5": (11025, 12000, 8000),
}


def id3v2_size(payload: bytes) -> int:
    """Bytes to skip for a leading ID3v2 tag (0 if none): 10-byte header
    with a 28-bit syncsafe size, +10 when the footer flag is set."""
    if payload[:3] != b"ID3" or len(payload) < 10:
        return 0
    flags = payload[5]
    ss = payload[6:10]
    if any(b & 0x80 for b in ss):
        return 0  # not syncsafe -> not a valid ID3v2 header
    size = (ss[0] << 21) | (ss[1] << 14) | (ss[2] << 7) | ss[3]
    return 10 + size + (10 if flags & 0x10 else 0)


def parse_frame_header(b: bytes, off: int = 0) -> dict | None:
    """Decode one 4-byte MPEG audio frame header at ``off``; None when
    the bytes are not a supportable frame (no sync, reserved fields,
    free-format bitrate)."""
    if off + 4 > len(b):
        return None
    h0, h1, h2, h3 = b[off], b[off + 1], b[off + 2], b[off + 3]
    if h0 != 0xFF or (h1 & 0xE0) != 0xE0:
        return None
    vbits = (h1 >> 3) & 3
    version = {0: "2.5", 2: "2", 3: "1"}.get(vbits)
    layer = {1: 3, 2: 2, 3: 1}.get((h1 >> 1) & 3)  # bits -> layer number
    if version is None or layer is None:
        return None
    br_idx = (h2 >> 4) & 0xF
    sr_idx = (h2 >> 2) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None
    table = _BITRATES_V1 if version == "1" else _BITRATES_V2
    bitrate = table[layer][br_idx] * 1000
    rate = _RATES[version][sr_idx]
    padding = (h2 >> 1) & 1
    mode = (h3 >> 6) & 3
    channels = 1 if mode == 3 else 2
    if layer == 1:
        frame_len = (12 * bitrate // rate + padding) * 4
        spf = 384
    else:
        spf = 1152 if (layer == 2 or version == "1") else 576
        frame_len = spf * (bitrate // 8) // rate + padding
    return {
        "version": version,
        "layer": layer,
        "bitrate": bitrate,
        "sample_rate": rate,
        "channels": channels,
        "padding": padding,
        "crc": not (h1 & 1),
        "frame_len": frame_len,
        "samples_per_frame": spf,
    }


def sniff_mp3(payload: bytes) -> bool:
    """ID3v2-tagged or bare MPEG audio: a parseable frame header at the
    post-tag offset whose predicted length lands on EOF or another sync
    (one-lookahead guard against random 0xFFEx bytes)."""
    off = id3v2_size(payload)
    h = parse_frame_header(payload, off)
    if h is None:
        return False
    nxt = off + h["frame_len"]
    return nxt >= len(payload) or parse_frame_header(payload, nxt) is not None


def _xing_frames(payload: bytes, off: int, h: dict) -> int | None:
    """Frame count from a Xing/Info VBR header in the first frame, if
    present (offset = 4-byte header [+2 CRC] + Layer III side info:
    MPEG1 17/32 bytes mono/stereo, MPEG2(.5) 9/17)."""
    if h["layer"] != 3:
        return None
    side = (17 if h["channels"] == 1 else 32) if h["version"] == "1" \
        else (9 if h["channels"] == 1 else 17)
    p = off + 4 + (2 if h["crc"] else 0) + side
    tag = payload[p:p + 4]
    if tag not in (b"Xing", b"Info"):
        return None
    flags = struct.unpack(">I", payload[p + 4:p + 8])[0]
    if flags & 1 and len(payload) >= p + 12:
        return struct.unpack(">I", payload[p + 8:p + 12])[0]
    return None


def mp3_info(payload: bytes) -> dict:
    """Walk every frame: {version, layer, sample_rate, channels,
    n_frames, duration_sec, bitrate_kbps_mean, vbr, xing_frames,
    id3v2_bytes}. Raises ValueError on a stream that never syncs or
    desyncs mid-walk (truncated final frames are tolerated — streaming
    rips end mid-frame routinely)."""
    off = id3v2_size(payload)
    first = parse_frame_header(payload, off)
    if first is None:
        raise ValueError("no MPEG audio frame sync at stream start")
    xing = _xing_frames(payload, off, first)
    n_frames = 0
    samples = 0
    bitrate_sum = 0
    rates = set()
    bitrates = set()
    while off < len(payload):
        h = parse_frame_header(payload, off)
        if h is None:
            # tolerate a trailing ID3v1 tag (128 bytes, "TAG") or EOF
            # inside the last frame; anything else is desync
            if payload[off:off + 3] == b"TAG" and len(payload) - off == 128:
                break
            if len(payload) - off < 4:
                break
            raise ValueError(f"frame desync at byte {off}")
        n_frames += 1
        samples += h["samples_per_frame"]
        bitrate_sum += h["bitrate"]
        rates.add(h["sample_rate"])
        bitrates.add(h["bitrate"])
        off += h["frame_len"]
    if len(rates) > 1:
        raise ValueError("sample rate changes mid-stream")
    vbr = xing is not None or len(bitrates) > 1
    return {
        "version": first["version"],
        "layer": first["layer"],
        "sample_rate": first["sample_rate"],
        "channels": first["channels"],
        "n_frames": n_frames,
        "duration_sec": samples / first["sample_rate"],
        "bitrate_kbps_mean": bitrate_sum / n_frames / 1000,
        "vbr": vbr,
        "xing_frames": xing,
        "id3v2_bytes": id3v2_size(payload),
    }


def decode_mp3(payload: bytes):
    """Sample decode is a DOCUMENTED PERMANENT SKIP (module docstring:
    lossy format, no in-container output checksum, spec tables not
    reproducible from memory with external validity). Production routes
    through ffmpeg/libsndfile at this seam."""
    raise NotImplementedError(
        "MP3 sample decode needs ffmpeg/libsndfile in production; "
        "frame-layer metadata is available via mp3_info()"
    )
