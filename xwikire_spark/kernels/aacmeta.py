"""AAC ADTS frame-layer metadata: sync walking, fixed/variable header
parsing, duration/bitrate accounting — the indexing tier for the second
high-frequency real-corpus audio format (after MP3, kernels/mp3meta.py),
again WITHOUT a sample decoder.

Why full AAC decode is PERMANENTLY out of scope here (the same WebP/MP3
external-validity argument — see COVERAGE.md):

- AAC is LOSSY and ADTS carries no checksum of the decoded samples (the
  optional CRC-16 covers raw_data_block bytes, not output audio), so a
  from-memory filterbank/Huffman decoder could only be "validated"
  against an encoder built from the same memory.
- a correct decoder needs the ISO/IEC 13818-7 Huffman codebooks and
  window tables verbatim; hundreds of table entries reproduced from
  memory prove nothing.
- production swaps in ffmpeg; ``decode_aac`` raises
  NotImplementedError.

The ADTS FRAME LAYER is a 7/9-byte header with small public tables
(12-bit sync, MPEG version, profile, sampling-frequency index, channel
configuration, 13-bit frame length INCLUDING the header, raw-data-block
count) — fully checkable by construction: ``aac_info`` must walk a
synthesized stream to the exact frame count, agree with an independent
hand-packed header writer in the tests, and reject desynced bytes.

Each ADTS frame carries (number_of_raw_data_blocks_in_frame + 1) raw
data blocks of 1024 samples each; duration is blocks * 1024 / rate.

Reference parity note: the reference pipeline (SasCezar/XWikiRE) has no
media handling; this module serves the media tier of the 100 TB
training-data story.
"""

from __future__ import annotations

# ISO/IEC 14496-3 sampling_frequency_index table; 13-14 reserved,
# 15 = explicit frequency (forbidden in ADTS)
_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350,
)

# profile (2 bits) = Audio Object Type minus 1, ADTS carries only 0-3
_PROFILES = ("Main", "LC", "SSR", "LTP")

# channel_configuration -> output channel count (ISO/IEC 14496-3 tab 1.19);
# 0 = signalled inside a PCE (reported as None), 7 = 7.1 (8 channels)
_CHANNELS = (None, 1, 2, 3, 4, 5, 6, 8)


def parse_adts_header(b: bytes, off: int = 0) -> dict | None:
    """Decode one ADTS fixed+variable header at ``off``; None when the
    bytes are not a supportable frame (no sync, reserved sampling index,
    frame length shorter than its own header)."""
    if off + 7 > len(b):
        return None
    h = b[off:off + 7]
    if h[0] != 0xFF or (h[1] & 0xF0) != 0xF0:
        return None
    if (h[1] >> 1) & 3 != 0:  # layer must be 00 for ADTS
        return None
    mpeg4 = not (h[1] & 0x08)  # ID bit: 0 = MPEG-4, 1 = MPEG-2
    protection_absent = h[1] & 1
    profile = (h[2] >> 6) & 3
    sf_idx = (h[2] >> 2) & 0xF
    if sf_idx >= len(_RATES):
        return None
    chan_cfg = ((h[2] & 1) << 2) | ((h[3] >> 6) & 3)
    frame_len = ((h[3] & 3) << 11) | (h[4] << 3) | ((h[5] >> 5) & 7)
    header_len = 7 if protection_absent else 9
    if frame_len < header_len:
        return None
    fullness = ((h[5] & 0x1F) << 6) | ((h[6] >> 2) & 0x3F)
    n_blocks = (h[6] & 3) + 1
    return {
        "mpeg4": mpeg4,
        "profile": _PROFILES[profile],
        "sample_rate": _RATES[sf_idx],
        "channels": _CHANNELS[chan_cfg],
        "crc": not protection_absent,
        "frame_len": frame_len,
        "header_len": header_len,
        "buffer_fullness": fullness,
        "raw_data_blocks": n_blocks,
        "samples": n_blocks * 1024,
    }


def sniff_aac(payload: bytes) -> bool:
    """Bare ADTS AAC: a parseable header at offset 0 whose predicted
    frame length lands on EOF or another sync (one-lookahead guard
    against random 0xFFFx bytes). MP3 headers fail the layer==0 check,
    so the two sniffers never both claim a payload."""
    h = parse_adts_header(payload)
    if h is None:
        return False
    nxt = h["frame_len"]
    return nxt >= len(payload) or parse_adts_header(payload, nxt) is not None


def aac_info(payload: bytes) -> dict:
    """Walk every ADTS frame: {mpeg4, profile, sample_rate, channels,
    n_frames, duration_sec, bitrate_kbps_mean, vbr, crc}. Raises
    ValueError on a stream that never syncs or desyncs mid-walk
    (truncated FINAL frames are tolerated — streaming rips end
    mid-frame routinely)."""
    first = parse_adts_header(payload)
    if first is None:
        raise ValueError("no ADTS frame sync at stream start")
    off = 0
    n_frames = 0
    samples = 0
    payload_bytes = 0
    lens = set()
    rates = set()
    while off < len(payload):
        h = parse_adts_header(payload, off)
        if h is None:
            if len(payload) - off < 7:
                break  # truncated final frame
            raise ValueError(f"ADTS desync at byte {off}")
        n_frames += 1
        samples += h["samples"]
        payload_bytes += h["frame_len"] - h["header_len"]
        lens.add(h["frame_len"])
        rates.add(h["sample_rate"])
        off += h["frame_len"]
    if len(rates) > 1:
        raise ValueError("sample rate changes mid-stream")
    duration = samples / first["sample_rate"]
    return {
        "mpeg4": first["mpeg4"],
        "profile": first["profile"],
        "sample_rate": first["sample_rate"],
        "channels": first["channels"],
        "n_frames": n_frames,
        "duration_sec": duration,
        # mean rate over the coded payload (headers excluded), the
        # figure an indexing tier reports for storage planning
        "bitrate_kbps_mean": payload_bytes * 8 / duration / 1000,
        "vbr": len(lens) > 1,
        "crc": first["crc"],
    }


def decode_aac(payload: bytes):
    """Sample decode is a DOCUMENTED PERMANENT SKIP (module docstring:
    lossy format, no in-container output checksum, spec codebooks not
    reproducible from memory with external validity). Production routes
    through ffmpeg at this seam."""
    raise NotImplementedError(
        "AAC sample decode needs ffmpeg in production; frame-layer "
        "metadata is available via aac_info()"
    )
