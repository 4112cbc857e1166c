"""Minimal ISO BMFF (MP4) demuxer + MJPEG frame access (pure stdlib).

Completes the video story of the dependency-free codec family
(imagecodec/jpegcodec/gifcodec/wavcodec — VERDICT r3 next-round #4): a box
walker in the same style as wavcodec's RIFF chunk walker locates the video
track's sample tables (stsd/stts/stsz/stsc/stco|co64), and for
Motion-JPEG tracks each sample IS a baseline JPEG — frame bytes slice
straight out of mdat and decode with ``jpegcodec.decode_jpeg``. Inter-frame
codecs (H.264/VP9/AV1) are honestly out of scope: ``video_samples`` still
indexes their samples (timestamps/offsets/sizes — enough for the Spark-side
sampling plan), but ``decode_sample`` raises NotImplementedError for them.

Also ships ``encode_mjpeg_mp4``: a structurally-valid single-track writer
(ftyp + mdat + moov) used as the test-vector source, mirroring how
encode_gif/encode_wav pin their decoders.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"dinf"}

# sample-entry fourccs whose samples are self-contained JPEG images
_MJPEG_FOURCCS = {b"jpeg", b"mjpa", b"mjpb"}


def sniff_mp4(payload: bytes) -> bool:
    return len(payload) >= 12 and payload[4:8] == b"ftyp"


def _boxes(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_end) for sibling boxes."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        fourcc = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("truncated MP4: largesize runs off end")
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            body = pos + 16
        elif size == 0:  # box extends to end of file
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError("truncated MP4: box size runs off end")
        yield fourcc, body, pos + size
        pos += size


def _find(data: bytes, start: int, end: int, path: list[bytes]):
    """First box at ``path`` (e.g. [b'moov', b'trak']) -> (start, end)."""
    for fourcc, b, e in _boxes(data, start, end):
        if fourcc == path[0]:
            if len(path) == 1:
                return b, e
            got = _find(data, b, e, path[1:])
            if got:
                return got
    return None


@dataclass
class VideoTrack:
    fourcc: str       # sample-entry codec fourcc, e.g. "jpeg"
    timescale: int    # mdhd units per second
    width: int
    height: int
    # per sample: (dts in timescale units, byte offset in file, byte size)
    samples: list[tuple[int, int, int]]

    def sample_at_ms(self, ms: int) -> int:
        """Index of the last sample with dts <= ms (nearest-previous frame
        — the frame on screen at that timestamp)."""
        if not self.samples:
            raise ValueError("MP4 track has no samples")
        target = ms * self.timescale // 1000
        lo, hi = 0, len(self.samples) - 1
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if self.samples[mid][0] <= target:
                lo = mid
            else:
                hi = mid - 1
        return lo


def _full_box(data: bytes, b: int) -> int:
    """Skip version+flags of a FullBox; returns payload offset."""
    return b + 4


def _parse_stbl(data: bytes, b: int, e: int) -> dict:
    out: dict = {}

    def u32(p: int, ce: int) -> int:
        """Bounded fixed-header read: a complete file carrying a minimal
        full box (size 8-11, payload ends before the 4-byte field) must
        raise ValueError (the module's malformed-input contract), not
        struct.error from a short slice."""
        if p + 4 > ce:
            raise ValueError("MP4 box too small for its header")
        return struct.unpack(">I", data[p : p + 4])[0]

    def counted(p: int, ce: int, entry_bytes: int) -> int:
        """Read a 32-bit entry count and bound it by the box end — a
        bit-flipped count in a complete file must raise ValueError (the
        module's malformed-input contract), not struct.error on a short
        slice or a multi-GB list allocation."""
        count = u32(p, ce)
        if p + 4 + entry_bytes * count > ce:
            raise ValueError(
                f"MP4 sample-table count {count} exceeds its box"
            )
        return count

    for fourcc, cb, ce in _boxes(data, b, e):
        p = _full_box(data, cb)
        if fourcc == b"stsd":
            count = u32(p, ce)
            if count < 1:
                raise ValueError("MP4 stsd with no entries")
            entry = p + 4
            if entry + 8 > ce:
                raise ValueError("MP4 box too small for its header")
            esize = u32(entry, ce)
            out["fourcc"] = data[entry + 4 : entry + 8]
            if esize >= 36 and entry + 36 <= ce:
                # VisualSampleEntry: 6 reserved + data_ref(2) + 16 pre/res
                out["width"], out["height"] = struct.unpack(
                    ">HH", data[entry + 32 : entry + 36]
                )
        elif fourcc == b"stts":
            count = counted(p, ce, 8)
            deltas = []
            q = p + 4
            for _ in range(count):
                n, d = struct.unpack(">II", data[q : q + 8])
                deltas.append((n, d))
                q += 8
            out["stts"] = deltas
        elif fourcc == b"stsz":
            fixed = u32(p, ce)
            count = counted(p + 4, ce, 0 if fixed else 4)
            if fixed and count > (1 << 24):
                raise ValueError(f"MP4 stsz sample count {count} implausible")
            if fixed:
                out["sizes"] = [fixed] * count
            else:
                out["sizes"] = list(
                    struct.unpack(f">{count}I", data[p + 8 : p + 8 + 4 * count])
                )  # count bounded by the box end above
        elif fourcc == b"stsc":
            count = counted(p, ce, 12)
            ents = []
            q = p + 4
            for _ in range(count):
                first, per, _desc = struct.unpack(">III", data[q : q + 12])
                ents.append((first, per))
                q += 12
            out["stsc"] = ents
        elif fourcc == b"stco":
            count = counted(p, ce, 4)
            out["chunks"] = list(
                struct.unpack(f">{count}I", data[p + 4 : p + 4 + 4 * count])
            )
        elif fourcc == b"co64":
            count = counted(p, ce, 8)
            out["chunks"] = list(
                struct.unpack(f">{count}Q", data[p + 4 : p + 4 + 8 * count])
            )
    return out


def video_samples(payload: bytes) -> VideoTrack:
    """Demux the FIRST video ('vide' handler) track: codec fourcc, mdhd
    timescale, dimensions, and the (dts, offset, size) sample table built
    by joining stts x stsz x stsc x stco — works for ANY codec (the
    sampling plan needs only the index; decode needs MJPEG)."""
    if not sniff_mp4(payload):
        raise ValueError("not an MP4 (no ftyp)")
    moov = _find(payload, 0, len(payload), [b"moov"])
    if not moov:
        raise ValueError("MP4 has no moov box")
    for fourcc, tb, te in _boxes(payload, *moov):
        if fourcc != b"trak":
            continue
        mdia = _find(payload, tb, te, [b"mdia"])
        if not mdia:
            continue
        hdlr = _find(payload, *mdia, [b"hdlr"])
        if not hdlr or payload[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue
        mdhd = _find(payload, *mdia, [b"mdhd"])
        if not mdhd:
            raise ValueError("MP4 video track missing mdhd")
        version = payload[mdhd[0]]
        ts_off = mdhd[0] + 4 + (16 if version == 1 else 8)
        (timescale,) = struct.unpack(">I", payload[ts_off : ts_off + 4])
        stbl = _find(payload, *mdia, [b"minf", b"stbl"])
        if not stbl:
            raise ValueError("MP4 video track missing stbl")
        t = _parse_stbl(payload, *stbl)
        for key in ("fourcc", "stts", "sizes", "stsc", "chunks"):
            if key not in t:
                raise ValueError(f"MP4 video track missing {key} table")
        # expand dts per sample from the run-length stts
        dts, acc = [], 0
        for n, d in t["stts"]:
            for _ in range(n):
                dts.append(acc)
                acc += d
        sizes = t["sizes"]
        if len(dts) != len(sizes):
            raise ValueError("MP4 stts/stsz sample count mismatch")
        # assign samples to chunks via stsc runs, offsets cumulate in-chunk
        samples: list[tuple[int, int, int]] = []
        stsc, chunks = t["stsc"], t["chunks"]
        si = 0
        for ci, chunk_off in enumerate(chunks, start=1):
            per = 0
            for first, n_per in stsc:
                if first <= ci:
                    per = n_per
            off = chunk_off
            for _ in range(per):
                if si >= len(sizes):
                    break
                samples.append((dts[si], off, sizes[si]))
                off += sizes[si]
                si += 1
        samples = samples[: len(sizes)]
        if si < len(sizes):
            raise ValueError("MP4 chunk tables cover fewer samples than stsz")
        return VideoTrack(
            fourcc=t["fourcc"].decode("ascii", "replace"),
            timescale=timescale,
            width=t.get("width", 0),
            height=t.get("height", 0),
            samples=samples,
        )
    raise ValueError("MP4 has no video track")


def frame_bytes(payload: bytes, track: VideoTrack, idx: int) -> bytes:
    dts, off, size = track.samples[idx]
    if off + size > len(payload):
        raise ValueError("truncated MP4: sample runs off end")
    return payload[off : off + size]


def decode_sample(
    payload: bytes, track: VideoTrack, idx: int
) -> tuple[int, int, int, bytearray]:
    """Decoded (w, h, channels, pixels) for one sample — MJPEG only."""
    if track.fourcc.encode() not in _MJPEG_FOURCCS:
        raise NotImplementedError(
            f"video codec '{track.fourcc}' needs ffmpeg in production; "
            "only MJPEG samples decode in-container"
        )
    from xwikire_spark.kernels.jpegcodec import decode_jpeg

    return decode_jpeg(frame_bytes(payload, track, idx))


# --- writer: test-vector source --------------------------------------------


def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _full(fourcc: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(fourcc, struct.pack(">B3s", version, flags.to_bytes(3, "big")) + payload)


def video_codec_config(payload: bytes) -> tuple[str, str, bytes] | None:
    """The first video track's codec configuration box, when its sample
    entry carries one after the 86-byte VisualSampleEntry header:
    (entry_fourcc, config_fourcc, config_body) — 'avcC' for H.264,
    'hvcC' for H.265, 'esds'
    for MPEG-4 ASP. None when the entry has no config box (e.g. 'jpeg')
    or the file has no video track."""
    try:
        moov = _find(payload, 0, len(payload), [b"moov"])
    except ValueError:
        return None
    if not moov:
        return None
    for fourcc, tb, te in _boxes(payload, *moov):
        if fourcc != b"trak":
            continue
        mdia = _find(payload, tb, te, [b"mdia"])
        if not mdia:
            continue
        hdlr = _find(payload, *mdia, [b"hdlr"])
        if not hdlr or payload[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue
        stsd = _find(payload, *mdia, [b"minf", b"stbl", b"stsd"])
        if not stsd:
            return None
        p = stsd[0] + 4  # full-box header
        entry = p + 4  # past entry_count
        if entry + 8 > stsd[1]:
            return None
        (esize,) = struct.unpack(">I", payload[entry : entry + 4])
        entry_fourcc = payload[entry + 4 : entry + 8].decode(
            "ascii", "replace"
        )
        eend = min(entry + esize, stsd[1])
        if entry + 86 + 8 > eend:
            return None
        for cfcc, cb, ce in _boxes(payload, entry + 86, eend):
            if cfcc in (b"avcC", b"hvcC", b"esds"):
                return entry_fourcc, cfcc.decode("ascii"), payload[cb:ce]
        return None
    return None


def encode_mjpeg_mp4(
    width: int,
    height: int,
    frames: list[bytes],
    fps: int = 1,
    timescale: int = 1000,
    entry_fourcc: bytes = b"jpeg",
    codec_config: tuple[bytes, bytes] | None = None,
) -> bytes:
    """Structurally-valid single-track MJPEG MP4: ftyp + mdat(frames
    concatenated, one chunk) + moov(trak/mdia/mdhd/hdlr/minf/stbl).
    ``entry_fourcc``/``codec_config=(box_fourcc, body)`` let tests build
    non-MJPEG tracks (e.g. 'avc1' + an 'avcC' record) — the index/
    metadata paths handle any codec; only MJPEG decodes."""
    if not frames:
        raise ValueError("encode_mjpeg_mp4 needs at least one frame")
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mdat = _box(b"mdat", b"".join(frames))
    mdat_data_off = len(ftyp) + 8  # frames start after mdat header

    delta = timescale // fps
    duration = delta * len(frames)

    cfg = (
        _box(codec_config[0], codec_config[1]) if codec_config else b""
    )
    # VisualSampleEntry
    entry = (
        struct.pack(">I", 86 + len(cfg))
        + entry_fourcc
        + b"\x00" * 6 + struct.pack(">H", 1)          # reserved + dref idx
        + b"\x00" * 16                                 # pre_defined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)   # 72 dpi
        + struct.pack(">I", 0) + struct.pack(">H", 1)  # reserved, frame cnt
        + b"\x00" * 32                                 # compressorname
        + struct.pack(">Hh", 24, -1)                   # depth, pre_defined
        + cfg
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, len(frames), delta))
    stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, len(frames), 1))
    stsz = _full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, len(frames))
        + b"".join(struct.pack(">I", len(f)) for f in frames),
    )
    stco = _full(b"stco", 0, 0, struct.pack(">II", 1, mdat_data_off))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)

    dref = _full(
        b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b"")
    )
    dinf = _box(b"dinf", dref)
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    minf = _box(b"minf", vmhd + dinf + stbl)
    hdlr = _full(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"mjpeg\x00",
    )
    mdhd = _full(
        b"mdhd", 0, 0,
        struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0),
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _full(
        b"tkhd", 0, 7,
        struct.pack(">IIII", 0, 0, 1, 0)               # times, track id
        + struct.pack(">I", duration) + b"\x00" * 8    # duration, reserved
        + struct.pack(">HHHH", 0, 0, 0, 0)             # layer/group/vol
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">IH", 0x10000, 0x0100) + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 2),
    )
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
