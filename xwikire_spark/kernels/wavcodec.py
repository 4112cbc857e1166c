"""RIFF/WAVE codec (stdlib parsing + numpy): a real audio decode path,
closing the "audio honestly stubbed" gap.

Scope (bounded, fully tested): integer PCM 8/16/24/32-bit, IEEE float32,
G.711 mu-law (format 7) and A-law (format 6) — both bijective per code,
gated by an all-256-codes round-trip identity — IMA/DVI ADPCM (format
0x11, mono + stereo block de-interleave) and MS ADPCM (format 0x02,
predictor-coefficient table + per-block header), both gated by
encode->decode SNR.
Any channel count, WAVE_FORMAT_EXTENSIBLE unwrapped, chunk walker
tolerant of extra chunks (LIST/fact/cue) and odd-size padding. The
compressed-audio formats (FLAC/MP3/AAC) raise NotImplementedError — swap in
ffmpeg/libsndfile in production; the Spark-side plumbing is
format-agnostic.

Decoded form: ``(sample_rate, n_channels, samples)`` with samples a
float64 ndarray of shape (frames, channels) scaled to [-1, 1].
"""

from __future__ import annotations

import struct

import numpy as np


def sniff_wav(payload: bytes) -> bool:
    return payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"


# --- G.711: classic CCITT companding, exact integer tables -----------------

_ULAW_BIAS, _ULAW_CLIP = 0x84, 32635


def _ulaw_decode_table() -> np.ndarray:
    out = np.empty(256, np.int16)
    for code in range(256):
        u = ~code & 0xFF
        exp = (u >> 4) & 7
        mant = u & 0x0F
        mag = (((mant << 3) + _ULAW_BIAS) << exp) - _ULAW_BIAS
        out[code] = -mag if u & 0x80 else mag
    return out


def _alaw_decode_table() -> np.ndarray:
    out = np.empty(256, np.int16)
    for code in range(256):
        a = code ^ 0x55
        exp = (a >> 4) & 7
        mant = a & 0x0F
        if exp == 0:
            mag = (mant << 4) + 8
        else:
            mag = ((mant << 4) + 0x108) << (exp - 1)
        out[code] = mag if a & 0x80 else -mag
    return out


_ULAW_TABLE = _ulaw_decode_table()
_ALAW_TABLE = _alaw_decode_table()


def ulaw_encode(pcm: int) -> int:
    """int16 -> mu-law code (CCITT G.711); inverse of _ULAW_TABLE on its
    own range (bijective per code — the round-trip test's property)."""
    sign = 0x80 if pcm < 0 else 0
    if pcm < 0:
        pcm = -pcm
    pcm = min(pcm, _ULAW_CLIP) + _ULAW_BIAS
    exp = pcm.bit_length() - 8
    mant = (pcm >> (exp + 3)) & 0x0F
    return ~(sign | (exp << 4) | mant) & 0xFF


def alaw_encode(pcm: int) -> int:
    """int16 -> A-law code (CCITT G.711)."""
    sign = 0x80 if pcm >= 0 else 0
    if pcm < 0:
        pcm = -pcm - 1 if pcm == -32768 else -pcm
    pcm = min(pcm, 32767)
    if pcm < 256:
        code = pcm >> 4
    else:
        exp = pcm.bit_length() - 9
        mant = (pcm >> (exp + 4)) & 0x0F
        code = (exp + 1) << 4 | mant
    return (sign | code) ^ 0x55


# --- IMA/DVI ADPCM: 4-bit differential, 89-step table ----------------------

_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], np.int32)
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_decode_nibbles(
    nibbles, predictor: int, index: int
) -> tuple[list[int], int, int]:
    out = []
    for n in nibbles:
        step = int(_IMA_STEPS[index])
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        predictor = max(-32768, min(32767,
                                    predictor - diff if n & 8
                                    else predictor + diff))
        index = max(0, min(88, index + _IMA_INDEX[n & 7]))
        out.append(predictor)
    return out, predictor, index


def _ima_encode_sample(s: int, predictor: int, index: int):
    step = int(_IMA_STEPS[index])
    diff = s - predictor
    n = 8 if diff < 0 else 0
    diff = abs(diff)
    d = step >> 3
    if diff >= step:
        n |= 4
        diff -= step
        d += step
    if diff >= step >> 1:
        n |= 2
        diff -= step >> 1
        d += step >> 1
    if diff >= step >> 2:
        n |= 1
        d += step >> 2
    predictor = max(-32768, min(32767, predictor - d if n & 8
                                else predictor + d))
    index = max(0, min(88, index + _IMA_INDEX[n & 7]))
    return n, predictor, index


def _decode_ima(data: bytes, n_ch: int, block_align: int) -> np.ndarray:
    """IMA ADPCM 'data' chunk -> int16 array, channel-interleaved.
    Block layout: per channel a 4-byte header (predictor int16, step index,
    reserved), then 4-byte per-channel groups of 8 nibbles, low nibble
    first."""
    if block_align < 4 * n_ch:
        raise ValueError("IMA ADPCM block_align smaller than headers")
    chans: list[list[int]] = [[] for _ in range(n_ch)]
    for b0 in range(0, len(data) - (4 * n_ch) + 1, block_align):
        block = data[b0 : b0 + block_align]
        preds, idxs = [], []
        for c in range(n_ch):
            p, i = struct.unpack_from("<hB", block, 4 * c)
            preds.append(p)
            idxs.append(min(88, i))
            chans[c].append(p)  # header predictor IS the first sample
        body = block[4 * n_ch :]
        for g0 in range(0, len(body) - (4 * n_ch) + 1, 4 * n_ch):
            for c in range(n_ch):
                word = body[g0 + 4 * c : g0 + 4 * c + 4]
                nibs = []
                for byte in word:
                    nibs.append(byte & 0x0F)
                    nibs.append(byte >> 4)
                dec, preds[c], idxs[c] = _ima_decode_nibbles(
                    nibs, preds[c], idxs[c]
                )
                chans[c].extend(dec)
    frames = min(len(c) for c in chans)
    out = np.empty((frames, n_ch), np.int16)
    for c in range(n_ch):
        out[:, c] = chans[c][:frames]
    return out.reshape(-1)


# --- MS ADPCM (WAVE_FORMAT_ADPCM, 0x0002) ----------------------------------
# Per-block header (per channel: predictor index, initial delta, the two
# seed samples), then 4-bit codes against a 2-tap predictor — the published
# Microsoft multimedia-standards layout, same family shape as IMA above.

_MS_COEFS = [
    (256, 0), (512, -256), (0, 0), (192, 64),
    (240, 0), (460, -208), (392, -232),
]
_MS_ADAPT = [
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230,
]


def _trunc_div_256(num: int) -> int:
    """C-style /256 (truncation toward zero, spec arithmetic) — Python's
    // floors, which differs on negative predictions."""
    return -((-num) >> 8) if num < 0 else num >> 8


def _ms_step(code: int, s1: int, s2: int, delta: int, c1: int, c2: int):
    """One MS-ADPCM sample reconstruction; shared verbatim by decode and
    the encoder's mirrored state so round-trip drift is impossible."""
    signed = code - 16 if code & 8 else code
    pred = _trunc_div_256(s1 * c1 + s2 * c2) + signed * delta
    pred = max(-32768, min(32767, pred))
    delta = max(16, (_MS_ADAPT[code] * delta) >> 8)
    return pred, delta


def _decode_ms(
    data: bytes,
    n_ch: int,
    block_align: int,
    samples_per_block: int,
    coefs: list[tuple[int, int]],
) -> np.ndarray:
    """MS ADPCM 'data' chunk -> int16 array, channel-interleaved.
    Block layout: per channel 1 predictor-index byte, then int16 idelta,
    sample1, sample2 per channel; body nibbles HIGH-first, channels
    alternating per nibble."""
    header = 7 * n_ch
    if block_align < header:
        raise ValueError("MS ADPCM block_align smaller than headers")
    chans: list[list[int]] = [[] for _ in range(n_ch)]
    for b0 in range(0, len(data) - header + 1, block_align):
        block = data[b0 : b0 + block_align]
        pidx = list(block[:n_ch])
        if any(p >= len(coefs) for p in pidx):
            raise ValueError("MS ADPCM predictor index out of range")
        deltas = list(struct.unpack_from(f"<{n_ch}h", block, n_ch))
        s1 = list(struct.unpack_from(f"<{n_ch}h", block, 3 * n_ch))
        s2 = list(struct.unpack_from(f"<{n_ch}h", block, 5 * n_ch))
        for c in range(n_ch):
            chans[c].extend((s2[c], s1[c]))  # seed samples, older first
        n_codes = max(0, (samples_per_block - 2)) * n_ch
        codes: list[int] = []
        for byte in block[header:]:
            codes.append(byte >> 4)
            codes.append(byte & 0x0F)
        for k, code in enumerate(codes[:n_codes]):
            c = k % n_ch
            c1, c2 = coefs[pidx[c]]
            pred, deltas[c] = _ms_step(code, s1[c], s2[c], deltas[c], c1, c2)
            s2[c], s1[c] = s1[c], pred
            chans[c].append(pred)
    frames = min(len(c) for c in chans) if chans else 0
    out = np.empty((frames, n_ch), np.int16)
    for c in range(n_ch):
        out[:, c] = chans[c][:frames]
    return out.reshape(-1)


def decode_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """-> (sample_rate, n_channels, float64 (frames, channels) in [-1, 1])."""
    if not sniff_wav(payload):
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_ch, rate, _brate, _balign, bits = struct.unpack(
        "<HHIIHH", fmt[:16]
    )
    if audio_format == 0xFFFE and len(fmt) >= 26:  # EXTENSIBLE
        (audio_format,) = struct.unpack("<H", fmt[24:26])
    if audio_format == 1:  # integer PCM
        if bits == 8:  # unsigned
            x = (np.frombuffer(data, np.uint8).astype(np.float64) - 128) / 128
        elif bits == 16:
            x = np.frombuffer(data, "<i2").astype(np.float64) / 32768
        elif bits == 24:
            raw = np.frombuffer(data, np.uint8)
            raw = raw[: len(raw) // 3 * 3].reshape(-1, 3).astype(np.int32)
            ints = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
            ints = np.where(ints >= 1 << 23, ints - (1 << 24), ints)
            x = ints.astype(np.float64) / (1 << 23)
        elif bits == 32:
            x = np.frombuffer(data, "<i4").astype(np.float64) / (1 << 31)
        else:
            raise NotImplementedError(f"PCM bit depth {bits}")
    elif audio_format == 3 and bits == 32:  # IEEE float
        x = np.frombuffer(data, "<f4").astype(np.float64)
    elif audio_format == 6:  # G.711 A-law
        x = _ALAW_TABLE[np.frombuffer(data, np.uint8)].astype(np.float64) \
            / 32768
    elif audio_format == 7:  # G.711 mu-law
        x = _ULAW_TABLE[np.frombuffer(data, np.uint8)].astype(np.float64) \
            / 32768
    elif audio_format == 0x11:  # IMA/DVI ADPCM
        x = _decode_ima(data, n_ch, _balign).astype(np.float64) / 32768
    elif audio_format == 0x02:  # MS ADPCM
        # fmt extra: cbSize(16) | samples_per_block(18) | num_coef(20) |
        # num_coef x (coef1:int16, coef2:int16). A writer may extend the
        # standard 7-entry table; fall back to it when the extra is absent.
        if len(fmt) >= 22:
            spb, n_coef = struct.unpack("<HH", fmt[18:22])
            if len(fmt) < 22 + 4 * n_coef:
                raise ValueError("MS ADPCM fmt coefficient table truncated")
            coefs = [
                struct.unpack_from("<hh", fmt, 22 + 4 * i)
                for i in range(n_coef)
            ] or _MS_COEFS
        else:
            spb = max(2, (_balign - 7 * n_ch) * 2 // n_ch + 2)
            coefs = _MS_COEFS
        x = (
            _decode_ms(data, n_ch, _balign, spb, coefs).astype(np.float64)
            / 32768
        )
    else:
        raise NotImplementedError(
            f"WAV audio format {audio_format} ({bits}-bit) — PCM, float32, "
            f"G.711 and IMA ADPCM only without libsndfile (FLAC/MP3/AAC "
            f"need ffmpeg in production)"
        )
    if n_ch < 1:
        raise ValueError("WAV with zero channels")
    if rate < 1:
        raise ValueError("WAV with zero sample rate")
    frames = len(x) // n_ch
    return rate, n_ch, x[: frames * n_ch].reshape(frames, n_ch)


def encode_wav(
    rate: int, samples: np.ndarray, bits: int = 16
) -> bytes:
    """Minimal PCM16 writer (test-vector source + re-encode path).
    ``samples``: (frames,) or (frames, channels) floats in [-1, 1]."""
    if bits != 16:
        raise NotImplementedError("encode_wav writes PCM16 only")
    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 1:
        x = x[:, None]
    n_ch = x.shape[1]
    pcm = np.clip(np.rint(x * 32767.0), -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * n_ch * 2, n_ch * 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_g711(rate: int, samples: np.ndarray, law: str = "ulaw") -> bytes:
    """G.711 writer (format 7 mu-law / 6 A-law), mono or multi-channel —
    test-vector source for the companded decode path."""
    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 1:
        x = x[:, None]
    n_ch = x.shape[1]
    pcm = np.clip(np.rint(x * 32767.0), -32768, 32767).astype(np.int64)
    enc = ulaw_encode if law == "ulaw" else alaw_encode
    data = bytes(enc(int(v)) for v in pcm.reshape(-1))
    code = 7 if law == "ulaw" else 6
    fmt = struct.pack("<HHIIHHH", code, n_ch, rate, rate * n_ch, n_ch, 8, 0)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_ima(
    rate: int, samples: np.ndarray, samples_per_block: int = 505
) -> bytes:
    """IMA/DVI ADPCM writer (mono or stereo) — standard block layout:
    per-channel 4-byte header whose predictor IS the first sample, then
    interleaved 4-byte nibble groups."""
    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 1:
        x = x[:, None]
    n_ch = x.shape[1]
    pcm = np.clip(np.rint(x * 32767.0), -32768, 32767).astype(np.int32)
    if (samples_per_block - 1) % 8:
        raise ValueError("samples_per_block must be 1 + multiple of 8")
    block_align = 4 * n_ch + (samples_per_block - 1) // 2 * n_ch
    blocks = []
    idxs = [0] * n_ch
    for b0 in range(0, pcm.shape[0], samples_per_block):
        blk = pcm[b0 : b0 + samples_per_block]
        if blk.shape[0] < samples_per_block:  # zero-pad the tail block
            pad = np.zeros(
                (samples_per_block - blk.shape[0], n_ch), np.int32
            )
            blk = np.vstack([blk, pad])
        header = b"".join(
            struct.pack("<hBB", int(blk[0, c]), idxs[c], 0)
            for c in range(n_ch)
        )
        preds = [int(blk[0, c]) for c in range(n_ch)]
        nibs: list[list[int]] = [[] for _ in range(n_ch)]
        for s in range(1, samples_per_block):
            for c in range(n_ch):
                n, preds[c], idxs[c] = _ima_encode_sample(
                    int(blk[s, c]), preds[c], idxs[c]
                )
                nibs[c].append(n)
        body = bytearray()
        for g in range(0, samples_per_block - 1, 8):
            for c in range(n_ch):
                for k in range(0, 8, 2):
                    body.append(
                        nibs[c][g + k] | (nibs[c][g + k + 1] << 4)
                    )
        blocks.append(header + bytes(body))
    data = b"".join(blocks)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, n_ch, rate,
        rate * block_align // samples_per_block, block_align, 4, 2,
        samples_per_block,
    )
    body2 = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body2)) + body2


def encode_wav_ms(
    rate: int, samples: np.ndarray, samples_per_block: int = 500
) -> bytes:
    """MS ADPCM writer (mono or stereo) — test-vector source mirroring
    encode_wav_ima. Per block and channel it picks the predictor from the
    standard 7-coefficient table minimizing block prediction error, seeds
    idelta from the mean residual, then quantizes greedily against the
    SAME ``_ms_step`` reconstruction the decoder runs."""
    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 1:
        x = x[:, None]
    n_ch = x.shape[1]
    pcm = np.clip(np.rint(x * 32767.0), -32768, 32767).astype(np.int64)
    if samples_per_block < 2:
        raise ValueError("samples_per_block must be >= 2")
    if (samples_per_block - 2) % 2:
        raise ValueError("samples_per_block must be 2 + multiple of 2")
    block_align = 7 * n_ch + (samples_per_block - 2) * n_ch // 2
    blocks = []
    for b0 in range(0, pcm.shape[0], samples_per_block):
        blk = pcm[b0 : b0 + samples_per_block]
        if blk.shape[0] < samples_per_block:  # zero-pad the tail block
            pad = np.zeros(
                (samples_per_block - blk.shape[0], n_ch), np.int64
            )
            blk = np.vstack([blk, pad])
        pidx, ideltas, s1s, s2s = [], [], [], []
        nibs: list[list[int]] = [[] for _ in range(n_ch)]
        for c in range(n_ch):
            col = blk[:, c]
            # predictor choice: least |residual| over the block
            best, best_err = 0, None
            for i, (c1, c2) in enumerate(_MS_COEFS):
                pred = (col[:-2] * c2 + col[1:-1] * c1) // 256
                err = int(np.abs(col[2:] - pred).sum())
                if best_err is None or err < best_err:
                    best, best_err = i, err
            c1, c2 = _MS_COEFS[best]
            n_resid = max(1, samples_per_block - 2)
            idelta = max(16, min(32767, best_err // (n_resid * 4)))
            s2, s1, delta = int(col[0]), int(col[1]), idelta
            pidx.append(best)
            ideltas.append(idelta)
            s1s.append(s1)
            s2s.append(s2)
            for s in range(2, samples_per_block):
                predictor = _trunc_div_256(s1 * c1 + s2 * c2)
                code = (int(col[s]) - predictor) // delta if delta else 0
                code = max(-8, min(7, code)) & 0x0F
                rec, delta = _ms_step(code, s1, s2, delta, c1, c2)
                s2, s1 = s1, rec
                nibs[c].append(code)
        header = (
            bytes(pidx)
            + struct.pack(f"<{n_ch}h", *ideltas)
            + struct.pack(f"<{n_ch}h", *s1s)
            + struct.pack(f"<{n_ch}h", *s2s)
        )
        # nibbles HIGH-first, channels alternating per nibble
        flat = []
        for s in range(samples_per_block - 2):
            for c in range(n_ch):
                flat.append(nibs[c][s])
        body = bytearray()
        for k in range(0, len(flat), 2):
            body.append((flat[k] << 4) | flat[k + 1])
        blocks.append(header + bytes(body))
    data = b"".join(blocks)
    coef_extra = struct.pack("<HH", samples_per_block, len(_MS_COEFS))
    for c1, c2 in _MS_COEFS:
        coef_extra += struct.pack("<hh", c1, c2)
    fmt = struct.pack(
        "<HHIIHHH", 0x02, n_ch, rate,
        rate * block_align // samples_per_block, block_align, 4,
        len(coef_extra),
    ) + coef_extra
    body2 = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body2)) + body2


def audio_stats(rate: int, n_ch: int, x: np.ndarray) -> list[float]:
    """8 deterministic features: frames, duration_s, channels, rms, peak,
    zero-crossing rate, sample rate, 0."""
    frames = x.shape[0]
    if frames == 0:
        return [0.0, 0.0, float(n_ch), 0.0, 0.0, 0.0, float(rate), 0.0]
    mono = x.mean(axis=1)
    rms = float(np.sqrt(np.mean(mono * mono)))
    peak = float(np.max(np.abs(mono)))
    zcr = float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
    return [
        float(frames),
        round(frames / rate, 4),
        float(n_ch),
        round(rms, 4),
        round(peak, 4),
        round(zcr, 4),
        float(rate),
        0.0,
    ]
