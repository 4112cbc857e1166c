"""Baseline JPEG codec (ITU-T T.81 sequential DCT, Huffman, 8-bit).

Closes the remaining "real image decode" gap for the dominant
training-corpus image format without PIL/libvips: stdlib byte-parsing +
numpy for the 8x8 (I)DCT (numpy is a baked-in dependency of this repo's
Arrow path). `kernels/imagecodec.py` dispatches to `decode_jpeg` from its
format sniffer, so `decode_image` decodes PNG, PPM and baseline JPEG
end-to-end.

Scope (deliberately bounded, fully tested):
- decode: baseline sequential (SOF0/SOF1) AND progressive (SOF2) DCT,
  8-bit, grayscale or YCbCr with integer-ratio sampling factors (4:4:4
  and 4:2:0 covered by tests), restart markers honored (DRI), quant/
  Huffman tables read from the FILE (the decoder never assumes the
  Annex-K constants). Progressive covers the full T.81 Annex G Huffman
  procedures: spectral selection bands, interleaved/non-interleaved DC
  scans, successive approximation (DC + AC first and refinement passes,
  G.1.2.2/G.1.2.3), and EOBn end-of-band runs; its final dequant+IDCT is
  vectorized over all blocks at once (one einsum per component).
  Arithmetic coding, hierarchical (SOF5-7/13-15), 12-bit and non-dyadic
  sampling raise NotImplementedError.
- encode (test-vector source + re-encode path): 4:4:4 or 4:2:0 YCbCr /
  grayscale, Annex-K quantization + Huffman tables (progressive AC scans
  carry a flat 9/10-bit AC table in their DHT — Annex K lacks the EOBn
  symbols), optional ``progressive=True`` emitting a 6-scan script (DC
  first Al=1 → AC bands 1-5/6-63 Al=1 → DC refine → AC band refines).
  Progression is a lossless reordering of the same quantized
  coefficients, so progressive encode→decode is BIT-IDENTICAL to
  baseline encode→decode of the same pixels — the test gate.

Decoded form matches imagecodec: (width, height, channels, flat bytearray).
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag scan position i -> natural (row-major) index
_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K tables (used by the ENCODER only; the decoder always reads the
# tables carried in the file's DQT/DHT segments)
_Q_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_Q_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


# Flat AC table for the progressive ENCODER's scans: all 256 run/size
# symbols at 9 bits (255) + 10 bits (1), canonical. Annex K's AC tables
# lack the EOBn symbols (r<<4 for r>=1) progressive end-of-band runs
# need; real progressive files always carry custom tables, and so do
# ours — the decoder reads whatever DHT the file provides.
_AC_FLAT = (
    [0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0],
    list(range(256)),
)


def _dct_matrix() -> np.ndarray:
    t = np.zeros((8, 8))
    for u in range(8):
        a = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            t[u, x] = a * np.cos((2 * x + 1) * u * np.pi / 16)
    return t


_T = _dct_matrix()


def fdct2(block: np.ndarray) -> np.ndarray:
    """Orthonormal 2-D DCT-II of an 8x8 block (level-shifted input)."""
    return _T @ block @ _T.T


def idct2(coef: np.ndarray) -> np.ndarray:
    """Inverse of fdct2 (exact to float precision)."""
    return _T.T @ coef @ _T


def _build_decode_lut(bits: list[int], vals: list[int]) -> dict:
    lut, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lut[(length, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return lut


def _build_encode_lut(bits: list[int], vals: list[int]) -> dict:
    return {
        sym: (code, length)
        for (length, code), sym in _build_decode_lut(bits, vals).items()
    }


def _extend(v: int, t: int) -> int:
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; byte-aligns and validates RSTn at restart boundaries."""

    def __init__(self, data: bytes, pos: int):
        self.d, self.i, self.b, self.n = data, pos, 0, 0

    def bit(self) -> int:
        if self.n == 0:
            byte = self.d[self.i]
            self.i += 1
            if byte == 0xFF:
                nxt = self.d[self.i]
                if nxt == 0x00:
                    self.i += 1
                else:
                    raise ValueError(
                        f"unexpected marker 0xFF{nxt:02X} in entropy data"
                    )
            self.b, self.n = byte, 8
        self.n -= 1
        return (self.b >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def restart(self, expected: int) -> None:
        """Consume the byte-aligned RSTn marker at a restart boundary
        (skipping a stuffed FF00 the 1-padding may have produced)."""
        self.n = 0
        while self.d[self.i] == 0xFF and self.d[self.i + 1] == 0x00:
            self.i += 2
        if self.d[self.i] != 0xFF or self.d[self.i + 1] != 0xD0 + expected:
            raise ValueError("missing restart marker")
        self.i += 2

    def huff(self, lut: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            if (length, code) in lut:
                return lut[(length, code)]
        raise ValueError("invalid Huffman code")


def decode_jpeg(payload: bytes) -> tuple[int, int, int, bytearray]:
    """-> (width, height, channels, flat row-major samples).

    channels is 1 (grayscale) or 3 (RGB after JFIF YCbCr conversion).
    """
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qtabs: dict[int, np.ndarray] = {}
    huffs: dict[tuple[int, int], dict] = {}
    comps: list[dict] = []
    w = h = 0
    restart_interval = 0
    progressive = False
    coef_state: list[np.ndarray] | None = None
    i = 2
    while i < len(payload):
        if payload[i] != 0xFF:
            raise ValueError("bad marker prefix")
        m = payload[i + 1]
        if m == 0xFF:  # fill byte
            i += 1
            continue
        if m in (0x01, 0xD8) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", payload[i + 2 : i + 4])
        data = payload[i + 4 : i + 2 + seglen]
        i += 2 + seglen
        if m == 0xDB:  # DQT
            p = 0
            while p < len(data):
                pq, tq = data[p] >> 4, data[p] & 15
                p += 1
                if pq:
                    raise NotImplementedError("16-bit quant tables")
                nat = np.zeros(64)
                for z in range(64):
                    nat[_ZZ[z]] = data[p + z]
                qtabs[tq] = nat
                p += 64
        elif m in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = m == 0xC2
            _prec, h, w = struct.unpack(">BHH", data[:5])
            if _prec != 8:
                raise NotImplementedError("12-bit JPEG")
            comps = []
            for c in range(data[5]):
                cid, hv, tq = data[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq}
                )
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                   0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker 0xFF{m:02X})"
            )
        elif m == 0xC4:  # DHT
            p = 0
            while p < len(data):
                tc, th = data[p] >> 4, data[p] & 15
                bits = list(data[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(data[p + 17 : p + 17 + nv])
                huffs[(tc, th)] = _build_decode_lut(bits, vals)
                p += 17 + nv
        elif m == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", data[:2])
        elif m == 0xDA and progressive:  # one of several progressive scans
            if not comps:
                raise ValueError("SOS before SOF")
            if coef_state is None:
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                mcus_x = -(-w // (8 * hmax))
                mcus_y = -(-h // (8 * vmax))
                coef_state = [
                    np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64),
                             dtype=np.int64)
                    for c in comps
                ]
            scan = []
            for c in range(data[0]):
                cid, tt = data[1 + 2 * c], data[2 + 2 * c]
                ci = next(
                    k for k, x in enumerate(comps) if x["id"] == cid
                )
                scan.append((ci, tt >> 4, tt & 15))
            ss, se, ahal = data[1 + 2 * data[0] : 4 + 2 * data[0]]
            i = _decode_prog_scan(
                payload, i, comps, scan, ss, se, ahal >> 4, ahal & 15,
                coef_state, w, h, huffs, restart_interval,
            )
        elif m == 0xDA:  # SOS — entropy data follows; decode and finish
            if data[0] < len(comps):
                # legal baseline non-interleaved multi-scan stream: the
                # first SOS covers only some components and more scans
                # follow. We decode single-scan (interleaved) files only;
                # silently returning the partial scan would mis-decode a
                # color image as grayscale.
                raise NotImplementedError(
                    "multi-scan baseline JPEG (SOS lists "
                    f"{data[0]}/{len(comps)} components)"
                )
            scan = []
            for c in range(data[0]):
                cid, tt = data[1 + 2 * c], data[2 + 2 * c]
                comp = next(x for x in comps if x["id"] == cid)
                scan.append((comp, tt >> 4, tt & 15))
            return _decode_scan(
                payload, i, w, h, scan, qtabs, huffs, restart_interval
            )
        # else: APPn / COM — skipped
    if progressive and coef_state is not None:
        return _finish_progressive(coef_state, comps, qtabs, w, h)
    raise ValueError("JPEG has no scan")


def _decode_scan(payload, pos, w, h, scan, qtabs, huffs, restart_interval):
    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = [
        np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8))
        for c, _, _ in scan
    ]
    preds = [0] * len(scan)
    rd = _BitReader(payload, pos)
    mcu_n = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                rd.restart(rst)
                rst = (rst + 1) & 7
                preds = [0] * len(scan)
            mcu_n += 1
            for ci, (c, td, ta) in enumerate(scan):
                q = qtabs[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coef = np.zeros(64)
                        t = rd.huff(huffs[(0, td)])
                        preds[ci] += _extend(rd.bits(t), t)
                        coef[0] = preds[ci] * q[0]
                        k = 1
                        while k < 64:
                            rs = rd.huff(huffs[(1, ta)])
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index overflow")
                            coef[_ZZ[k]] = (
                                _extend(rd.bits(s), s) * q[_ZZ[k]]
                            )
                            k += 1
                        block = idct2(coef.reshape(8, 8)) + 128
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
    return _planes_to_pixels(
        planes, [(c["h"], c["v"]) for c, _, _ in scan], w, h, hmax, vmax
    )


def _planes_to_pixels(planes, comp_hv, w, h, hmax, vmax):
    """Upsample component planes to full resolution, crop, and convert
    JFIF YCbCr -> RGB (or pass grayscale through). Shared by the baseline
    and progressive decode paths."""
    full = []
    for ci, (ch, cv) in enumerate(comp_hv):
        if hmax % ch or vmax % cv:
            raise NotImplementedError(
                f"non-integer chroma subsampling ratio "
                f"({ch}x{cv} vs {hmax}x{vmax})"
            )
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // cv, 0), hmax // ch, 1)
        full.append(p[:h, :w])
    if len(full) == 1:
        rgb = np.clip(full[0], 0, 255)
        return w, h, 1, bytearray(rgb.round().astype(np.uint8).tobytes())
    y, cb, cr = full[0], full[1] - 128, full[2] - 128
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.clip(np.stack([r, g, b], axis=-1), 0, 255)
    return w, h, 3, bytearray(rgb.round().astype(np.uint8).tobytes())


def _next_marker(d: bytes, i: int) -> int:
    """Position of the first marker (0xFF followed by a non-stuffing
    byte) at or after i — where the entropy-coded data of a finished
    scan ends."""
    while i < len(d) - 1:
        if d[i] == 0xFF and d[i + 1] != 0x00:
            return i
        i += 1
    raise ValueError("truncated JPEG: no marker after scan data")


def _decode_prog_scan(
    payload, pos, comps, scan, ss, se, ah, al, coef_state, w, h,
    huffs, restart_interval,
):
    """Decode ONE progressive scan (T.81 Annex G, Huffman) into the
    accumulated per-component coefficient grids; returns the payload
    offset of the marker that follows the scan's entropy data.

    scan = [(comp_index, dc_table, ac_table), ...]. DC scans (ss == 0)
    may be interleaved (MCU order) or single-component; AC scans are
    single-component by the standard. Successive approximation: first
    passes (ah == 0) store values shifted left by al; refinement passes
    (ah > 0) OR in / correct one bit at position al, with the G.1.2.3
    EOB-run + correction-bit procedure."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    if ss == 0 and se != 0:
        raise ValueError("progressive DC scan with Se != 0")
    if ss > 0 and len(scan) != 1:
        raise ValueError("interleaved progressive AC scan")
    rd = _BitReader(payload, pos)
    preds = [0] * len(scan)
    eobrun = 0
    p1, m1 = 1 << al, -1 << al

    def dc_first(ci_s, arr, by, bx):
        t = rd.huff(huffs[(0, scan[ci_s][1])])
        preds[ci_s] += _extend(rd.bits(t), t)
        arr[by, bx, 0] = preds[ci_s] << al

    def dc_refine(arr, by, bx):
        if rd.bit():
            arr[by, bx, 0] |= p1

    def ac_first(arr, by, bx):
        nonlocal eobrun
        if eobrun:
            eobrun -= 1
            return
        lut = huffs[(1, scan[0][2])]
        k = ss
        while k <= se:
            rs = rd.huff(lut)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += rd.bits(r)
                return
            k += r
            if k > se:
                raise ValueError("AC index past Se")
            arr[by, bx, _ZZ[k]] = _extend(rd.bits(s), s) << al
            k += 1

    def ac_refine(arr, by, bx):
        # T.81 G.1.2.3 (the jdphuff.c shape): within the band, a symbol
        # either places a NEW +-p1 coefficient after a run of r
        # zero-HISTORY positions, or starts an EOB run; every nonzero-
        # history position crossed on the way reads one correction bit.
        nonlocal eobrun
        lut = huffs[(1, scan[0][2])]
        blk = arr[by, bx]
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = rd.huff(lut)
                r, s = rs >> 4, rs & 15
                val = 0
                if s:
                    if s != 1:
                        raise ValueError(
                            "AC refinement size != 1"
                        )
                    val = p1 if rd.bit() else m1
                elif r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += rd.bits(r)
                    break
                while k <= se:
                    z = _ZZ[k]
                    if blk[z] != 0:
                        if rd.bit() and (blk[z] & p1) == 0:
                            blk[z] += p1 if blk[z] >= 0 else m1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    blk[_ZZ[k]] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                z = _ZZ[k]
                if blk[z] != 0:
                    if rd.bit() and (blk[z] & p1) == 0:
                        blk[z] += p1 if blk[z] >= 0 else m1
                k += 1
            eobrun -= 1

    def do_unit(ci_s, by, bx):
        arr = coef_state[scan[ci_s][0]]
        if ss == 0:
            if ah == 0:
                dc_first(ci_s, arr, by, bx)
            else:
                dc_refine(arr, by, bx)
        elif ah == 0:
            ac_first(arr, by, bx)
        else:
            ac_refine(arr, by, bx)

    unit_n = 0
    rst = 0

    def at_restart():
        nonlocal rst, preds, eobrun
        rd.restart(rst)
        rst = (rst + 1) & 7
        preds = [0] * len(scan)
        eobrun = 0

    if ss == 0 and len(scan) > 1:  # interleaved DC scan: MCU order
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and unit_n and \
                        unit_n % restart_interval == 0:
                    at_restart()
                unit_n += 1
                for ci_s, (ci, _, _) in enumerate(scan):
                    c = comps[ci]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            do_unit(
                                ci_s, my * c["v"] + by, mx * c["h"] + bx
                            )
    else:  # single-component scan: raster over the NON-padded block grid
        c = comps[scan[0][0]]
        comp_w = -(-w * c["h"] // hmax)  # ceil: component resolution
        comp_h = -(-h * c["v"] // vmax)
        nbw = -(-comp_w // 8)
        nbh = -(-comp_h // 8)
        for by in range(nbh):
            for bx in range(nbw):
                if restart_interval and unit_n and \
                        unit_n % restart_interval == 0:
                    at_restart()
                unit_n += 1
                do_unit(0, by, bx)
    return _next_marker(payload, rd.i)


def _finish_progressive(coef_state, comps, qtabs, w, h):
    """Dequantize + IDCT every accumulated block at once (vectorized:
    one einsum per component) and assemble/convert like the baseline
    path."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    planes = []
    for ci, c in enumerate(comps):
        deq = coef_state[ci] * qtabs[c["tq"]]
        bh, bw = deq.shape[0], deq.shape[1]
        blocks = deq.reshape(bh, bw, 8, 8)
        out = np.einsum("xu,ABuv,vy->ABxy", _T.T, blocks, _T) + 128
        planes.append(out.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8))
    return _planes_to_pixels(
        planes, [(c["h"], c["v"]) for c in comps], w, h, hmax, vmax
    )


# --- encoder (test-vector source + re-encode) --------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc, self.n = 0, 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)


def _encode_block(bw, block, qnat, dc_lut, ac_lut, pred):
    coef = fdct2(block - 128.0)
    q = np.rint(coef.reshape(64) / qnat).astype(int)
    zz = [int(q[_ZZ[z]]) for z in range(64)]
    diff = zz[0] - pred
    t = abs(diff).bit_length()
    code, length = dc_lut[t]
    bw.write(code, length)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = max((z for z in range(1, 64) if zz[z]), default=0)
    for z in range(1, last_nz + 1):
        if zz[z] == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_lut[0xF0]
            bw.write(code, length)
            run -= 16
        s = abs(zz[z]).bit_length()
        code, length = ac_lut[(run << 4) | s]
        bw.write(code, length)
        v = zz[z]
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, length = ac_lut[0x00]
        bw.write(code, length)
    return zz[0]


def _quantize_blocks(padded, samp, qsel, qnat, mcus_x, mcus_y):
    """FDCT + quantize every 8x8 block of every (MCU-padded) component
    plane -> list of (blocks_y, blocks_x, 64) int arrays in ZIGZAG scan
    order. Per-block arithmetic is kept IDENTICAL to _encode_block so a
    progressive emission of these grids reproduces the baseline
    encoder's coefficients bit-for-bit."""
    out = []
    for ci, p in enumerate(padded):
        hi, vi = samp[ci]
        bh, bw = mcus_y * vi, mcus_x * hi
        arr = np.zeros((bh, bw, 64), dtype=np.int64)
        qn = qnat[qsel[ci]]
        for by in range(bh):
            for bx in range(bw):
                block = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                q = np.rint(
                    fdct2(block - 128.0).reshape(64) / qn
                ).astype(int)
                arr[by, bx] = [int(q[_ZZ[z]]) for z in range(64)]
        out.append(arr)
    return out


class _ProgScanWriter:
    """Entropy emission for one progressive scan (T.81 Annex G).

    The AC-refinement emitter MIRRORS the decoder's crossing walk
    (jdphuff-shaped, see _decode_prog_scan.ac_refine): correction bits
    for already-nonzero coefficients are emitted exactly when the
    decoder's walk for the current symbol (ZRL span, new-coefficient
    run, or EOB tail) crosses them — never flushed early."""

    def __init__(self, bw, ac_lut):
        self.bw = bw
        self.ac_lut = ac_lut
        self.eobrun = 0
        self.eob_bits: list[int] = []

    def flush_eobrun(self):
        if self.eobrun:
            nb = self.eobrun.bit_length() - 1
            code, length = self.ac_lut[nb << 4]
            self.bw.write(code, length)
            if nb:
                self.bw.write(self.eobrun & ((1 << nb) - 1), nb)
            self.eobrun = 0
        for b in self.eob_bits:
            self.bw.write(b, 1)
        self.eob_bits = []

    def _bump_eobrun(self):
        self.eobrun += 1
        if self.eobrun == 0x7FFF:
            self.flush_eobrun()

    def ac_first(self, zz, ss, se, al):
        """One block of an AC first pass (Ah == 0): magnitudes point-
        transformed toward zero (abs >> al), EOB runs accumulated."""
        bw = self.bw
        r = 0
        for k in range(ss, se + 1):
            v = int(zz[k])
            t = (v if v >= 0 else -v) >> al
            if t == 0:
                r += 1
                continue
            self.flush_eobrun()
            while r > 15:
                code, length = self.ac_lut[0xF0]
                bw.write(code, length)
                r -= 16
            s = t.bit_length()
            code, length = self.ac_lut[(r << 4) | s]
            bw.write(code, length)
            val = t if v >= 0 else -t
            bw.write(val if val >= 0 else val + (1 << s) - 1, s)
            r = 0
        if r:
            self._bump_eobrun()

    def ac_refine(self, zz, ss, se, al):
        """One block of an AC refinement pass (Ah == al + 1)."""
        bw = self.bw
        t = [0] * ss + [
            ((int(zz[k]) if zz[k] >= 0 else -int(zz[k])) >> al)
            for k in range(ss, se + 1)
        ]
        k = ss
        while k <= se:
            # next newly-nonzero coefficient and the zero-history run
            # the decoder will skip to reach it
            j, r = k, 0
            while j <= se and t[j] != 1:
                if t[j] == 0:
                    r += 1
                j += 1
            if j > se:  # no more new coefficients: block joins the EOB run
                for z in range(k, se + 1):
                    if t[z] > 1:
                        self.eob_bits.append(t[z] & 1)
                self._bump_eobrun()
                return
            while r > 15:
                self.flush_eobrun()
                code, length = self.ac_lut[0xF0]
                bw.write(code, length)
                r -= 16
                zeros = 16
                while True:  # bits crossed by THIS ZRL's 16-zero span
                    if t[k] > 1:
                        bw.write(t[k] & 1, 1)
                    elif t[k] == 0:
                        zeros -= 1
                        if zeros == 0:
                            k += 1
                            break
                    k += 1
            self.flush_eobrun()
            code, length = self.ac_lut[(r << 4) | 1]
            bw.write(code, length)
            bw.write(1 if zz[j] > 0 else 0, 1)
            for z in range(k, j):
                if t[z] > 1:
                    bw.write(t[z] & 1, 1)
            k = j + 1


def _encode_progressive_scans(
    qblocks, samp, qsel, dims, dc_luts, ac_lut, restart_interval,
):
    """Emit the 6-scan progressive script; returns a list of
    (sos_header_bytes, entropy_bytes). dims = (mcus_x, mcus_y,
    [(nbh, nbw) per component])."""
    mcus_x, mcus_y, nb = dims
    ncomp = len(qblocks)
    scans = []

    def sos(comp_ids, ss, se, ah, al):
        body = bytes([len(comp_ids)])
        for ci in comp_ids:
            # DC table per component class; AC always the flat table 0
            td = 0 if qsel[ci] == 0 else 1
            body += bytes([ci + 1, (td << 4) | 0])
        return body + bytes([ss, se, (ah << 4) | al])

    def run_dc(ah, al):
        bw = _BitWriter()
        preds = [0] * ncomp
        mcu_n = 0
        rst = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu_n and \
                        mcu_n % restart_interval == 0:
                    bw.flush()
                    bw.out.extend((0xFF, 0xD0 + rst))
                    rst = (rst + 1) & 7
                    preds = [0] * ncomp
                mcu_n += 1
                for ci in range(ncomp):
                    hi, vi = samp[ci]
                    for by in range(vi):
                        for bx in range(hi):
                            v = int(
                                qblocks[ci][my * vi + by, mx * hi + bx, 0]
                            )
                            if ah == 0:
                                sh = v >> al
                                diff = sh - preds[ci]
                                preds[ci] = sh
                                tt = abs(diff).bit_length()
                                code, length = dc_luts[qsel[ci]][tt]
                                bw.write(code, length)
                                if tt:
                                    bw.write(
                                        diff if diff >= 0
                                        else diff + (1 << tt) - 1,
                                        tt,
                                    )
                            else:
                                bw.write((v >> al) & 1, 1)
        bw.flush()
        return bytes(bw.out)

    def run_ac(ci, ss, se, ah, al):
        bw = _BitWriter()
        sw = _ProgScanWriter(bw, ac_lut)
        nbh, nbw = nb[ci]
        blk_n = 0
        rst = 0
        for by in range(nbh):
            for bx in range(nbw):
                if restart_interval and blk_n and \
                        blk_n % restart_interval == 0:
                    sw.flush_eobrun()
                    bw.flush()
                    bw.out.extend((0xFF, 0xD0 + rst))
                    rst = (rst + 1) & 7
                blk_n += 1
                zz = qblocks[ci][by, bx]
                if ah == 0:
                    sw.ac_first(zz, ss, se, al)
                else:
                    sw.ac_refine(zz, ss, se, al)
        sw.flush_eobrun()
        bw.flush()
        return bytes(bw.out)

    all_ids = list(range(ncomp))
    scans.append((sos(all_ids, 0, 0, 0, 1), run_dc(0, 1)))
    for ci in range(ncomp):
        scans.append((sos([ci], 1, 5, 0, 1), run_ac(ci, 1, 5, 0, 1)))
        scans.append((sos([ci], 6, 63, 0, 1), run_ac(ci, 6, 63, 0, 1)))
    scans.append((sos(all_ids, 0, 0, 1, 0), run_dc(1, 0)))
    for ci in range(ncomp):
        scans.append((sos([ci], 1, 5, 1, 0), run_ac(ci, 1, 5, 1, 0)))
        scans.append((sos([ci], 6, 63, 1, 0), run_ac(ci, 6, 63, 1, 0)))
    return scans


def _pad_to(plane: np.ndarray, mult: int) -> np.ndarray:
    ph = -(-plane.shape[0] // mult) * mult
    pw = -(-plane.shape[1] // mult) * mult
    return np.pad(
        plane,
        ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
        mode="edge",
    )


def encode_jpeg(
    width: int,
    height: int,
    channels: int,
    pixels: bytes | bytearray,
    subsample: bool = False,
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """Baseline JPEG encoder: grayscale or YCbCr 4:4:4 (4:2:0 with
    ``subsample=True``), Annex-K tables, optional DRI/RSTn restart
    markers. Lossy by nature — tests bound the round-trip error rather
    than demanding equality.

    ``progressive=True`` emits the same quantized coefficients as a
    SOF2 spectral-selection + successive-approximation scan script
    instead (see module docstring) — progression reorders losslessly,
    so its decode is bit-identical to the baseline file's decode."""
    if channels not in (1, 3):
        raise NotImplementedError("JPEG encode needs 1 or 3 channels")
    px = np.frombuffer(bytes(pixels), dtype=np.uint8).astype(float)
    px = px.reshape(height, width, channels)
    if channels == 1:
        planes = [px[:, :, 0]]
        samp = [(1, 1)]
        qsel = [0]
    else:
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
        if subsample:
            cb = _pad_to(cb, 2).reshape(-1, 2, (width + 1) // 2 * 2 // 2, 2)
            cb = cb.mean(axis=(1, 3))
            cr = _pad_to(cr, 2).reshape(-1, 2, (width + 1) // 2 * 2 // 2, 2)
            cr = cr.mean(axis=(1, 3))
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
        qsel = [0, 1, 1]

    # _Q_* are written natural (row-major) order, exactly as Annex K
    # prints them; the DQT segment below re-orders to zigzag on emit
    qnat = {
        0: np.array(_Q_LUMA, dtype=float),
        1: np.array(_Q_CHROMA, dtype=float),
    }
    dc_luts = [_build_encode_lut(*_DC_LUMA), _build_encode_lut(*_DC_CHROMA)]
    ac_luts = [_build_encode_lut(*_AC_LUMA), _build_encode_lut(*_AC_CHROMA)]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    # edge-pad each plane to exactly its MCU-grid coverage
    padded = []
    for ci, p in enumerate(planes):
        need_h = mcus_y * samp[ci][1] * 8
        need_w = mcus_x * samp[ci][0] * 8
        padded.append(np.pad(
            p,
            ((0, need_h - p.shape[0]), (0, need_w - p.shape[1])),
            mode="edge",
        ))

    if progressive:
        return _assemble_progressive(
            width, height, channels, planes, samp, qsel, qnat, padded,
            mcus_x, mcus_y, restart_interval,
        )

    bw = _BitWriter()
    preds = [0] * len(planes)
    mcu_n = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                bw.flush()
                bw.out.extend((0xFF, 0xD0 + rst))
                rst = (rst + 1) & 7
                preds = [0] * len(planes)
            mcu_n += 1
            for ci, p in enumerate(padded):
                hi, vi = samp[ci]
                sel = qsel[ci]
                for by in range(vi):
                    for bx in range(hi):
                        y0 = (my * vi + by) * 8
                        x0 = (mx * hi + bx) * 8
                        preds[ci] = _encode_block(
                            bw,
                            p[y0 : y0 + 8, x0 : x0 + 8],
                            qnat[sel],
                            dc_luts[sel],
                            ac_luts[sel],
                            preds[ci],
                        )
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dqt = b""
    for tq, table in ((0, _Q_LUMA), (1, _Q_CHROMA)):
        if channels == 1 and tq == 1:
            continue
        # DQT carries the 64 steps in zigzag scan order
        dqt += bytes([tq]) + bytes(table[_ZZ[i]] for i in range(64))
    sof = struct.pack(">BHHB", 8, height, width, len(planes))
    for ci in range(len(planes)):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], qsel[ci]])
    dht = b""
    tables = [(0, 0, _DC_LUMA), (1, 0, _AC_LUMA)]
    if channels == 3:
        tables += [(0, 1, _DC_CHROMA), (1, 1, _AC_CHROMA)]
    for tc, th, (bits, vals) in tables:
        dht += bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    sos = bytes([len(planes)])
    for ci in range(len(planes)):
        td_ta = 0 if qsel[ci] == 0 else 0x11
        sos += bytes([ci + 1, td_ta])
    sos += bytes([0, 63, 0])  # spectral selection (baseline fixed)
    dri = (
        seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + seg(0xDB, dqt)
        + seg(0xC0, sof)
        + seg(0xC4, dht)
        + dri
        + seg(0xDA, sos)
        + bytes(bw.out)
        + b"\xff\xd9"
    )


def _assemble_progressive(
    width, height, channels, planes, samp, qsel, qnat, padded,
    mcus_x, mcus_y, restart_interval,
):
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    qblocks = _quantize_blocks(padded, samp, qsel, qnat, mcus_x, mcus_y)
    # non-interleaved AC scans cover only the real (non-MCU-padded)
    # block grid of each component
    nb = []
    for ci in range(len(planes)):
        comp_w = -(-width * samp[ci][0] // hmax)
        comp_h = -(-height * samp[ci][1] // vmax)
        nb.append((-(-comp_h // 8), -(-comp_w // 8)))
    dc_luts = [_build_encode_lut(*_DC_LUMA), _build_encode_lut(*_DC_CHROMA)]
    ac_flat = _build_encode_lut(*_AC_FLAT)
    scans = _encode_progressive_scans(
        qblocks, samp, qsel, (mcus_x, mcus_y, nb), dc_luts, ac_flat,
        restart_interval,
    )

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dqt = b""
    for tq, table in ((0, _Q_LUMA), (1, _Q_CHROMA)):
        if channels == 1 and tq == 1:
            continue
        dqt += bytes([tq]) + bytes(table[_ZZ[i]] for i in range(64))
    sof = struct.pack(">BHHB", 8, height, width, len(planes))
    for ci in range(len(planes)):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], qsel[ci]])
    dht = b""
    tables = [(0, 0, _DC_LUMA), (1, 0, _AC_FLAT)]
    if channels == 3:
        tables.append((0, 1, _DC_CHROMA))
    for tc, th, (bits, vals) in tables:
        dht += bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    dri = (
        seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    out = b"\xff\xd8" + seg(0xDB, dqt) + seg(0xC2, sof) + seg(0xC4, dht) + dri
    for sos_body, entropy in scans:
        out += seg(0xDA, sos_body) + entropy
    return out + b"\xff\xd9"
