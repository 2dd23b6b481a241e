"""Baseline JPEG (JFIF) codec — pure NumPy, no imaging library.

Implements the ITU-T T.81 baseline sequential process for 8-bit GRAYSCALE
and YCbCr COLOR (4:4:4, 4:2:2 and 4:2:0 chroma subsampling):
SOI/APP0/DQT/SOF0/DHT/SOS/EOI, 8x8 forward/inverse DCT (orthonormal matrix
form), Annex-K luminance + chrominance quantization tables with
libjpeg-style quality scaling, Annex-K Huffman tables, per-component DC
prediction, interleaved MCUs with general (Hi, Vi) sampling factors,
zigzag, and 0xFF byte stuffing.  Everything here is from the public JPEG
spec.

Role: the reference reads real lossy imagery through GDAL
[ref: mod/geo_raster_c.pyx:1149-1174]; this closes the "lossy fmt" gap so
the x3 parity contract (decoded-pixel PSNR >= 40 dB) runs on genuinely
DCT-coded bytes instead of the JPGQ quantize stub — and (round 3) carries a
real image+caption corpus's RGB payloads, not just grayscale bands.

Scope: encoder emits 1-component (grayscale) or 3-component baseline at
4:4:4, 4:2:2 or 4:2:0 (JFIF YCbCr; all components share the Annex-K
luminance Huffman tables — spec-legal, simplifies the vectorized coder);
decoder handles baseline sequential 1- and 3-component scans —
interleaved OR non-interleaved (one scan per component) — with ANY
power-of-two (Hi, Vi) sampling factors ≤ 4 (4:2:0 — the dominant layout
in real photo corpora — 4:2:2, 4:4:0, 4:1:1 all included; component
planes replicate up to full resolution), WITH restart intervals
(DRI/RSTn), and arbitrary per-component quant/Huffman table ids — AND
(round 4) PROGRESSIVE (SOF2) streams: spectral selection, successive
approximation, DC/AC refinement scans, EOB runs, interleaved or
single-component DC scans with sampling factors (T.81 Annex G).
``encode_progressive`` emits a 4-mode scan script as the decoder's
cross-path parity twin.  Arithmetic coding and hierarchical (SOF9+)
still raise.

One entropy path each way: the baseline coder is vectorized
(``_entropy_vector``) and the interleaved baseline decoder is LUT-driven
(``_baseline_zz``); their per-symbol parity oracles live in
``tests/oracles.py``.
"""

from __future__ import annotations

import struct

import numpy as np

# --- 8x8 DCT (orthonormal) --------------------------------------------------

_K = np.arange(8, dtype=np.float64)
_DCT_M = np.sqrt(2.0 / 8.0) * np.cos((2 * _K[None, :] + 1) * _K[:, None] * np.pi / 16.0)
_DCT_M[0] = np.sqrt(1.0 / 8.0)

# --- Annex K luminance quantization table ------------------------------------

_Q_LUM = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99]], dtype=np.float64)

# --- zigzag ------------------------------------------------------------------

def _zigzag_order():
    idx = np.arange(64).reshape(8, 8)
    out = []
    for s in range(15):
        d = [(i, s - i) for i in range(8) if 0 <= s - i < 8]
        if s % 2 == 0:
            d = d[::-1]
        out.extend(idx[i, j] for i, j in d)
    return np.array(out)

_ZZ = _zigzag_order()          # flat-block index for each zigzag position
_UNZZ = np.argsort(_ZZ)        # zigzag position for each flat-block index

# --- Annex K Huffman tables (luminance DC / AC) -------------------------------

_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]


def _build_codes(bits, vals):
    """Canonical Huffman: symbol -> (code, length)."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out

_DC_ENC = _build_codes(_DC_BITS, _DC_VALS)
_AC_ENC = _build_codes(_AC_BITS, _AC_VALS)


# --- Annex K chrominance quantization table -----------------------------------

_Q_CHR = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99]], dtype=np.float64)


def _scale_qt(base: np.ndarray, quality: int) -> np.ndarray:
    q = int(np.clip(quality, 1, 100))
    s = 5000.0 / q if q < 50 else 200.0 - 2.0 * q
    return np.clip(np.floor((base * s + 50.0) / 100.0), 1, 255)


def quant_table(quality: int) -> np.ndarray:
    """Annex-K luminance table under libjpeg's quality scaling."""
    return _scale_qt(_Q_LUM, quality)


def quant_table_chroma(quality: int) -> np.ndarray:
    """Annex-K chrominance table under libjpeg's quality scaling."""
    return _scale_qt(_Q_CHR, quality)


# --- JFIF YCbCr <-> RGB (ITU-R BT.601 full-range, the JFIF convention) ---------

def rgb_to_ycbcr(rgb: np.ndarray):
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return y, cb, cr


def ycbcr_to_rgb(y, cb, cr) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _category(v: np.ndarray) -> np.ndarray:
    """Bit-size category of each coefficient (0 for 0)."""
    av = np.abs(v)
    out = np.zeros(v.shape, dtype=np.int32)
    nz = av > 0
    out[nz] = np.floor(np.log2(av[nz])).astype(np.int32) + 1
    return out


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:          # byte stuffing
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            b = ((self.acc << pad) | ((1 << pad) - 1)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
            self.acc = 0
            self.nbits = 0


# symbol -> (code, length) as flat arrays for the vectorized coder
_DC_CODE = np.zeros(12, np.int64)
_DC_LEN = np.zeros(12, np.int64)
for _s, (_c, _l) in _DC_ENC.items():
    _DC_CODE[_s], _DC_LEN[_s] = _c, _l
_AC_CODE = np.zeros(256, np.int64)
_AC_LEN = np.zeros(256, np.int64)
for _s, (_c, _l) in _AC_ENC.items():
    _AC_CODE[_s], _AC_LEN[_s] = _c, _l


def _pack_bits(vals: np.ndarray, nbits: np.ndarray) -> np.ndarray:
    """MSB-first bit packing of (value, bit-length) pairs + 1-padding to a
    byte boundary + 0xFF byte stuffing — all vectorized."""
    keep = nbits > 0
    vals, nbits = vals[keep], nbits[keep]
    total = int(nbits.sum())
    item = np.repeat(np.arange(len(vals)), nbits)
    start = np.repeat(np.cumsum(nbits) - nbits, nbits)
    j = np.arange(total) - start                     # bit index within item
    bits = ((vals[item] >> (nbits[item] - 1 - j)) & 1).astype(np.uint8)
    pad = (-total) % 8
    if pad:
        bits = np.concatenate([bits, np.ones(pad, np.uint8)])  # spec: pad w/ 1s
    by = np.packbits(bits)
    counts = np.where(by == 0xFF, 2, 1)              # stuff 0x00 after 0xFF
    out = np.zeros(int(counts.sum()), np.uint8)
    out[np.cumsum(counts) - counts] = by
    return out


def _entropy_vector(zz: np.ndarray, dc: np.ndarray) -> bytes:
    """Vectorized entropy coder: build the full emission sequence (DC, ZRLs,
    AC run/size symbols, EOBs) as flat arrays, then one bit-packing pass.
    Byte-identical to the per-symbol reference coder in ``tests/oracles.py``
    (asserted in tests).  ``dc`` = per-block DC DIFFS, prediction applied
    by the caller (sequential for grayscale, per-component chains for
    interleaved color MCUs)."""
    nb = zz.shape[0]
    dc = np.asarray(dc, dtype=np.int64)
    s_dc = _category(dc).astype(np.int64)

    ac = zz[:, 1:]
    bi, pos = np.nonzero(ac)                         # block-major, pos ascending
    av = ac[bi, pos].astype(np.int64)
    s_ac = _category(av).astype(np.int64)
    first = np.ones(len(bi), bool)
    first[1:] = bi[1:] != bi[:-1]
    prev = np.empty_like(pos)
    if len(pos):
        prev[1:] = pos[:-1]
    prev[first] = -1
    run = pos - prev - 1
    n_zrl = run // 16
    rs = ((run % 16) << 4) | s_ac

    last_pos = np.full(nb, -1, np.int64)
    if len(bi):
        last_pos[bi] = pos                           # pos ascending per block
    eob_blocks = np.nonzero(last_pos < 62)[0]

    # records in stream order: key = (block, slot); DC slot 0, AC slot pos+1,
    # EOB slot 65
    r_block = np.concatenate([np.arange(nb), bi, eob_blocks])
    r_slot = np.concatenate([np.zeros(nb, np.int64), pos + 1,
                             np.full(len(eob_blocks), 65, np.int64)])
    r_kind = np.concatenate([np.zeros(nb, np.int64),                 # 0 = DC
                             np.ones(len(bi), np.int64),             # 1 = AC
                             np.full(len(eob_blocks), 2, np.int64)])  # 2 = EOB
    r_zrl = np.concatenate([np.zeros(nb, np.int64), n_zrl,
                            np.zeros(len(eob_blocks), np.int64)])
    r_sym = np.concatenate([s_dc, rs, np.zeros(len(eob_blocks), np.int64)])
    r_val = np.concatenate([dc, av, np.zeros(len(eob_blocks), np.int64)])
    r_sz = np.concatenate([s_dc, s_ac, np.zeros(len(eob_blocks), np.int64)])
    order = np.lexsort((r_slot, r_block))
    r_kind, r_zrl, r_sym = r_kind[order], r_zrl[order], r_sym[order]
    r_val, r_sz = r_val[order], r_sz[order]

    # expand ZRL prefixes: record -> n_zrl ZRL emissions + 1 final emission
    reps = r_zrl + 1
    em = np.repeat(np.arange(len(reps)), reps)
    starts = np.repeat(np.cumsum(reps) - reps, reps)
    is_final = (np.arange(len(em)) - starts) == (reps[em] - 1)

    kind = r_kind[em]
    code = np.where(kind == 0, _DC_CODE[np.clip(r_sym[em], 0, 11)],
                    _AC_CODE[r_sym[em]])
    clen = np.where(kind == 0, _DC_LEN[np.clip(r_sym[em], 0, 11)],
                    _AC_LEN[r_sym[em]])
    code = np.where(is_final, code, _AC_CODE[0xF0])  # ZRL prefix emissions
    clen = np.where(is_final, clen, _AC_LEN[0xF0])
    ev = r_val[em]
    extra = np.where(ev > 0, ev, ev + (1 << r_sz[em]) - 1)
    elen = np.where(is_final & (kind != 2), r_sz[em], 0)

    vals = np.stack([code, extra], axis=1).ravel()
    lens = np.stack([clen, elen], axis=1).ravel()
    return _pack_bits(vals, lens).tobytes()


def _plane_zz(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """(H, W) float plane -> (n_blocks, 64) quantized zigzag coefficients
    (edge-replication pad to 8x8 multiples, level shift, DCT, quantize)."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    a = np.pad(plane.astype(np.float64), ((0, ph), (0, pw)), mode="edge") - 128.0
    bh, bw = a.shape[0] // 8, a.shape[1] // 8
    nb = bh * bw
    blocks = np.ascontiguousarray(
        a.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)).reshape(nb, 8, 8)
    # M B M^T as one broadcast batched matmul (see _pixels_from_zc)
    coef = _DCT_M @ blocks @ _DCT_M.T
    q = np.round(coef / qt).astype(np.int32)
    return q.reshape(nb, 64)[:, _ZZ]                             # zigzag per block


def _headers(h: int, w: int, qts_zz: list, comps: list,
             restart_interval: int = 0, sampling: list | None = None) -> bytes:
    """SOI..SOS header bytes.  ``qts_zz`` = zigzagged uint8 quant tables by
    id; ``comps`` = [(component_id, quant_table_id)]; ``sampling`` =
    [(hi, vi)] per component (default 1x1 each; all components use Huffman
    table 0 — the Annex-K luminance pair).  A nonzero
    ``restart_interval`` emits a DRI segment."""
    out = bytearray()
    out += b"\xFF\xD8"                                           # SOI
    out += b"\xFF\xE0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, qt_zz in enumerate(qts_zz):
        out += b"\xFF\xDB" + struct.pack(">HB", 67, tq) + qt_zz.tobytes()
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for k, (cid, tq) in enumerate(comps):
        hi, vi = sampling[k] if sampling else (1, 1)
        sof += bytes([cid, (hi << 4) | vi, tq])
    out += b"\xFF\xC0" + struct.pack(">H", 2 + len(sof)) + sof
    out += b"\xFF\xC4" + struct.pack(">HB", 2 + 1 + 16 + len(_DC_VALS), 0x00) \
        + bytes(_DC_BITS) + bytes(_DC_VALS)
    out += b"\xFF\xC4" + struct.pack(">HB", 2 + 1 + 16 + len(_AC_VALS), 0x10) \
        + bytes(_AC_BITS) + bytes(_AC_VALS)
    if restart_interval:
        out += b"\xFF\xDD" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([len(comps)])
    for cid, _tq in comps:
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    out += b"\xFF\xDA" + struct.pack(">H", 2 + len(sos)) + sos
    return bytes(out)


def _interleaved_dc(zz: np.ndarray, pattern) -> np.ndarray:
    """Per-block DC diffs with per-component prediction chains over
    interleaved MCU rows.  ``pattern`` = component index of each block
    within one MCU (e.g. [0, 1, 2] @4:4:4, [0, 0, 0, 0, 1, 2] @4:2:0)."""
    pattern = np.asarray(pattern)
    comp = np.tile(pattern, zz.shape[0] // len(pattern))
    dc = np.empty(zz.shape[0], dtype=np.int64)
    for c in np.unique(pattern):
        m = comp == c
        z = zz[m]
        d = z[:, 0].astype(np.int64).copy()
        d[1:] -= z[:-1, 0]
        dc[m] = d
    return dc


def _encode_scan(zz: np.ndarray, pattern, restart_interval: int) -> bytes:
    """Entropy-coded scan, optionally split at restart intervals: every Ri
    MCUs the DC predictors reset, the bitstream 1-pads to a byte boundary,
    and an RSTn marker (n cycling 0..7) separates the segments — T.81
    §B.2.1.2 (restart markers are emitted RAW, never byte-stuffed)."""
    bpm = len(pattern)
    n_mcu = zz.shape[0] // bpm
    if not restart_interval:
        return _entropy_vector(zz, _interleaved_dc(zz, pattern))
    out = bytearray()
    n = seg = 0
    while n < n_mcu:
        m = min(restart_interval, n_mcu - n)
        chunk = zz[n * bpm:(n + m) * bpm]
        if n:
            out += bytes([0xFF, 0xD0 + ((seg - 1) % 8)])
        out += _entropy_vector(chunk, _interleaved_dc(chunk, pattern))
        n += m
        seg += 1
    return bytes(out)


_SUBSAMPLINGS = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}


def encode(arr: np.ndarray, quality: int = 90,
           restart_interval: int = 0, subsampling: str = "444") -> bytes:
    """(H, W) uint8 grayscale or (H, W, 3) uint8 RGB -> baseline JFIF bytes.

    Color: JFIF YCbCr with Annex-K luma + chroma quant tables and shared
    Huffman tables.  ``subsampling``: "444" (one block per component per
    MCU), "422" (Y 2x1) or "420" (Y 2x2 — the dominant layout in real
    photo corpora; chroma box-averaged over the sampling window).
    ``restart_interval``: emit DRI + RSTn markers every Ri MCUs (error
    resilience; also exercises the decoder's restart path)."""
    arr = np.asarray(arr)
    if arr.ndim == 3 and arr.shape[2] == 3:
        h, w, _ = arr.shape
        if subsampling not in _SUBSAMPLINGS:
            raise ValueError(f"subsampling must be one of "
                             f"{sorted(_SUBSAMPLINGS)}")
        hy, vy = _SUBSAMPLINGS[subsampling]
        qt_l, qt_c = quant_table(quality), quant_table_chroma(quality)
        y, cb, cr = rgb_to_ycbcr(arr)
        qts = [qt_l.reshape(64)[_ZZ].astype(np.uint8),
               qt_c.reshape(64)[_ZZ].astype(np.uint8)]
        comps = [(1, 0), (2, 1), (3, 1)]
        if (hy, vy) == (1, 1):
            zzs = [_plane_zz(y, qt_l), _plane_zz(cb, qt_c),
                   _plane_zz(cr, qt_c)]
            nb = zzs[0].shape[0]
            # interleave MCUs: rows [Y0, Cb0, Cr0, Y1, ...]
            zz = np.empty((nb * 3, 64), dtype=np.int64)
            for c, z in enumerate(zzs):
                zz[c::3] = z
            scan = _encode_scan(zz, [0, 1, 2], restart_interval)
            head = _headers(h, w, qts, comps, restart_interval)
            return head + scan + b"\xFF\xD9"
        # subsampled: MCU = (8*vy, 8*hy) px of Y + one block per chroma.
        # Pad everything to the MCU grid (edge replication), box-average
        # the chroma over each (vy, hy) window, then interleave per MCU:
        # vy*hy Y blocks in raster order, Cb, Cr (T.81 A.2.3).
        mx, my = -(-w // (8 * hy)), -(-h // (8 * vy))
        pw, ph = mx * 8 * hy, my * 8 * vy
        pad = ((0, ph - h), (0, pw - w))
        yp = np.pad(y.astype(np.float64), pad, mode="edge")
        sub = [np.pad(p.astype(np.float64), pad, mode="edge")
               .reshape(my * 8, vy, mx * 8, hy).mean(axis=(1, 3))
               for p in (cb, cr)]
        zzy = (_plane_zz(yp, qt_l)
               .reshape(my, vy, mx, hy, 64).transpose(0, 2, 1, 3, 4)
               .reshape(my * mx, vy * hy, 64))
        zzc = [_plane_zz(p, qt_c).reshape(my * mx, 1, 64) for p in sub]
        zz = np.concatenate([zzy] + zzc, axis=1) \
            .reshape(my * mx * (vy * hy + 2), 64).astype(np.int64)
        pattern = [0] * (vy * hy) + [1, 2]
        scan = _encode_scan(zz, pattern, restart_interval)
        head = _headers(h, w, qts, comps, restart_interval,
                        sampling=[(hy, vy), (1, 1), (1, 1)])
        return head + scan + b"\xFF\xD9"

    if arr.ndim != 2:
        raise ValueError("grayscale (H, W) or RGB (H, W, 3) only")
    h, w = arr.shape
    qt = quant_table(quality)
    zz = _plane_zz(arr.astype(np.float64), qt)
    scan = _encode_scan(zz.astype(np.int64), [0], restart_interval)
    head = _headers(h, w, [qt.reshape(64)[_ZZ].astype(np.uint8)], [(1, 0)],
                    restart_interval)
    return head + scan + b"\xFF\xD9"


def _sos_hdr(specs, ss, se, ah, al) -> bytes:
    b = bytes([len(specs)])
    for cid, td, ta in specs:
        b += bytes([cid, (td << 4) | ta])
    b += bytes([ss, se, (ah << 4) | al])
    return b"\xFF\xDA" + struct.pack(">H", 2 + len(b)) + b


def encode_progressive(arr: np.ndarray, quality: int = 90) -> bytes:
    """Progressive JFIF (SOF2) encoder — the parity twin that lets the
    progressive DECODER be validated against a very different code path:
    the coefficients are identical to the baseline encoder's at the same
    quality, so progressive decode must reproduce baseline decode EXACTLY.

    Scan script (exercises BOTH progressive modes of T.81 Annex G):
      1. DC, all components interleaved, successive approximation Al=1
      2. DC refinement (Ah=1, Al=0) — raw LSB bits, no Huffman
      3. per component: AC spectral selection 1..63, Al=1 (EOB runs are
         flushed per block as EOB0 — the Annex-K AC table defines no
         EOBn>0 symbols, which is spec-legal, just less compressed)
      4. per component: AC refinement 1..63 (Ah=1, Al=0) with ZRL +
         buffered-correction-bit semantics
    Grayscale or RGB 4:4:4."""
    arr = np.asarray(arr)
    color = arr.ndim == 3
    if color and arr.shape[2] != 3:
        raise ValueError("grayscale (H, W) or RGB (H, W, 3) only")
    h, w = arr.shape[:2]
    qt_l = quant_table(quality)
    if color:
        qt_c = quant_table_chroma(quality)
        y, cb, cr = rgb_to_ycbcr(arr)
        zzs = [_plane_zz(y, qt_l), _plane_zz(cb, qt_c), _plane_zz(cr, qt_c)]
        comps = [(1, 0), (2, 1), (3, 1)]
        qts = [qt_l, qt_c]
    else:
        zzs = [_plane_zz(arr.astype(np.float64), qt_l)]
        comps = [(1, 0)]
        qts = [qt_l]
    ncomp = len(zzs)
    n_blocks = zzs[0].shape[0]

    out = bytearray()
    out += b"\xFF\xD8"
    out += (b"\xFF\xE0" + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, qt in enumerate(qts):
        out += (b"\xFF\xDB" + struct.pack(">HB", 67, tq)
                + qt.reshape(64)[_ZZ].astype(np.uint8).tobytes())
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid, tq in comps:
        sof += bytes([cid, 0x11, tq])
    out += b"\xFF\xC2" + struct.pack(">H", 2 + len(sof)) + sof
    out += b"\xFF\xC4" + struct.pack(">HB", 2 + 1 + 16 + len(_DC_VALS), 0x00) \
        + bytes(_DC_BITS) + bytes(_DC_VALS)
    out += b"\xFF\xC4" + struct.pack(">HB", 2 + 1 + 16 + len(_AC_VALS), 0x10) \
        + bytes(_AC_BITS) + bytes(_AC_VALS)

    all_specs = [(cid, 0, 0) for cid, _tq in comps]

    # scan 1: DC first, interleaved, Al=1 (point transform = arith shift)
    bw_ = _BitWriter()
    preds = [0] * ncomp
    for i in range(n_blocks):
        for c in range(ncomp):
            v = int(zzs[c][i, 0]) >> 1
            diff = v - preds[c]
            preds[c] = v
            s = int(abs(diff)).bit_length()
            code, ln = _DC_ENC[s]
            bw_.write(code, ln)
            if s:
                bw_.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    bw_.flush()
    out += _sos_hdr(all_specs, 0, 0, 0, 1) + bytes(bw_.buf)

    # scan 2: DC refinement (raw LSB per block, two's-complement bit)
    bw_ = _BitWriter()
    for i in range(n_blocks):
        for c in range(ncomp):
            bw_.write(int(zzs[c][i, 0]) & 1, 1)
    bw_.flush()
    out += _sos_hdr(all_specs, 0, 0, 1, 0) + bytes(bw_.buf)

    # scans 3..: AC first (Al=1), one scan per component
    for c in range(ncomp):
        bw_ = _BitWriter()
        for i in range(n_blocks):
            row = zzs[c][i]
            r = 0
            for k in range(1, 64):
                v = int(row[k])
                t = abs(v) >> 1
                if t == 0:
                    r += 1
                    continue
                while r > 15:
                    code, ln = _AC_ENC[0xF0]
                    bw_.write(code, ln)
                    r -= 16
                s = t.bit_length()
                code, ln = _AC_ENC[(r << 4) | s]
                bw_.write(code, ln)
                tv = t if v > 0 else -t
                bw_.write(tv if tv > 0 else tv + (1 << s) - 1, s)
                r = 0
            if r:
                code, ln = _AC_ENC[0x00]                         # EOB0
                bw_.write(code, ln)
        bw_.flush()
        out += _sos_hdr([(comps[c][0], 0, 0)], 1, 63, 0, 1) + bytes(bw_.buf)

    # scans ..: AC refinement (Ah=1, Al=0), one scan per component
    for c in range(ncomp):
        bw_ = _BitWriter()
        for i in range(n_blocks):
            row = zzs[c][i]
            r, pend = 0, []
            for k in range(1, 64):
                v = int(row[k])
                t = abs(v)                    # >> Al with Al = 0
                if t == 0:
                    r += 1
                    continue
                # any nonzero bounds pending ZRLs (libjpeg emission order)
                while r > 15:
                    code, ln = _AC_ENC[0xF0]
                    bw_.write(code, ln)
                    for b in pend:
                        bw_.write(b, 1)
                    pend = []
                    r -= 16
                if t >> 1:                    # history-nonzero: correction
                    pend.append(t & 1)
                    continue
                code, ln = _AC_ENC[(r << 4) | 1]   # newly significant (±1)
                bw_.write(code, ln)
                bw_.write(1 if v > 0 else 0, 1)
                for b in pend:
                    bw_.write(b, 1)
                pend = []
                r = 0
            if r or pend:
                code, ln = _AC_ENC[0x00]                         # EOB0
                bw_.write(code, ln)
                for b in pend:
                    bw_.write(b, 1)
        bw_.flush()
        out += _sos_hdr([(comps[c][0], 0, 0)], 1, 63, 1, 0) + bytes(bw_.buf)

    return bytes(out + b"\xFF\xD9")


# --- decoder ------------------------------------------------------------------

class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        while self.nbits <= 24 and self.pos < len(self.data):
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 1                                # stuffed
                else:
                    self.pos -= 1                                # marker: stop
                    b = None
                    break
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill()
        if self.nbits < n:                                       # pad past EOI
            self.acc = (self.acc << (n - self.nbits))
            self.nbits = n
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v


def _build_decode(bits, vals):
    """(code, length) -> symbol lookup dict."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_read(br: _BitReader, table) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.read(1)
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _build_lut(bits, vals):
    """Canonical codes -> 16-bit-peek LUT: lut_len[idx] = code length (0 =
    invalid), lut_sym[idx] = symbol, for every 16-bit window starting with
    that code."""
    lut_len = np.zeros(65536, np.uint8)
    lut_sym = np.zeros(65536, np.int16)
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            base = code << (16 - ln)
            lut_len[base:base + (1 << (16 - ln))] = ln
            lut_sym[base:base + (1 << (16 - ln))] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return lut_len, lut_sym


_LUT_CACHE: dict = {}


def _lut_cached(table):
    """PACKED LUT as one plain Python list — ``(code_len << 8) | symbol``
    per 16-bit window (entries < 256 are invalid codes).  One list index +
    shift/mask per symbol; plain-list scalar indexing is ~5x faster than
    numpy element access in the per-symbol loop.  Cached per table."""
    bits, vals = table
    key = (tuple(bits), tuple(vals))
    hit = _LUT_CACHE.get(key)
    if hit is None:
        ln, sym = _build_lut(bits, vals)
        hit = ((ln.astype(np.int32) << 8)
               | sym.astype(np.int32)).tolist()
        _LUT_CACHE[key] = hit
    return hit


def _scan_windows(scan: bytes) -> np.ndarray:
    """Entropy-coded segment -> uint16 array W where W[i] = the 16 bits
    starting at BIT offset i (stuffed 0x00 removed, stream cut at the first
    marker, zero-padded past the end like ``_BitReader``)."""
    raw = np.frombuffer(scan, np.uint8)
    is_ff = raw[:-1] == 0xFF
    marker = np.nonzero(is_ff & (raw[1:] != 0))[0]
    end = int(marker[0]) if len(marker) else len(raw)
    raw = raw[:end]
    keep = np.ones(len(raw), bool)
    keep[1:][(raw[:-1] == 0xFF) & (raw[1:] == 0)] = False   # unstuff
    bits = np.unpackbits(raw[keep])
    bits = np.concatenate([bits, np.zeros(32, np.uint8)])   # pad past EOI
    n = len(bits) - 16
    W = np.zeros(n, np.uint16)
    for k in range(16):
        W |= bits[k:k + n].astype(np.uint16) << (15 - k)
    return W


def _split_restart_segments(scan: bytes) -> list:
    """Entropy segments delimited by RSTn markers.  Genuine FF bytes inside
    entropy data are always stuffed (FF 00), so a raw FF D0-D7 is a restart
    marker; scanning stops at the first non-RST, non-stuffing marker
    (EOI or the next frame)."""
    segs = []
    start = i = 0
    n = len(scan)
    while i < n - 1:
        if scan[i] == 0xFF:
            m = scan[i + 1]
            if 0xD0 <= m <= 0xD7:
                segs.append(scan[start:i])
                start = i = i + 2
                continue
            if m not in (0x00, 0xFF):
                break  # EOI / next marker
        i += 1
    segs.append(scan[start:])
    return segs


def _entropy_end(data: bytes, pos: int) -> int:
    """Index just past an entropy-coded segment: the next marker that is
    neither a stuffed 0x00 nor an RSTn."""
    n = len(data)
    while True:
        nxt = data.find(b"\xff", pos)
        if nxt < 0 or nxt >= n - 1:
            return n
        m2 = data[nxt + 1]
        if m2 == 0x00 or 0xD0 <= m2 <= 0xD7:
            pos = nxt + 2
            continue
        return nxt


def _ac_first_block(blk, br, tab, ss, se, al, eobrun):
    """Progressive AC first scan (Ah == 0) for one block — T.81 G.1.2.2:
    EOBn codes carry a run of all-ends-here blocks; values are scaled by
    the point transform (<< Al)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_read(br, tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:                                          # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.read(r)
            break
        k += r
        if k > se:
            break
        blk[k] = _extend(br.read(s), s) << al
        k += 1
    return eobrun


def _ac_refine_block(blk, br, tab, ss, se, al, eobrun):
    """Progressive AC refinement scan (Ah = Al + 1) for one block — T.81
    G.1.2.3: newly-significant coefficients arrive as ±1<<Al; every
    history-nonzero coefficient traversed consumes one correction bit."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_read(br, tab)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.read(r)
                    break
                # r == 15 (ZRL): skip 16 zero-history coefficients
            else:
                val = p1 if br.read(1) else m1
            while k <= se:
                cv = int(blk[k])
                if cv != 0:
                    if br.read(1) and (cv & p1) == 0:
                        blk[k] = cv + (p1 if cv >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            cv = int(blk[k])
            if cv != 0:
                if br.read(1) and (cv & p1) == 0:
                    blk[k] = cv + (p1 if cv >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _comp_block_dims(ci, sof_comps, h, w, hmax, vmax):
    """Non-interleaved scan geometry (T.81 A.2.2): the component's OWN
    block grid, ceil(comp_dim / 8) — smaller than the padded MCU grid."""
    _cid, _tq, hi, vi = sof_comps[ci]
    cw = -(-w * hi // hmax)
    ch = -(-h * vi // vmax)
    return -(-ch // 8), -(-cw // 8)


def _sequential_scan(scan_bytes, scan_comps, sof_comps, coefs, huff_dc,
                     huff_ac, restart_ri, h, w, hmax, vmax):
    """Non-interleaved BASELINE scan (SOF0, ns == 1): full DC+AC coding of
    one component over its own block raster (T.81 A.2.2 — the grid is the
    component's ceil(dim/8) blocks, NOT the padded MCU grid)."""
    ci, td, ta = scan_comps[0]
    bh_i, bw_i = _comp_block_dims(ci, sof_comps, h, w, hmax, vmax)
    n_units = bh_i * bw_i
    dct = _build_decode(*huff_dc[td])
    act = _build_decode(*huff_ac[ta])
    segments = (_split_restart_segments(scan_bytes) if restart_ri
                else [scan_bytes])
    done = 0
    for seg_b in segments:
        if done >= n_units:
            break
        m = min(restart_ri, n_units - done) if restart_ri else n_units
        br = _BitReader(seg_b)
        pred = 0
        for u in range(done, done + m):
            blk = coefs[ci][u // bw_i, u % bw_i]
            s = _huff_read(br, dct)
            pred += _extend(br.read(s), s) if s else 0
            blk[0] = pred
            k = 1
            while k < 64:
                rs = _huff_read(br, act)
                if rs == 0x00:                                   # EOB
                    break
                if rs == 0xF0:                                   # ZRL
                    k += 16
                    continue
                k += rs >> 4
                if k > 63:
                    break
                s2 = rs & 0x0F
                blk[k] = _extend(br.read(s2), s2)
                k += 1
        done += m


def _progressive_scan(scan_bytes, scan_comps, sof_comps, coefs, huff_dc,
                      huff_ac, ss, se, ah, al, restart_ri, mcus_x,
                      h, w, hmax, vmax):
    """Decode one progressive scan into the per-component coefficient
    grids.  DC scans (Ss == 0) may be interleaved (MCU order with sampling
    factors) or single-component; AC scans are always single-component
    over the component's own block raster.  Restart intervals reset DC
    predictors and the EOB run."""
    segments = (_split_restart_segments(scan_bytes) if restart_ri
                else [scan_bytes])
    if ss == 0:                                                  # DC scan
        if se != 0:
            raise ValueError("progressive DC scan must have Se == 0")
        if len(scan_comps) > 1:
            per_mcu = []
            for ci, td, _ta in scan_comps:
                _cid, _tq, hi, vi = sof_comps[ci]
                for iy in range(vi):
                    for ix in range(hi):
                        per_mcu.append((ci, td, iy, ix, hi, vi))
            # MCU count straight from the padded grid: rows/vi x cols/hi
            _c0, _t0, h0, v0 = sof_comps[0]
            n_units = (coefs[0].shape[0] // v0) * (coefs[0].shape[1] // h0)

            def units(start, count):
                for m in range(start, start + count):
                    my, mx = divmod(m, mcus_x)
                    for ci, td, iy, ix, hi, vi in per_mcu:
                        yield ci, td, my * vi + iy, mx * hi + ix
        else:
            ci0, td0, _ta0 = scan_comps[0]
            bh_i, bw_i = _comp_block_dims(ci0, sof_comps, h, w, hmax, vmax)
            n_units = bh_i * bw_i

            def units(start, count):
                for u in range(start, start + count):
                    yield ci0, td0, u // bw_i, u % bw_i

        tabs = ({td: _build_decode(*huff_dc[td])
                 for _ci, td, _ta in scan_comps} if ah == 0 else {})
        done = 0
        for seg_b in segments:
            if done >= n_units:
                break
            m = min(restart_ri, n_units - done) if restart_ri else n_units
            br = _BitReader(seg_b)
            if ah == 0:
                preds = [0] * len(sof_comps)
                for ci, td, by, bx in units(done, m):
                    s = _huff_read(br, tabs[td])
                    preds[ci] += _extend(br.read(s), s) if s else 0
                    coefs[ci][by, bx, 0] = preds[ci] << al
            else:                                                # refinement
                p1 = 1 << al
                for ci, _td, by, bx in units(done, m):
                    if br.read(1):
                        coefs[ci][by, bx, 0] = int(coefs[ci][by, bx, 0]) | p1
            done += m
        return

    if len(scan_comps) != 1:                                     # AC scan
        raise ValueError("progressive AC scans are single-component")
    ci0, _td0, ta0 = scan_comps[0]
    bh_i, bw_i = _comp_block_dims(ci0, sof_comps, h, w, hmax, vmax)
    n_units = bh_i * bw_i
    tab = _build_decode(*huff_ac[ta0])
    done = 0
    for seg_b in segments:
        if done >= n_units:
            break
        m = min(restart_ri, n_units - done) if restart_ri else n_units
        br = _BitReader(seg_b)
        eobrun = 0
        for u in range(done, done + m):
            blk = coefs[ci0][u // bw_i, u % bw_i]
            if ah == 0:
                eobrun = _ac_first_block(blk, br, tab, ss, se, al, eobrun)
            else:
                eobrun = _ac_refine_block(blk, br, tab, ss, se, al, eobrun)
        done += m


def decode(data: bytes) -> np.ndarray:
    """Baseline-sequential or progressive JFIF -> (H, W) uint8 grayscale
    or (H, W, 3) uint8 RGB.

    Entropy decode uses a 16-bit-peek LUT over a precomputed bit-window
    array (one O(1) lookup per symbol); progressive and non-interleaved
    scans use the per-bit reader.

    Corrupt/truncated streams fail CLEANLY: mechanical errors from
    malformed headers or impossible symbols (short segment buffers,
    missing table ids, out-of-range indices) are translated to a
    descriptive ValueError at this boundary — a 100 TB corpus always
    contains dirty payloads, and executors must raise, not leak
    struct/index internals."""
    try:
        return _decode_impl(data)
    except (ValueError, NotImplementedError):
        raise
    except (struct.error, IndexError, KeyError, OverflowError) as e:
        raise ValueError(
            f"corrupt or truncated JPEG ({type(e).__name__}: {e})") from e


def _decode_impl(data: bytes) -> np.ndarray:
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qts = {}
    huff_dc, huff_ac = {}, {}
    h = w = None
    sof_comps = []         # [(cid, tq, hi, vi)] in SOF order
    scan_comps = []        # [(comp_index, td, ta)] in SOS order
    scan_start = None
    restart_ri = 0
    progressive = False
    seq_scans = False      # non-interleaved baseline (one scan per comp)
    coefs = None           # multi-scan: per-comp (gh, gw, 64) zigzag coefs
    hmax = vmax = mcus_x = mcus_y = None
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (seg_len,) = struct.unpack_from(">H", data, pos)
        seg = data[pos + 2:pos + seg_len]
        if marker == 0xDB:                                       # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0x0F
                off += 1
                if pq == 0:
                    tab = np.frombuffer(seg, np.uint8, 64, off).astype(np.float64)
                    off += 64
                else:
                    tab = np.frombuffer(seg, ">u2", 64, off).astype(np.float64)
                    off += 128
                full = np.empty(64)
                full[_ZZ] = tab                                  # de-zigzag
                qts[tq] = full.reshape(8, 8)
        elif marker in (0xC0, 0xC2):                 # SOF0 / SOF2 (progressive)
            progressive = marker == 0xC2
            _prec, h, w, ncomp = struct.unpack_from(">BHHB", seg, 0)
            if ncomp not in (1, 3):
                raise NotImplementedError("1- or 3-component baseline only")
            for c in range(ncomp):
                cid, samp, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                hi, vi = samp >> 4, samp & 0x0F
                if ncomp == 1:
                    hi = vi = 1   # sampling ignored in single-component scans
                if hi not in (1, 2, 4) or vi not in (1, 2, 4):
                    raise NotImplementedError(
                        f"sampling factors {hi}x{vi} out of range")
                sof_comps.append((cid, tq, hi, vi))
            if progressive:
                # per-component zigzag coefficient grids, padded to the
                # interleaved-MCU geometry; scans accumulate into them
                hmax = max(hi for _c, _t, hi, _v in sof_comps)
                vmax = max(vi for _c, _t, _h, vi in sof_comps)
                mcus_x = -(-w // (8 * hmax))
                mcus_y = -(-h // (8 * vmax))
                coefs = [np.zeros((mcus_y * vi, mcus_x * hi, 64), np.int32)
                         for _cid, _tq, hi, vi in sof_comps]
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "baseline sequential (SOF0) or progressive (SOF2) only")
        elif marker == 0xC4:                                     # DHT
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 0x0F
                bits = list(seg[off + 1:off + 17])
                n = sum(bits)
                vals = list(seg[off + 17:off + 17 + n])
                (huff_dc if tc == 0 else huff_ac)[th] = (bits, vals)
                off += 17 + n
        elif marker == 0xDD:                                     # DRI
            (restart_ri,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:                                     # SOS
            ns = seg[0]
            cid_to_idx = {cid: i
                          for i, (cid, _tq, _hi, _vi) in enumerate(sof_comps)}
            this_scan = []
            for c in range(ns):
                cid, tids = seg[1 + 2 * c], seg[2 + 2 * c]
                this_scan.append((cid_to_idx[cid], tids >> 4, tids & 0x0F))
            if progressive:
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ahal = seg[3 + 2 * ns]
                end = _entropy_end(data, pos + seg_len)
                _progressive_scan(
                    data[pos + seg_len:end], this_scan, sof_comps, coefs,
                    huff_dc, huff_ac, ss, se, ahal >> 4, ahal & 0x0F,
                    restart_ri, mcus_x, h, w, hmax, vmax)
                pos = end
                continue
            if ns != len(sof_comps):
                # NON-INTERLEAVED baseline: one scan per component
                if ns != 1:
                    raise NotImplementedError(
                        "baseline scans must cover one or all components")
                if coefs is None:
                    hmax = max(hi for _c, _t, hi, _v in sof_comps)
                    vmax = max(vi for _c, _t, _h, vi in sof_comps)
                    mcus_x = -(-w // (8 * hmax))
                    mcus_y = -(-h // (8 * vmax))
                    coefs = [np.zeros((mcus_y * vi, mcus_x * hi, 64),
                                      np.int32)
                             for _cid, _tq, hi, vi in sof_comps]
                seq_scans = True
                end = _entropy_end(data, pos + seg_len)
                _sequential_scan(data[pos + seg_len:end], this_scan,
                                 sof_comps, coefs, huff_dc, huff_ac,
                                 restart_ri, h, w, hmax, vmax)
                pos = end
                continue
            scan_comps = this_scan
            scan_start = pos + seg_len
            break
        pos += seg_len

    if progressive or seq_scans:
        if coefs is None:
            raise ValueError("truncated JPEG (no frame header before scans)")
        return _pixels_from_zc(coefs, sof_comps, qts, h, w, hmax, vmax)
    if scan_start is None or h is None:
        raise ValueError("truncated JPEG")

    # general sampling (T.81 A.1.1, A.2.3): MCU covers 8*Hmax x 8*Vmax
    # pixels; component c contributes hi x vi raster-ordered blocks per MCU
    hmax = max(hi for _c, _t, hi, _v in sof_comps)
    vmax = max(vi for _c, _t, _h, vi in sof_comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    n_mcu = mcus_y * mcus_x
    comp_of = [c for c, (_cid, _tq, hi, vi) in enumerate(sof_comps)
               for _ in range(hi * vi)]
    bpm = len(comp_of)        # blocks per MCU (1 gray, 3 @4:4:4, 6 @4:2:0)
    n_blocks = n_mcu * bpm
    # interleaved coefficient rows, MCU-major, comp_of order within the MCU
    zz = np.zeros((n_blocks, 64), dtype=np.float64)
    scan_bytes = data[scan_start:]
    # restart intervals: RSTn markers are NEVER byte-stuffed, so a raw
    # FF D0-D7 in the scan IS a segment boundary; DC predictors reset and
    # the bitstream re-aligns at each one (T.81 §B.2.1.2)
    segments = (_split_restart_segments(scan_bytes) if restart_ri
                else [scan_bytes])
    specs = [(huff_dc[td], huff_ac[ta]) for _ci, td, ta in scan_comps]
    _baseline_zz(segments, specs, comp_of, bpm, n_mcu, restart_ri, zz)

    zz4 = zz.reshape(mcus_y, mcus_x, bpm, 64)
    zc_list, off = [], 0
    for c, (_cid, _tq, hi, vi) in enumerate(sof_comps):
        cnt = hi * vi
        # component block grid: MCU (my, mx) block (iy, ix) -> row
        # my*vi + iy, col mx*hi + ix (raster order within the MCU)
        zc_list.append(zz4[:, :, off:off + cnt, :]
                       .reshape(mcus_y, mcus_x, vi, hi, 64)
                       .transpose(0, 2, 1, 3, 4)
                       .reshape(mcus_y * vi, mcus_x * hi, 64))
        off += cnt
    return _pixels_from_zc(zc_list, sof_comps, qts, h, w, hmax, vmax)


def _baseline_zz(segments, specs, comp_of, bpm, n_mcu, restart_ri, zz):
    """Entropy-decode an interleaved baseline scan into ``zz`` (n_blocks,
    64), MCU-major with ``comp_of[i % bpm]`` the component of block i.
    ``specs`` = per-component (DC, AC) Huffman tables as (bits, vals);
    ``segments`` = the scan split at RSTn markers (DC predictors reset at
    each one).  A truncated stream leaves the remaining blocks zero."""
    dluts = [_lut_cached(dc) for dc, _ac in specs]
    aluts = [_lut_cached(ac) for _dc, ac in specs]
    oi = []  # flat zz indices of nonzero coefficients
    ov = []
    mcu_done = 0
    for seg_bytes in segments:
        if mcu_done >= n_mcu:
            break
        m = min(restart_ri, n_mcu - mcu_done) if restart_ri else n_mcu
        preds = [0] * len(specs)
        Wl = _scan_windows(seg_bytes).tolist()  # plain-int indexing
        nW = len(Wl)
        cur = 0
        oi_app, ov_app = oi.append, ov.append
        for i in range(mcu_done * bpm, (mcu_done + m) * bpm):
            if cur >= nW:
                break  # truncated stream: remaining blocks stay zero
            c = comp_of[i % bpm]
            apk = aluts[c]
            p = dluts[c][Wl[cur]]
            if p < 256:
                raise ValueError("invalid Huffman code")
            s = p & 0xFF
            cur += p >> 8
            if s:
                v = Wl[cur] >> (16 - s) if cur < nW else 0
                cur += s
                preds[c] += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
            base = i << 6
            oi_app(base)
            ov_app(preds[c])
            k = 1
            while k < 64 and cur < nW:
                p = apk[Wl[cur]]
                if p < 256:
                    raise ValueError("invalid Huffman code")
                rs = p & 0xFF
                cur += p >> 8
                if rs == 0x00:                                   # EOB
                    break
                if rs == 0xF0:                                   # ZRL
                    k += 16
                    continue
                k += rs >> 4
                s = rs & 0x0F
                v = Wl[cur] >> (16 - s) if cur < nW else 0
                cur += s
                if k > 63:
                    break
                oi_app(base + k)
                ov_app(v if v >= (1 << (s - 1)) else v - (1 << s) + 1)
                k += 1
        mcu_done += m
    zz.ravel()[oi] = ov


def _pixels_from_zc(zc_list, sof_comps, qts, h, w, hmax, vmax):
    """Per-component zigzag coefficient grids (gh, gw, 64) -> decoded
    uint8 image (dequantize, IDCT, crop to component dims per T.81 A.1.1,
    replicate subsampled planes up to full resolution)."""
    planes = []
    for zc, (_cid, tq, hi, vi) in zip(zc_list, sof_comps):
        gh, gw = zc.shape[:2]
        nb = gh * gw
        blocks = np.zeros((nb, 64), dtype=np.float64)
        blocks[:, _ZZ] = zc.reshape(nb, 64)                      # de-zigzag
        blocks = blocks.reshape(nb, 8, 8) * qts[tq]
        # M^T B M as one broadcast batched matmul — ~7x the einsum IDCT;
        # same math, summation order may differ by 1 ulp (all consumers
        # are rounded/PSNR-gated)
        pix = _DCT_M.T @ blocks @ _DCT_M
        plane = (pix.reshape(gh, gw, 8, 8).transpose(0, 2, 1, 3)
                 .reshape(gh * 8, gw * 8) + 128.0)
        ch = -(-h * vi // vmax)
        cw = -(-w * hi // hmax)
        plane = plane[:ch, :cw]
        if vi != vmax or hi != hmax:
            plane = np.repeat(np.repeat(plane, vmax // vi, axis=0),
                              hmax // hi, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    return ycbcr_to_rgb(planes[0], planes[1], planes[2])
