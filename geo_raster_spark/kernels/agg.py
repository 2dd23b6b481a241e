"""Area-weighted resampling aggregates (SURVEY.md §2.4 A1-A8).

Faithful NumPy reimplementation of the reference's per-output-cell gather
loops [ref: mod/agg_band.pyx:157-842] with their exact semantics:

- output cell (r, c) covers input window ``[off + r*scale, off + (r+1)*scale)``
  in fractional input-pixel units, index range ``[floor(lo), ceil(hi))``
  clamped to the array;
- fractional-area weight per input pixel
  ``a = (min(ro+1, hi_r) - max(ro, lo_r)) * (min(co+1, hi_c) - max(co, lo_c))``
  [ref: mod/agg_band.pyx:225-228];
- ``mean``:   nodata / out-of-range pixels count toward total area ``aa`` but
  not ``ns``; gates ``aa>0``, ``ns>0``, ``ns >= aa*min_rate``;
- ``median``/``count``/``dominated``: pixels with ``a < 0.5`` are skipped
  entirely [ref :442, :559-560, :661];
- ``dominated``: votes are occurrence counts (not areas), nodata
  participates but its count is down-weighted by 0.2 (the reference reads
  this via ``config.getint`` on a 0.2 default — an int-truncation quirk we
  deliberately do NOT copy, per SURVEY.md §7.3.1); ties resolve to the
  first-encountered value in row-major scan order;
- ``median``: ``len<=2`` picks the FIRST gathered value in scan order,
  else the sorted pick at ``int(len * pval/100)``;
- ``perc``: no ``a<0.5`` skip; coverage gate ``ns >= 0.5 * as``; result
  scaled to ``[0, scale_val]`` (caller ceils for integer outputs).

Intentional deviation (documented): window bounds are computed in float64
closed form ``off + n*scale`` instead of the reference's float32 running
accumulation — identical for the exact-ratio cases our pipelines use, and
drift-free for long rows.

``mean``/``std`` use a separable weight-matrix formulation (the area weight
factorizes into row x col overlaps), so they run as two dense matmuls —
the vectorized path that makes this worth running inside Arrow batches.
"""

from __future__ import annotations

import numpy as np


def _axis_windows(off: float, scale: float, n_out: int, n_in: int):
    """Per-output-index fractional windows and clamped index bounds.

    Returns (lo_f, hi_f, lo_i, hi_i, valid) arrays of length n_out; ``valid``
    is False where the window misses the input entirely (output stays nodata,
    matching the reference's early ``continue``).
    """
    n = np.arange(n_out, dtype=np.float64)
    lo_f = off + n * scale
    hi_f = lo_f + scale
    valid = ~((hi_f <= 0) | (lo_f >= n_in))
    lo_i = np.clip(np.floor(lo_f), 0, n_in).astype(np.int64)
    hi_i = np.clip(np.ceil(hi_f), 0, n_in).astype(np.int64)
    return lo_f, hi_f, lo_i, hi_i, valid


def _weight_matrix(off: float, scale: float, n_out: int, n_in: int,
                   min_area_1d: float | None = None):
    """(n_out, n_in) fractional-overlap matrix W and membership indicator B.

    ``min_area_1d`` is unused for the separable kernels (the a<0.5 gate
    applies to the 2-D product, handled in the per-cell kernels)."""
    lo_f, hi_f, lo_i, hi_i, valid = _axis_windows(off, scale, n_out, n_in)
    idx = np.arange(n_in, dtype=np.float64)
    w = (np.minimum(idx[None, :] + 1.0, hi_f[:, None])
         - np.maximum(idx[None, :], lo_f[:, None]))
    inb = (idx[None, :] >= lo_i[:, None]) & (idx[None, :] < hi_i[:, None])
    w = np.where(inb, np.maximum(w, 0.0), 0.0)
    w[~valid] = 0.0
    b = inb & valid[:, None]
    return w, b.astype(np.float64), valid


def mean(dat, off_y, off_x, scale, nodata, rows, cols,
         v_min=None, v_max=None, min_rate=0.1):
    """Area-weighted mean (A1).  [ref: mod/agg_band.pyx:157-265]"""
    dat = np.asarray(dat, dtype=np.float64)
    n_in_r, n_in_c = dat.shape
    wr, _, vr = _weight_matrix(off_y, scale, rows, n_in_r)
    wc, _, vc = _weight_matrix(off_x, scale, cols, n_in_c)

    valid = dat != nodata
    if v_min is not None:
        valid &= dat >= v_min
    if v_max is not None:
        valid &= dat <= v_max

    aa = wr @ np.ones_like(dat) @ wc.T
    ns = wr @ valid.astype(np.float64) @ wc.T
    vs = wr @ np.where(valid, dat, 0.0) @ wc.T

    out = np.full((rows, cols), nodata, dtype=np.float64)
    ok = (aa > 0.0) & (ns > 0.0) & (ns >= aa * min_rate)
    ok &= vr[:, None] & vc[None, :]
    with np.errstate(invalid="ignore", divide="ignore"):
        out[ok] = (vs / ns)[ok]
    return out


def std(dat, off_y, off_x, scale, nodata, rows, cols):
    """Per-cell population std of valid pixels (A4).

    [ref: mod/agg_band.pyx:267-335] — unweighted; every pixel in the clamped
    index window participates if not nodata."""
    dat = np.asarray(dat, dtype=np.float64)
    n_in_r, n_in_c = dat.shape
    _, br, _ = _weight_matrix(off_y, scale, rows, n_in_r)
    _, bc, _ = _weight_matrix(off_x, scale, cols, n_in_c)

    m = (dat != nodata).astype(np.float64)
    cnt = br @ m @ bc.T
    s1 = br @ (dat * m) @ bc.T
    s2 = br @ (dat * dat * m) @ bc.T

    out = np.full((rows, cols), nodata, dtype=np.float64)
    ok = cnt > 0
    with np.errstate(invalid="ignore", divide="ignore"):
        var = s2 / cnt - (s1 / cnt) ** 2
    out[ok] = np.sqrt(np.maximum(var, 0.0))[ok]
    return out


def _cell_iter(dat, off_y, off_x, scale, rows, cols):
    """Yield (r, c, window, a_weights) per valid output cell; window and
    weights are flattened in row-major scan order (the reference's loop
    order, which its tie-breaks depend on)."""
    n_in_r, n_in_c = dat.shape
    lo_fr, hi_fr, lo_ir, hi_ir, v_r = _axis_windows(off_y, scale, rows, n_in_r)
    lo_fc, hi_fc, lo_ic, hi_ic, v_c = _axis_windows(off_x, scale, cols, n_in_c)
    for r in range(rows):
        if not v_r[r]:
            continue
        ri = np.arange(lo_ir[r], hi_ir[r], dtype=np.float64)
        ar = np.minimum(ri + 1, hi_fr[r]) - np.maximum(ri, lo_fr[r])
        for c in range(cols):
            if not v_c[c]:
                continue
            ci = np.arange(lo_ic[c], hi_ic[c], dtype=np.float64)
            ac = np.minimum(ci + 1, hi_fc[c]) - np.maximum(ci, lo_fc[c])
            win = dat[lo_ir[r]:hi_ir[r], lo_ic[c]:hi_ic[c]]
            a = (ar[:, None] * ac[None, :])
            yield r, c, win.ravel(), a.ravel()


def median(dat, off_y, off_x, scale, nodata, rows, cols, min_rate=0.0, pval=50):
    """Percentile pick (A2).  [ref: mod/agg_band.pyx:488-587]"""
    dat = np.asarray(dat, dtype=np.float64)
    out = np.full((rows, cols), nodata, dtype=np.float64)
    for r, c, win, a in _cell_iter(dat, off_y, off_x, scale, rows, cols):
        keep = a >= 0.5
        win, a = win[keep], a[keep]
        aa = a.sum()
        vmask = win != nodata
        ns = a[vmask].sum()
        vs = win[vmask]
        if ns <= 0 or ns < aa * min_rate:
            continue
        n = len(vs)
        if n == 0:
            continue
        if n <= 2:
            out[r, c] = vs[0]
        else:
            out[r, c] = np.sort(vs, kind="stable")[int(n * (pval / 100.0))]
    return out


def count_distinct(dat, off_y, off_x, scale, nodata, rows, cols,
                   val_min=None, val_max=None):
    """Distinct valid values per cell (A3).  [ref: mod/agg_band.pyx:589-690]"""
    dat = np.asarray(dat)
    out = np.full((rows, cols), nodata, dtype=np.float64)
    for r, c, win, a in _cell_iter(dat, off_y, off_x, scale, rows, cols):
        keep = a >= 0.5
        win, a = win[keep], a[keep]
        vmask = win != nodata
        if val_min is not None:
            vmask &= win >= val_min
        if val_max is not None:
            vmask &= win <= val_max
        ns = a[vmask].sum()
        if ns <= 0:
            continue
        out[r, c] = len(np.unique(win[vmask]))
    return out


def dominated(dat, off_y, off_x, scale, nodata, rows, cols,
              weights=None, nodata_scaling=0.2):
    """Majority vote (A5).  [ref: mod/agg_band.pyx:371-486]

    Vote = occurrence count; class-range ``weights`` = [(lo, hi, w), ...]
    multiply counts; nodata's count is scaled by ``nodata_scaling`` (the
    reference intends 0.2; its config.getint truncates to 0 — not copied);
    tie-break = first value encountered in scan order."""
    dat = np.asarray(dat)
    out = np.full((rows, cols), nodata, dtype=np.float64)
    for r, c, win, a in _cell_iter(dat, off_y, off_x, scale, rows, cols):
        keep = a >= 0.5
        win, a = win[keep], a[keep]
        ns = a.sum()  # all values participate, incl. nodata [ref :448-456]
        if ns <= 0:
            continue
        # first-encounter ordering: np.unique sorts, so rebuild insertion order
        vals, first_pos, cnts = np.unique(win, return_index=True, return_counts=True)
        order = np.argsort(first_pos, kind="stable")
        vals, cnts = vals[order], cnts[order].astype(np.float64)
        if weights:
            for lo, hi, wgt in weights:
                sel = (vals >= lo) & (vals <= hi)
                cnts[sel] *= wgt
        cnts[vals == nodata] *= nodata_scaling
        # "strictly greater than running max" => first-encountered wins ties
        mx, vv = 0.0, nodata
        for v, k in zip(vals, cnts):
            if k > mx:
                mx, vv = k, v
        out[r, c] = vv
    return out


def perc(dat, off_y, off_x, scale, val, s_nodata, t_nodata, rows, cols,
         valid_values=None, excluded_values=None, scale_val=100,
         ceil_output=True):
    """Percent-of-class (A6).  [ref: mod/agg_band.pyx:729-842]"""
    dat = np.asarray(dat)
    out = np.full((rows, cols), float(t_nodata), dtype=np.float64)
    for r, c, win, a in _cell_iter(dat, off_y, off_x, scale, rows, cols):
        aa = a.sum()
        vmask = win != s_nodata
        if valid_values:
            vmask &= np.isin(win, list(valid_values))
        if excluded_values:
            vmask &= ~np.isin(win, list(excluded_values))
        ns = a[vmask].sum()
        if ns <= 0.0 or ns < 0.5 * aa:
            continue
        vs = a[vmask & (win == val)].sum()
        if vs == 0:
            out[r, c] = 0.0
            continue
        vv = min(max(float(scale_val) * vs / ns, 0.0), float(scale_val))
        out[r, c] = vv
    if ceil_output:
        keep_nd = out == float(t_nodata)
        out = np.ceil(out)
        out[keep_nd] = float(t_nodata)
    return out


def mean_cv(dat, off_y, off_x, scale, nodata, rows, cols, min_rate=0.1):
    """Legacy mean + coefficient-of-variation companion (A7).

    [ref: mod/lc_agg_module.pyx:10-190] — composed here as A1 mean + A4
    std / mean (SURVEY.md §2.4 mapping)."""
    m = mean(dat, off_y, off_x, scale, nodata, rows, cols, min_rate=min_rate)
    s = std(dat, off_y, off_x, scale, nodata, rows, cols)
    cv = np.full_like(m, nodata)
    ok = (m != nodata) & (s != nodata) & (m != 0)
    cv[ok] = s[ok] / np.abs(m[ok])
    return m, cv


def mode_purity(dat, off_y, off_x, scale, nodata, rows, cols):
    """Legacy majority class + purity %% (A8).

    [ref: mod/lc_agg_module.pyx:237-324] — A5 majority + occurrence share."""
    dat = np.asarray(dat)
    out_v = np.full((rows, cols), nodata, dtype=np.float64)
    out_p = np.full((rows, cols), nodata, dtype=np.float64)
    for r, c, win, a in _cell_iter(dat, off_y, off_x, scale, rows, cols):
        keep = a >= 0.5
        win = win[keep]
        win = win[win != nodata]
        if len(win) == 0:
            continue
        vals, first_pos, cnts = np.unique(win, return_index=True, return_counts=True)
        order = np.argsort(first_pos, kind="stable")
        vals, cnts = vals[order], cnts[order]
        mx, vv = 0, nodata
        for v, k in zip(vals, cnts):
            if k > mx:
                mx, vv = int(k), v
        out_v[r, c] = vv
        out_p[r, c] = 100.0 * mx / len(win)
    return out_v, out_p
