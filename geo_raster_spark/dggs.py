"""Hierarchical discrete-global-grid cell index (the engine's H3-role index).

The north rule calls for an H3/S2-style cell index; the ``h3`` library is not
available in this environment, so the engine ships its own equal-angle
hierarchical DGGS ("geocell"): at resolution ``r`` the world splits into
``2^(r+1)`` columns x ``2^r`` rows of square (in degrees) cells, quadtree-
refining between resolutions.  Cell ids pack ``(res, col, row)`` into an
int64.  This supports the three operations the engine needs — point->cell,
k-ring neighborhood expansion, and polygon covering — with the same join
patterns H3 would give (equi-join on cell id, k-ring candidate generation).

Everything here is pure NumPy *and* has a Spark-column twin in
``geo_raster_spark.functions`` so the hot path stays JVM-side.

Default resolution 8 -> 0.703° cells: measured optimum for the flagship
broadcast-PIP pipeline (fewer boundary-cell refines than r7, without the
cover explosion of r9; see BENCH/BASELINE.md).
"""

from __future__ import annotations

import numpy as np

DEFAULT_RES = 8
_RES_SHIFT = 58
_COL_SHIFT = 29
_ROW_MASK = (1 << 29) - 1
_COL_MASK = (1 << 29) - 1


def res_dims(res: int):
    """(n_cols, n_rows, cell_w_deg, cell_h_deg) at resolution ``res``."""
    n_rows = 1 << res
    n_cols = n_rows * 2
    return n_cols, n_rows, 360.0 / n_cols, 180.0 / n_rows


def pack(res, col, row):
    return (np.int64(res) << _RES_SHIFT) | (np.asarray(col, dtype=np.int64) << _COL_SHIFT) | np.asarray(row, dtype=np.int64)


def unpack(cell):
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> _RES_SHIFT).astype(np.int64)
    col = (cell >> _COL_SHIFT) & _COL_MASK
    row = cell & _ROW_MASK
    return res, col, row


def latlng_to_cell(lon, lat, res: int = DEFAULT_RES):
    """Vectorized point -> cell id (lon/lat degrees)."""
    n_cols, n_rows, cw, ch = res_dims(res)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    col = np.clip(np.floor((lon + 180.0) / cw), 0, n_cols - 1).astype(np.int64)
    row = np.clip(np.floor((90.0 - lat) / ch), 0, n_rows - 1).astype(np.int64)
    return pack(res, col, row)


def cell_to_bbox(cell):
    """Cell id(s) -> (minx, miny, maxx, maxy) arrays."""
    res, col, row = unpack(cell)
    # all cells in one call must share a resolution for vectorized math
    r = int(np.asarray(res).flat[0])
    n_cols, n_rows, cw, ch = res_dims(r)
    minx = -180.0 + col * cw
    maxy = 90.0 - row * ch
    return minx, maxy - ch, minx + cw, maxy


def parent(cell, parent_res):
    res, col, row = unpack(cell)
    shift = np.asarray(res, dtype=np.int64) - parent_res
    return pack(parent_res, col >> shift, row >> shift)


def k_ring(cell: int, k: int):
    """All cells within Chebyshev distance k (incl. self); lon wraps, lat clamps.

    The H3 ``grid_disk`` analogue used for kNN candidate generation
    (SURVEY.md §2.3 J6)."""
    res, col, row = unpack(np.int64(cell))
    res, col, row = int(res), int(col), int(row)
    n_cols, n_rows, _, _ = res_dims(res)
    out = []
    for dr in range(-k, k + 1):
        rr = row + dr
        if rr < 0 or rr >= n_rows:
            continue
        for dc in range(-k, k + 1):
            out.append(pack(res, (col + dc) % n_cols, rr))
    return np.array(out, dtype=np.int64)


def bbox_cover(ext, res: int = DEFAULT_RES):
    """All cells intersecting bbox ``(minx, miny, maxx, maxy)`` (degrees).

    Columns wrap at ±180° (a dateline-crossing bbox covers far-side cells) —
    the NumPy twin of ``functions.geocell_cover``; rows clamp at the poles."""
    n_cols, n_rows, cw, ch = res_dims(res)
    c0 = int(np.floor((ext[0] + 180.0) / cw))
    c1 = int(np.floor((ext[2] + 180.0) / cw - 1e-12))
    c1 = min(max(c0, c1), c0 + n_cols - 1)
    r0 = int(np.floor((90.0 - ext[3]) / ch))
    r1 = int(np.floor((90.0 - ext[1]) / ch - 1e-12))
    r0, r1 = max(0, r0), min(n_rows - 1, max(r0, r1))
    cols, rows = np.meshgrid(np.arange(c0, c1 + 1) % n_cols,
                             np.arange(r0, r1 + 1))
    return pack(res, cols.ravel(), rows.ravel())


def polygon_cover(ring, res: int = DEFAULT_RES):
    """Cells whose bbox intersects the polygon (superset cover: bbox cover
    refined by a cell-bbox x polygon intersection test)."""
    cells, _full = polygon_cover_labeled(ring, res)
    return cells


def polygon_cover_adaptive(ring, res: int = DEFAULT_RES, levels: int = 3):
    """Multi-resolution labeled cover: FULL cells whose 4 siblings are all
    FULL coalesce into their parent, repeated up to ``levels`` times.

    -> (cells, full, res_min).  Cells are a DISJOINT region cover spanning
    resolutions [res-levels, res]; boundary (partial) cells stay at ``res``
    so the exact-refine split is unchanged.  A hot zone's cover shrinks
    ~4x per coalesced level — this is what keeps the broadcast cover small
    at 10^4+ zones (the probe side joins on its cell id at EACH level; a
    point matches at most one cover row per zone because the regions are
    disjoint)."""
    cells, full = polygon_cover_labeled(ring, res)
    res_min = max(res - levels, 1)
    out_cells = [cells[~full]]
    out_full = [np.zeros(int((~full).sum()), dtype=bool)]
    cur = cells[full]
    r = res
    while r > res_min and len(cur):
        _, col, row = unpack(cur)
        parent = pack(r - 1, col // 2, row // 2)
        uniq, counts = np.unique(parent, return_counts=True)
        complete = uniq[counts == 4]
        promote = np.isin(parent, complete)
        keep = cur[~promote]
        out_cells.append(keep)
        out_full.append(np.ones(len(keep), dtype=bool))
        cur = complete
        r -= 1
    out_cells.append(cur)
    out_full.append(np.ones(len(cur), dtype=bool))
    return (np.concatenate(out_cells).astype(np.int64),
            np.concatenate(out_full), res_min)


def polygon_cover_labeled(ring, res: int = DEFAULT_RES):
    """(cells, full) cover where ``full[i]`` marks cells wholly inside the
    polygon — candidates in FULL cells need no exact point-in-polygon
    refine (index-level predicate pushdown; only boundary cells pay the
    ray-cast).

    Fully vectorized over the candidate grid (a hot zone covers ~10^4
    cells; a per-cell Python loop here was the flagship's serial driver
    bottleneck).  Slightly conservative: ``keep`` is a superset cover
    (cells whose corners touch OR whose bbox overlaps some edge's bbox)
    and ``full`` requires all four corners inside AND no edge-bbox overlap
    — a cell truly crossed by an edge is always PARTIAL, so correctness of
    the refine split is preserved."""
    from . import geometry as g
    ring = g.unwrap_ring(g.ring_close(np.asarray(ring, dtype=np.float64)))
    ext = g.ring_bbox(ring)
    if ext[0] < -180.0 or ext[2] > 180.0:
        # dateline-crossing zone: split at ±180° and union the part covers
        # (parts are disjoint and cell columns never collide across the seam)
        parts = g.split_ring_antimeridian(ring)
        cs, fs = zip(*(polygon_cover_labeled(pr, res) for pr in parts))
        return np.concatenate(cs), np.concatenate(fs)
    n_cols, n_rows, cw, ch = res_dims(res)
    c0 = max(0, int(np.floor((ext[0] + 180.0) / cw)))
    c1 = min(n_cols - 1, max(c0, int(np.floor((ext[2] + 180.0) / cw - 1e-12))))
    r0 = max(0, int(np.floor((90.0 - ext[3]) / ch)))
    r1 = min(n_rows - 1, max(r0, int(np.floor((90.0 - ext[1]) / ch - 1e-12))))
    nc, nr = c1 - c0 + 1, r1 - r0 + 1

    # corner lattice: (nr+1) x (nc+1) boundary intersections
    xs = -180.0 + (np.arange(c0, c1 + 2)) * cw
    ys = 90.0 - (np.arange(r0, r1 + 2)) * ch
    X, Y = np.meshgrid(xs, ys)
    inside = g.points_in_ring(ring, X.ravel(), Y.ravel()).reshape(nr + 1, nc + 1)
    corners_all = inside[:-1, :-1] & inside[:-1, 1:] & inside[1:, :-1] & inside[1:, 1:]
    corners_any = inside[:-1, :-1] | inside[:-1, 1:] | inside[1:, :-1] | inside[1:, 1:]

    # edge overlay: cells whose bbox overlaps a polygon edge's bbox
    edge_touch = np.zeros((nr, nc), dtype=bool)
    e0, e1 = ring[:-1], ring[1:]
    eminx = np.minimum(e0[:, 0], e1[:, 0])
    emaxx = np.maximum(e0[:, 0], e1[:, 0])
    eminy = np.minimum(e0[:, 1], e1[:, 1])
    emaxy = np.maximum(e0[:, 1], e1[:, 1])
    ec0 = np.clip(np.floor((eminx + 180.0) / cw).astype(np.int64) - c0, 0, nc - 1)
    ec1 = np.clip(np.floor((emaxx + 180.0) / cw).astype(np.int64) - c0, 0, nc - 1)
    er0 = np.clip(np.floor((90.0 - emaxy) / ch).astype(np.int64) - r0, 0, nr - 1)
    er1 = np.clip(np.floor((90.0 - eminy) / ch).astype(np.int64) - r0, 0, nr - 1)
    for i in range(len(e0)):  # loops over polygon EDGES (few dozen), not cells
        edge_touch[er0[i]:er1[i] + 1, ec0[i]:ec1[i] + 1] = True

    keep_mask = corners_any | edge_touch
    full_mask = corners_all & ~edge_touch
    rows_i, cols_i = np.nonzero(keep_mask)
    cells = pack(res, cols_i + c0, rows_i + r0)
    return cells.astype(np.int64), full_mask[rows_i, cols_i]
