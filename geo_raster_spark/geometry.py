"""Bbox + polygon algebra, vectorized point-in-polygon, WKB codec.

Pure NumPy replacement for the reference's OGR-backed ``geo_point`` /
``geo_extent`` / ``geo_polygon`` [ref: mod/geo_base_c.pyx:387-843].

Polygons are single-ring arrays of shape (n, 2) (closed or open — we close
internally).  Only convex/simple polygons are generated by our fixtures, but
the PIP test is a general even-odd ray cast, so concave rings work too.

WKB: standard OGC well-known-binary, little-endian, Polygon (type 3) with one
exterior ring — enough to round-trip with DuckDB/GeoPandas/PostGIS.
"""

from __future__ import annotations

import struct

import numpy as np


# ---------------------------------------------------------------------------
# extent (bbox) algebra  [ref: mod/geo_base_c.pyx:387-450]
# ---------------------------------------------------------------------------

def bbox_intersects(a, b):
    """Closed-interval bbox overlap (OGR-extent convention)."""
    return a[0] <= b[2] and a[2] >= b[0] and a[1] <= b[3] and a[3] >= b[1]


def bbox_contains_point(b, x, y):
    return (b[0] <= x <= b[2]) and (b[1] <= y <= b[3])


def bbox_intersect(a, b):
    return (max(a[0], b[0]), max(a[1], b[1]), min(a[2], b[2]), min(a[3], b[3]))


def bbox_union(a, b):
    return (min(a[0], b[0]), min(a[1], b[1]), max(a[2], b[2]), max(a[3], b[3]))


def bbox_buffer(b, d):
    return (b[0] - d, b[1] - d, b[2] + d, b[3] + d)


def bbox_to_ring(b):
    """Extent -> closed CCW ring (n=5)."""
    return np.array([
        [b[0], b[1]], [b[2], b[1]], [b[2], b[3]], [b[0], b[3]], [b[0], b[1]],
    ], dtype=np.float64)


# ---------------------------------------------------------------------------
# polygon ops  [ref: mod/geo_base_c.pyx:452-777]
# ---------------------------------------------------------------------------

def ring_close(ring):
    ring = np.asarray(ring, dtype=np.float64)
    if not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    return ring


def ring_bbox(ring):
    ring = np.asarray(ring, dtype=np.float64)
    return (float(ring[:, 0].min()), float(ring[:, 1].min()),
            float(ring[:, 0].max()), float(ring[:, 1].max()))


def ring_area(ring):
    """Signed shoelace area (positive = CCW)."""
    r = ring_close(ring)
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def segment_ratio(ring, n):
    """Densify each edge into ``n`` segments.

    [ref: mod/geo_base_c.pyx:712-736] — used before reprojecting footprints
    so curved projected edges stay inside the true image of the polygon.
    """
    r = ring_close(ring)
    t = np.linspace(0.0, 1.0, n, endpoint=False)
    segs = r[:-1, None, :] + (r[1:, None, :] - r[:-1, None, :]) * t[None, :, None]
    out = segs.reshape(-1, 2)
    return np.vstack([out, out[:1]])


def points_in_ring(ring, xs, ys):
    """Vectorized even-odd ray-cast point-in-polygon over point arrays.

    Boundary convention: a point exactly on a horizontal-crossing edge counts
    per the half-open rule (consistent, deterministic).  Role of the
    reference's OGR ``Contains`` [ref: mod/geo_base_c.pyx:658-665].
    """
    r = ring_close(np.asarray(ring, dtype=np.float64))
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    shape = xs.shape
    xs, ys = xs.ravel()[None, :], ys.ravel()[None, :]
    x0, y0 = r[:-1, 0, None], r[:-1, 1, None]
    x1, y1 = r[1:, 0, None], r[1:, 1, None]
    cond = (y0 > ys) != (y1 > ys)  # (E, N)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (ys - y0) * (x1 - x0) / (y1 - y0)
    crossings = cond & (xs < xint)
    return (crossings.sum(axis=0) % 2 == 1).reshape(shape)


def rings_intersect(a, b):
    """Approximate polygon-intersects: bbox test, then vertex-in-other test,
    then edge-crossing test.  Exact for simple polygons."""
    if not bbox_intersects(ring_bbox(a), ring_bbox(b)):
        return False
    a, b = ring_close(a), ring_close(b)
    if points_in_ring(b, a[:-1, 0], a[:-1, 1]).any():
        return True
    if points_in_ring(a, b[:-1, 0], b[:-1, 1]).any():
        return True
    return _edges_cross(a, b)


def _edges_cross(a, b):
    """Any edge of ring a properly crosses any edge of ring b."""
    p0, p1 = a[:-1], a[1:]
    q0, q1 = b[:-1], b[1:]
    d1 = p1 - p0  # (m,2)
    d2 = q1 - q0  # (n,2)
    # orientation tests, broadcast (m, n)
    def cross(o, d, p):
        return (d[..., 0] * (p[..., 1] - o[..., 1]) -
                d[..., 1] * (p[..., 0] - o[..., 0]))
    o1 = cross(p0[:, None], d1[:, None], q0[None, :])
    o2 = cross(p0[:, None], d1[:, None], q1[None, :])
    o3 = cross(q0[None, :], d2[None, :], p0[:, None])
    o4 = cross(q0[None, :], d2[None, :], p1[:, None])
    return bool(np.any((o1 * o2 < 0) & (o3 * o4 < 0)))


def clip_convex(subject, clipper):
    """Sutherland–Hodgman clip of ``subject`` ring by CONVEX ``clipper`` ring.

    Role of OGR ``Intersection`` for the footprint∩tile case
    [ref: mod/geo_raster_ex_c.pyx:1107-1132] where the clipper (tile/extent)
    is always an axis-aligned box or convex polygon.
    Returns (n,2) ring or None if empty.
    """
    clipper = ring_close(np.asarray(clipper, dtype=np.float64))
    if ring_area(clipper) < 0:
        clipper = clipper[::-1]
    out = list(np.asarray(ring_close(subject))[:-1])
    for i in range(len(clipper) - 1):
        cp0, cp1 = clipper[i], clipper[i + 1]
        if not out:
            return None
        inp = out
        out = []
        def side(p):
            return (cp1[0] - cp0[0]) * (p[1] - cp0[1]) - (cp1[1] - cp0[1]) * (p[0] - cp0[0])
        s = inp[-1]
        s_in = side(s) >= 0
        for e in inp:
            e_in = side(e) >= 0
            if e_in:
                if not s_in:
                    out.append(_seg_line_isect(s, e, cp0, cp1))
                out.append(e)
            elif s_in:
                out.append(_seg_line_isect(s, e, cp0, cp1))
            s, s_in = e, e_in
    if len(out) < 3:
        return None
    return ring_close(np.array(out))


def _seg_line_isect(p0, p1, a, b):
    d = np.asarray(p1, dtype=np.float64) - p0
    n = np.array([-(b[1] - a[1]), b[0] - a[0]])
    denom = d @ n
    t = 0.0 if denom == 0 else ((np.asarray(a, dtype=np.float64) - p0) @ n) / denom
    return np.asarray(p0, dtype=np.float64) + t * d


class TriangulationError(ValueError):
    """Ear-clipping stalled before tiling the full ring (non-consecutive
    duplicate vertices, near-collinear pinches) — the partial triangle set
    UNDER-COVERS the polygon, so downstream clipping would silently drop
    area.  Callers should fall back to the bbox window instead."""


def triangulate_ring(ring):
    """Ear-clipping triangulation of a SIMPLE (possibly concave) ring ->
    list of (3, 2) CCW triangles.  O(n^2) — footprint rings are tens to a
    few hundred points.  Degenerate remainders (collinear runs) terminate
    cleanly with the triangles found so far; use ``triangulate_ring_checked``
    when a PARTIAL tiling must fail loudly instead."""
    r = ring_close(np.asarray(ring, dtype=np.float64))[:-1]
    keep = np.any(r != np.roll(r, 1, axis=0), axis=1)
    r = r[keep]
    if len(r) < 3:
        return []
    if ring_area(np.vstack([r, r[:1]])) < 0:
        r = r[::-1]

    def _cross(a, b, c):
        return ((b[0] - a[0]) * (c[1] - a[1])
                - (b[1] - a[1]) * (c[0] - a[0]))

    def _pts_block_ear(pts, a, b, c):
        # closed containment (boundary included): a vertex ON the candidate
        # ear's edge — e.g. the reflex corner of an L lying on the chord —
        # must block the ear, or the remainder polygon self-pinches and
        # later ears double-cover area
        eps = 1e-12 * max(abs(ring_area(np.array([a, b, c, a]))), 1e-30)
        d1 = (b[0] - a[0]) * (pts[:, 1] - a[1]) - (b[1] - a[1]) * (pts[:, 0] - a[0])
        d2 = (c[0] - b[0]) * (pts[:, 1] - b[1]) - (c[1] - b[1]) * (pts[:, 0] - b[0])
        d3 = (a[0] - c[0]) * (pts[:, 1] - c[1]) - (a[1] - c[1]) * (pts[:, 0] - c[0])
        return bool(np.any((d1 >= -eps) & (d2 >= -eps) & (d3 >= -eps)))

    idx = list(range(len(r)))
    tris = []
    while len(idx) > 3:
        n = len(idx)
        for k in range(n):
            i0, i1, i2 = idx[(k - 1) % n], idx[k], idx[(k + 1) % n]
            a, b, c = r[i0], r[i1], r[i2]
            if _cross(a, b, c) <= 0:
                continue  # reflex or collinear vertex — not an ear
            others = [j for j in idx if j not in (i0, i1, i2)]
            if others and _pts_block_ear(r[others], a, b, c):
                continue
            tris.append(np.array([a, b, c], dtype=np.float64))
            idx.pop(k)
            break
        else:
            break  # numerically degenerate remainder
    if len(idx) == 3:
        a, b, c = r[idx[0]], r[idx[1]], r[idx[2]]
        if _cross(a, b, c) > 0:
            tris.append(np.array([a, b, c], dtype=np.float64))
    return tris


def triangulate_ring_checked(ring):
    """``triangulate_ring`` + area-coverage verification: the triangles of
    a correct ear-clip tile the ring exactly, so Σ|tri| must equal |ring|.
    A stalled ear loop (degenerate remainder with >3 vertices left) leaves
    a shortfall — raise TriangulationError so callers fall back to the
    bbox window rather than treat the partial set as the footprint."""
    r = ring_close(np.asarray(ring, dtype=np.float64))
    tris = triangulate_ring(r)
    area = abs(ring_area(r))
    cov = sum(abs(ring_area(np.vstack([t, t[:1]]))) for t in tris)
    if abs(cov - area) > 1e-9 * max(area, 1.0):
        raise TriangulationError(
            f"ear clipping covered {cov:.12g} of ring area {area:.12g} — "
            "degenerate ring (duplicate vertices / collinear pinch)")
    return tris


def clip_rings(subject, clipper):
    """General polygon ∩ polygon for SIMPLE rings (either may be concave):
    triangulate BOTH rings into convex pieces and Sutherland–Hodgman-clip
    every triangle pair — convex ∩ convex is the regime where SH is exact
    (a concave SUBJECT through SH can double-cover area).  Returns a list
    of rings whose union is the intersection region (pieces are disjoint up
    to shared triangle edges, so areas sum).

    Closes the reference's source_poly ∩ target_poly trim
    [ref: mod/geo_raster_ex_c.pyx:1107-1132] for rotated / reprojected
    footprints where bbox ∩ bbox over-reads (or wrongly admits a source
    whose true footprint misses the target)."""
    subject = ring_close(np.asarray(subject, dtype=np.float64))
    if not bbox_intersects(ring_bbox(subject), ring_bbox(clipper)):
        return []
    # checked triangulation: a silent partial tiling here would make the
    # intersection under-report and (in mosaic footprint_refine) skip a
    # genuinely-overlapping source — fail loudly instead
    subj_tris = triangulate_ring_checked(subject)
    out = []
    for tc in triangulate_ring_checked(clipper):
        tc_bb = ring_bbox(tc)
        for ts in subj_tris:
            if not bbox_intersects(ring_bbox(ts), tc_bb):
                continue
            piece = clip_convex(ts, tc)
            if piece is not None and abs(ring_area(piece)) > 1e-12:
                out.append(piece)
    return out


def rings_intersection_area(a, b) -> float:
    """|a ∩ b| via ``clip_rings`` (piece areas sum; pieces are disjoint)."""
    return float(sum(abs(ring_area(p)) for p in clip_rings(a, b)))


# ---------------------------------------------------------------------------
# antimeridian (±180°) handling  [ref: util/raster_extent2shp.py:83-123 —
# the reference splits dateline-crossing footprints into two polygons before
# writing; here split_* are exact clips at x=±p instead of the reference's
# ±179.999 epsilon boxes]
# ---------------------------------------------------------------------------

def unwrap_ring(ring):
    """Make x continuous for rings given in WRAPPED coords: a consecutive-x
    jump > 180° is interpreted as a dateline crossing and the remainder of
    the ring is shifted by ±360°.  Non-crossing rings pass through."""
    r = np.asarray(ring, dtype=np.float64).copy()
    dx = np.diff(r[:, 0])
    step = np.where(dx > 180.0, -360.0, np.where(dx < -180.0, 360.0, 0.0))
    r[1:, 0] += np.cumsum(step)
    return r


def split_ring_antimeridian(ring, p: float = 180.0):
    """Ring (wrapped, or unwrapped past ±p) -> list of rings wholly within
    [-p, p].  Crossing rings are clipped at x = ±p and the out-of-range part
    shifted by ∓2p; non-crossing rings return ``[ring]`` unchanged."""
    r = unwrap_ring(ring_close(ring))
    minx, miny, maxx, maxy = ring_bbox(r)
    my0, my1 = miny - 1.0, maxy + 1.0
    out = []
    if maxx > p and minx < p:
        a = clip_convex(r, bbox_to_ring((minx - 1.0, my0, p, my1)))
        b = clip_convex(r, bbox_to_ring((p, my0, maxx + 1.0, my1)))
        if a is not None:
            out.append(a)
        if b is not None:
            b[:, 0] -= 2 * p
            out.append(b)
    elif minx < -p and maxx > -p:
        a = clip_convex(r, bbox_to_ring((-p, my0, maxx + 1.0, my1)))
        b = clip_convex(r, bbox_to_ring((minx - 1.0, my0, -p, my1)))
        if a is not None:
            out.append(a)
        if b is not None:
            b[:, 0] += 2 * p
            out.append(b)
    elif minx >= p or maxx <= -p:  # wholly out of range after unwrap
        r[:, 0] += -2 * p if minx >= p else 2 * p
        out.append(r)
    else:
        out.append(r)
    return out


def split_bbox_antimeridian(b, p: float = 180.0):
    """Bbox whose x-range may extend beyond ±p (by any number of whole
    wraps) -> list of in-range parts.  The x-span is first normalized so
    minx lands in [-p, p); a span still crossing +p splits in two."""
    import math

    minx, miny, maxx, maxy = b
    if maxx - minx >= 2 * p:
        return [(-p, miny, p, maxy)]
    shift = math.floor((minx + p) / (2 * p)) * 2 * p
    minx -= shift
    maxx -= shift
    if maxx > p:
        return [(minx, miny, p, maxy), (-p, miny, maxx - 2 * p, maxy)]
    return [(minx, miny, maxx, maxy)]


# ---------------------------------------------------------------------------
# WKB (OGC little-endian Polygon, one ring)
# ---------------------------------------------------------------------------

def ring_to_wkb(ring) -> bytes:
    r = ring_close(np.asarray(ring, dtype=np.float64))
    n = len(r)
    head = struct.pack("<BII", 1, 3, 1) + struct.pack("<I", n)
    return head + r.astype("<f8").tobytes()


def wkb_to_ring(wkb: bytes):
    (endian,) = struct.unpack_from("<B", wkb, 0)
    fmt = "<" if endian == 1 else ">"
    (gtype,) = struct.unpack_from(fmt + "I", wkb, 1)
    if gtype != 3:
        raise ValueError(f"only Polygon WKB supported, got type {gtype}")
    (nrings,) = struct.unpack_from(fmt + "I", wkb, 5)
    if nrings < 1:
        return np.zeros((0, 2))
    (npts,) = struct.unpack_from(fmt + "I", wkb, 9)
    arr = np.frombuffer(wkb, dtype=fmt + "f8", count=npts * 2, offset=13)
    return arr.reshape(npts, 2).copy()
