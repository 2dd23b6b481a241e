"""Core module tests: grid math, CRS, geometry, DGGS, codecs, synth."""

import math

import numpy as np
import pytest

from geo_raster_spark import codecs, crs, dggs, geometry, grid, synth


# --- grid -------------------------------------------------------------------

def test_tile_grid_dims_and_tags():
    g = grid.TileGrid()
    assert (g.n_cols, g.n_rows) == (360, 180)
    assert grid.tile_tag(3, 45) == "h003v045"
    assert grid.geo_tile_tag(g, 0, 0) == "180W90N"
    assert grid.geo_tile_tag(g, 183, 88) == "003E02N"
    s = grid.TileGrid(image_size=3000, cell_size=30, is_geog=False, crs="SINU")
    assert s.n_cols == s.n_rows == 444


def test_to_cell_truncates_toward_zero():
    gt = (0.0, 1.0, 0, 0.0, 0, -1.0)
    col, row = grid.to_cell(gt, np.array([-0.5, 0.5]), np.array([0.5, -0.5]))
    assert col.tolist() == [0, 0] and row.tolist() == [0, 0]


def test_to_location_pixel_center():
    gt = (100.0, 2.0, 0, 50.0, 0, -2.0)
    x, y = grid.to_location(gt, 0, 0)
    assert (x, y) == (101.0, 49.0)


def test_align_snaps_outward():
    info = grid.RasterInfo((0.0, 1.0, 0, 10.0, 0, -1.0), 10, 10)
    a = info.align((1.2, 1.2, 3.7, 3.7))
    assert a.gt[0] == 1.0 and a.gt[3] == 4.0 and (a.width, a.height) == (3, 3)


def test_read_window_pads_nodata():
    info = grid.RasterInfo((0.0, 1.0, 0, 10.0, 0, -1.0), 10, 10)
    d = np.arange(100, dtype=float).reshape(10, 10)
    out, oinfo = grid.read_window(d, info, (-2.0, 6.0, 4.0, 12.0), nodata=-1)
    assert out.shape == (6, 6)
    assert (out[:2] == -1).all() and (out[:, :2] == -1).all()
    assert out[2, 2] == d[0, 0]


def test_list_tiles_matches_bruteforce():
    g = grid.TileGrid()
    ext = (-3.25, -2.5, 4.75, 1.5)
    fast = set(g.list_tiles(ext))
    brute = set()
    for row in range(g.n_rows):
        for col in range(g.n_cols):
            te = g.tile_extent(col, row)
            if te[0] <= ext[2] and te[2] >= ext[0] and te[1] <= ext[3] and te[3] >= ext[1]:
                brute.add((col, row))
    assert fast == brute


def test_split_ring_antimeridian():
    from geo_raster_spark import geometry as g
    # unwrapped crossing ring: 178..183 -> [178, 180] + [-180, -177]
    ring = g.bbox_to_ring((178.0, 10.0, 183.0, 20.0))
    parts = g.split_ring_antimeridian(ring)
    assert len(parts) == 2
    for p in parts:
        bb = g.ring_bbox(p)
        assert -180.0 <= bb[0] and bb[2] <= 180.0
    areas = sorted(abs(g.ring_area(p)) for p in parts)
    np.testing.assert_allclose(sum(areas), 5.0 * 10.0, rtol=1e-12)
    np.testing.assert_allclose(areas, [2.0 * 10.0, 3.0 * 10.0], rtol=1e-12)
    # wrapped input (vertex x jumps +178 -> -177) unwraps then splits
    wrapped = np.array([[178.0, 10.0], [-177.0, 10.0], [-177.0, 20.0],
                        [178.0, 20.0], [178.0, 10.0]])
    parts2 = g.split_ring_antimeridian(wrapped)
    assert len(parts2) == 2
    np.testing.assert_allclose(sum(abs(g.ring_area(p)) for p in parts2),
                               5.0 * 10.0, rtol=1e-12)
    # non-crossing ring passes through untouched
    plain = g.bbox_to_ring((-10.0, 0.0, 10.0, 5.0))
    assert len(g.split_ring_antimeridian(plain)) == 1


def test_list_tiles_wraps_at_dateline():
    g = grid.TileGrid()  # 1-degree tiles, n_cols=360
    ext = (179.4, 0.2, 180.6, 0.8)  # crosses +180: wraps onto col 0
    tiles = set(g.list_tiles(ext))
    cols = {c for c, _ in tiles}
    assert 359 in cols and 0 in cols
    # and the wrapped rep of the same extent agrees
    ext2 = (-180.6, 0.2, -179.4, 0.8)
    assert set(g.list_tiles(ext2)) == tiles


def test_bbox_cover_wraps_at_dateline():
    from geo_raster_spark import dggs
    cells = dggs.bbox_cover((179.3, 0.0, 180.7, 0.6), res=8)
    _, cols, _ = dggs.unpack(cells)
    n_cols = (1 << 8) * 2
    assert cols.max() == n_cols - 1 and cols.min() == 0


def test_polygon_cover_adaptive_partitions_same_region():
    """The adaptive multi-res cover must tile EXACTLY the same region as the
    flat cover (every flat cell has exactly one adaptive ancestor/self), be
    much smaller for a hot zone, and keep boundary cells at full res."""
    from geo_raster_spark import dggs
    ring = geometry.bbox_to_ring((-40.0, -25.0, 35.0, 30.0))  # ~large zone
    flat, flat_full = dggs.polygon_cover_labeled(ring, 8)
    ad, ad_full, res_min = dggs.polygon_cover_adaptive(ring, 8, levels=3)
    assert res_min == 5
    assert len(ad) < len(flat) / 3  # hot zones shrink a lot
    ad_set = set(int(c) for c in ad)
    # map every flat cell to its ancestor at each level; exactly one hit
    for cells, full in ((flat[flat_full], True), (flat[~flat_full], False)):
        for c in cells[:: max(1, len(cells) // 500)]:  # sample for speed
            hits = [r for r in range(res_min, 9)
                    if int(dggs.parent(np.int64(c), r)) in ad_set]
            assert len(hits) == 1, int(c)
    # boundary (partial) cells stay at res 8 and stay partial
    ad_res = dggs.unpack(ad)[0]
    assert (ad_res[~ad_full] == 8).all()
    # full flags: coarse cells are always full
    assert (ad_full[ad_res < 8]).all()


def test_tile_output_path():
    assert grid.tile_output_path("/out", 12, 34, "tcc") == \
        "/out/data/h012/v034/h012v034/h012v034_tcc"


# --- crs --------------------------------------------------------------------

def test_crs_roundtrips():
    lon = np.array([10.0, -170.0, 0.0])
    lat = np.array([45.0, -59.0, 80.0])
    for c in ["SINU", "EPSG:3857"]:
        x, y = crs.transform("EPSG:4326", c, lon, lat)
        lo, la = crs.transform(c, "EPSG:4326", x, y)
        np.testing.assert_allclose(lo, lon, atol=1e-9)
        np.testing.assert_allclose(la, lat, atol=1e-9)


def test_utm_roundtrip_and_invariants():
    # roundtrip across the zone, both hemispheres
    lon = np.linspace(0.5, 5.5, 9)
    lat = np.linspace(-79.0, 79.0, 9)
    for z in ("EPSG:32631", "EPSG:32731", "UTM:31N"):
        E, N = crs.transform("EPSG:4326", z, lon, lat)
        lo, la = crs.transform(z, "EPSG:4326", E, N)
        np.testing.assert_allclose(lo, lon, atol=1e-9)
        np.testing.assert_allclose(la, lat, atol=1e-9)
    # central-meridian invariants: E=500000 exactly; equator N=0 (north)
    E, N = crs.transform("EPSG:4326", "EPSG:32631",
                         np.array([3.0, 3.0]), np.array([0.0, 45.0]))
    np.testing.assert_allclose(E, [500000.0, 500000.0], atol=1e-6)
    np.testing.assert_allclose(N[0], 0.0, atol=1e-6)
    # south false northing
    _, Ns = crs.transform("EPSG:4326", "EPSG:32731",
                          np.array([3.0]), np.array([0.0]))
    np.testing.assert_allclose(Ns, [10_000_000.0], atol=1e-6)


def test_utm_meridian_arc_oracle():
    """Northing along the central meridian must equal k0 x the ellipsoidal
    meridian arc — computed here by INDEPENDENT numerical quadrature of the
    meridian radius of curvature (no shared code with the Krüger series)."""
    a, f = 6378137.0, 1 / 298.257223563
    e2 = f * (2 - f)
    for lat_deg in (30.0, 45.0, 60.0):
        phi = np.linspace(0.0, np.radians(lat_deg), 400_001)
        m = np.trapz(a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5, phi)
        _, N = crs.transform("EPSG:4326", "EPSG:32631",
                             np.array([3.0]), np.array([lat_deg]))
        np.testing.assert_allclose(N[0], 0.9996 * m, atol=1e-4)


def test_aea_conus_albers():
    """EPSG:5070 (Conus Albers — the USGS Landsat grid): roundtrip, origin
    invariant, and the EQUAL-AREA property verified against an independent
    numerical quadrature of the ellipsoidal area element."""
    lon = np.linspace(-124.0, -67.0, 9)
    lat = np.linspace(25.0, 49.0, 9)
    x, y = crs.transform("EPSG:4326", "EPSG:5070", lon, lat)
    lo, la = crs.transform("EPSG:5070", "EPSG:4326", x, y)
    np.testing.assert_allclose(lo, lon, atol=1e-9)
    np.testing.assert_allclose(la, lat, atol=1e-7)   # authalic series ~1 mm
    x0, y0 = crs.transform("EPSG:4326", "EPSG:5070",
                           np.array([-96.0]), np.array([23.0]))
    np.testing.assert_allclose([x0[0], y0[0]], [0.0, 0.0], atol=1e-6)

    a, f = 6378137.0, 1 / 298.257222101
    e2 = f * (2 - f)
    lo0, lo1, la0, la1 = -100.0, -99.0, 38.0, 39.0
    phi = np.linspace(np.radians(la0), np.radians(la1), 200001)
    integrand = a * a * (1 - e2) * np.cos(phi) / (1 - e2 * np.sin(phi) ** 2) ** 2
    ell_area = np.trapz(integrand, phi) * np.radians(lo1 - lo0)
    t = np.linspace(0, 1, 400)
    rl = np.concatenate([lo0 + (lo1 - lo0) * t, np.full(400, lo1),
                         lo1 - (lo1 - lo0) * t, np.full(400, lo0)])
    rb = np.concatenate([np.full(400, la0), la0 + (la1 - la0) * t,
                         np.full(400, la1), la1 - (la1 - la0) * t])
    px, py = crs.transform("EPSG:4326", "EPSG:5070", rl, rb)
    proj_area = abs(0.5 * np.sum(px * np.roll(py, -1) - np.roll(px, -1) * py))
    np.testing.assert_allclose(proj_area / ell_area, 1.0, rtol=1e-7)
    # generic family string
    assert crs.parse_aea("AEA:29.5,45.5,23,-96") == (29.5, 45.5, 23.0, -96.0)
    x2, y2 = crs.transform("EPSG:4326", "AEA:29.5,45.5,23,-96",
                           np.array([-100.0]), np.array([40.0]))
    x3, y3 = crs.transform("EPSG:4326", "EPSG:5070",
                           np.array([-100.0]), np.array([40.0]))
    np.testing.assert_allclose([x2[0], y2[0]], [x3[0], y3[0]], rtol=1e-12)


def test_lcc_canada_lambert():
    """EPSG:3978 (Canada Atlas Lambert): roundtrip, origin, and the
    CONFORMAL invariants measured numerically — parallel scale k = 1 at
    both standard parallels, and k == h (isotropy) everywhere."""
    lon = np.linspace(-140.0, -55.0, 9)
    lat = np.linspace(42.0, 82.0, 9)
    x, y = crs.transform("EPSG:4326", "EPSG:3978", lon, lat)
    lo, la = crs.transform("EPSG:3978", "EPSG:4326", x, y)
    np.testing.assert_allclose(lo, lon, atol=1e-9)
    np.testing.assert_allclose(la, lat, atol=1e-9)
    x0, y0 = crs.transform("EPSG:4326", "EPSG:3978",
                           np.array([-95.0]), np.array([49.0]))
    np.testing.assert_allclose([x0[0], y0[0]], [0.0, 0.0], atol=1e-6)

    a, f = 6378137.0, 1 / 298.257222101
    e2 = f * (2 - f)
    d = 1e-4
    for latp, k_want in ((49.0, 1.0), (77.0, 1.0), (60.0, None)):
        p1 = crs.transform("EPSG:4326", "EPSG:3978",
                           np.array([-100.0]), np.array([latp]))
        p2 = crs.transform("EPSG:4326", "EPSG:3978",
                           np.array([-100.0 + d]), np.array([latp]))
        p3 = crs.transform("EPSG:4326", "EPSG:3978",
                           np.array([-100.0]), np.array([latp + d]))
        nu = a / np.sqrt(1 - e2 * np.sin(np.radians(latp)) ** 2)
        M = a * (1 - e2) / (1 - e2 * np.sin(np.radians(latp)) ** 2) ** 1.5
        k = float(np.hypot(p2[0] - p1[0], p2[1] - p1[1])[0]
                  / (nu * np.cos(np.radians(latp)) * np.radians(d)))
        h = float(np.hypot(p3[0] - p1[0], p3[1] - p1[1])[0]
                  / (M * np.radians(d)))
        np.testing.assert_allclose(k, h, rtol=1e-5)      # conformal isotropy
        if k_want is not None:
            np.testing.assert_allclose(k, k_want, rtol=1e-6)
        else:
            assert k < 1.0  # between the standard parallels
    # generic family string matches the EPSG entry
    xg, yg = crs.transform("EPSG:4326", "LCC:49,77,49,-95",
                           np.array([-120.0]), np.array([55.0]))
    xe, ye = crs.transform("EPSG:4326", "EPSG:3978",
                           np.array([-120.0]), np.array([55.0]))
    np.testing.assert_allclose([xg[0], yg[0]], [xe[0], ye[0]], rtol=1e-12)


def test_parse_utm():
    assert crs.parse_utm("EPSG:32618") == (18, True, "WGS84")
    assert crs.parse_utm("EPSG:32702") == (2, False, "WGS84")
    assert crs.parse_utm("UTM:7S") == (7, False, "WGS84")
    assert crs.parse_utm("EPSG:26918") == (18, True, "GRS80")
    assert crs.parse_utm("UTM83:18N") == (18, True, "GRS80")
    assert crs.parse_utm("EPSG:26900") is None   # no zone 0
    assert crs.parse_utm("EPSG:26924") is None   # EPSG stops at zone 23
    assert crs.parse_utm("EPSG:4326") is None


def test_parse_utm_rejects_invalid_zones():
    """Zones outside 1..60 are not UTM: EPSG:32600/32661/32699 and UTM:0N
    must raise 'unknown crs', not project from a nonsense central meridian."""
    import pytest
    for bad in ("EPSG:32600", "EPSG:32661", "EPSG:32699", "EPSG:32761", "UTM:0N"):
        assert crs.parse_utm(bad) is None, bad
        with pytest.raises(ValueError, match="unknown crs"):
            crs.transform(bad, "EPSG:4326", [500000.0], [4_000_000.0])
    assert crs.parse_utm("EPSG:32601") == (1, True, "WGS84")
    assert crs.parse_utm("EPSG:32760") == (60, False, "WGS84")


def test_warp_4326_to_utm():
    """G10 across 4326<->UTM: warp a geographic source into a UTM-meter grid
    and verify each output pixel equals the source pixel its center maps to."""
    from geo_raster_spark.grid import RasterInfo
    from geo_raster_spark.kernels import warp as warp_k
    src_info = RasterInfo((2.0, 0.01, 0.0, 46.0, 0.0, -0.01), 200, 200, "EPSG:4326")
    rng = np.random.default_rng(5)
    src = rng.integers(1, 255, size=(200, 200)).astype(np.float64)
    # 100m UTM grid around the center of the source footprint
    E0, N0 = crs.transform("EPSG:4326", "EPSG:32631",
                           np.array([2.5]), np.array([45.5]))
    dst_info = RasterInfo((float(E0[0]) - 5000, 100.0, 0.0,
                           float(N0[0]) + 5000, 0.0, -100.0),
                          100, 100, "EPSG:32631")
    out = warp_k.warp_band(src, src_info, dst_info, nodata=0.0)
    cols, rows = np.meshgrid(np.arange(100), np.arange(100))
    tx = dst_info.gt[0] + 100.0 * (cols + 0.5)
    ty = dst_info.gt[3] - 100.0 * (rows + 0.5)
    lo, la = crs.transform("EPSG:32631", "EPSG:4326", tx.ravel(), ty.ravel())
    sc = np.trunc((lo - 2.0) / 0.01).astype(int)
    sr = np.trunc((la - 46.0) / -0.01).astype(int)
    ok = (sc >= 0) & (sc < 200) & (sr >= 0) & (sr < 200)
    want = np.zeros(100 * 100)
    want[ok] = src[sr[ok], sc[ok]]
    assert ok.sum() > 5000  # grid genuinely overlaps
    np.testing.assert_array_equal(out.ravel(), want)


def test_transform_extent_contains_corners():
    ext = (10.0, 40.0, 12.0, 42.0)
    sx = crs.transform_extent("EPSG:4326", "SINU", ext)
    cx, cy = crs.transform("EPSG:4326", "SINU",
                           np.array([10.0, 12.0]), np.array([40.0, 42.0]))
    assert sx[0] <= cx.min() and sx[2] >= cx.max()


# --- geometry ---------------------------------------------------------------

def test_pip_and_area():
    tri = np.array([[0, 0], [10, 0], [5, 10]], float)
    assert geometry.points_in_ring(tri, np.array([5.0, -1.0]), np.array([3.0, 3.0])).tolist() == [True, False]
    assert abs(geometry.ring_area(geometry.ring_close(tri)) - 50) < 1e-12


def test_wkb_roundtrip():
    tri = geometry.ring_close(np.array([[0, 0], [4, 0], [2, 3]], float))
    assert np.allclose(geometry.wkb_to_ring(geometry.ring_to_wkb(tri)), tri)


def test_clip_convex():
    tri = np.array([[0, 0], [10, 0], [5, 10]], float)
    c = geometry.clip_convex(tri, geometry.bbox_to_ring((0, 0, 5, 5)))
    assert abs(abs(geometry.ring_area(c)) - 18.75) < 1e-9
    assert geometry.clip_convex(tri, geometry.bbox_to_ring((50, 50, 60, 60))) is None


def test_bbox_helpers_match_interval_arithmetic():
    """bbox_contains_point / intersect / union / buffer against brute-force
    membership of lattice points in the closed x and y intervals."""
    rng = np.random.default_rng(5)
    xs, ys = np.meshgrid(np.arange(-12, 12.5, 0.5), np.arange(-12, 12.5, 0.5))
    xs, ys = xs.ravel(), ys.ravel()

    def inside(b):
        return (b[0] <= xs) & (xs <= b[2]) & (b[1] <= ys) & (ys <= b[3])

    for _ in range(40):
        a, b = [tuple(np.concatenate([np.sort(rng.integers(-8, 9, 2)),
                                      np.sort(rng.integers(-8, 9, 2))])
                      [[0, 2, 1, 3]].astype(float)) for _ in range(2)]
        d = float(rng.integers(0, 3)) / 2
        got = np.array([geometry.bbox_contains_point(a, x, y)
                        for x, y in zip(xs, ys)])
        np.testing.assert_array_equal(got, inside(a))
        i = geometry.bbox_intersect(a, b)
        if geometry.bbox_intersects(a, b):
            np.testing.assert_array_equal(inside(i), inside(a) & inside(b))
        else:
            assert i[0] > i[2] or i[1] > i[3]
        u = geometry.bbox_union(a, b)
        both = inside(a) | inside(b)
        assert inside(u)[both].all()
        assert u == (xs[both].min(), ys[both].min(),
                     xs[both].max(), ys[both].max())
        # buffer = points within Chebyshev distance d of the box
        dx = np.maximum(np.maximum(a[0] - xs, xs - a[2]), 0)
        dy = np.maximum(np.maximum(a[1] - ys, ys - a[3]), 0)
        np.testing.assert_array_equal(inside(geometry.bbox_buffer(a, d)),
                                      np.maximum(dx, dy) <= d)


def test_rings_intersect():
    a = geometry.bbox_to_ring((0, 0, 2, 2))
    assert geometry.rings_intersect(a, geometry.bbox_to_ring((1, 1, 3, 3)))
    assert not geometry.rings_intersect(a, geometry.bbox_to_ring((5, 5, 6, 6)))
    # crossing without contained vertices
    cross = np.array([[-1, 0.5], [3, 0.5], [3, 1.5], [-1, 1.5]], float)
    assert geometry.rings_intersect(a, cross)


# --- dggs -------------------------------------------------------------------

def test_cell_pack_unpack_roundtrip():
    c = dggs.latlng_to_cell(np.array([12.3]), np.array([-45.6]), 9)
    res, col, row = dggs.unpack(c)
    assert res[0] == 9
    bb = dggs.cell_to_bbox(c)
    assert bb[0] <= 12.3 <= bb[2] and bb[1] <= -45.6 <= bb[3]


def test_k_ring_pole_clamp_and_wrap():
    c = int(dggs.latlng_to_cell(np.array([0.0]), np.array([89.9]), 3)[0])
    assert len(dggs.k_ring(c, 1)) == 6
    c2 = int(dggs.latlng_to_cell(np.array([179.9]), np.array([0.0]), 3)[0])
    cols = set(int(v) for v in dggs.unpack(dggs.k_ring(c2, 1))[1])
    assert 0 in cols and 15 in cols


def test_parent_and_cover():
    c = dggs.latlng_to_cell(np.array([10.0]), np.array([10.0]), 9)
    p = dggs.parent(c, 7)
    pb = dggs.cell_to_bbox(p)
    cb = dggs.cell_to_bbox(c)
    assert pb[0] <= cb[0] and pb[2] >= cb[2]
    cover = dggs.polygon_cover(geometry.bbox_to_ring((-1, -1, 1, 1)), 7)
    assert len(cover) >= 4


# --- codecs -----------------------------------------------------------------

@pytest.mark.parametrize("fmt", ["npy", "png", "jpeg"])
def test_codec_roundtrip(fmt):
    arr = synth.image_pixels(3, 64, 96, 987654321)
    dec = codecs.decode(codecs.encode(arr, fmt), fmt)
    assert dec.shape == arr.shape
    if codecs.is_lossless(fmt):
        assert np.array_equal(dec, arr)
    else:
        assert codecs.psnr(arr, dec) >= 40.0


def test_codec_error_paths():
    with pytest.raises(ValueError):  # SOI routes to the real decoder, which
        codecs.decode(b"\xff\xd8\xff\xe0 jfif", "jpeg")  # rejects truncation
    with pytest.raises(ValueError):
        codecs.decode(b"NOTJ" + b"\x00" * 16, "jpeg")
    with pytest.raises(ValueError):
        codecs.decode(b"nope", "png")


# --- synth ------------------------------------------------------------------

def test_images_deterministic_and_batch_stable():
    a = synth.images_pandas(6)
    b = synth.images_pandas(3, start=3)
    pa = a.iloc[3:].reset_index(drop=True)
    assert pa[["image_id", "caption", "phash"]].equals(b[["image_id", "caption", "phash"]])
    assert all(x == y for x, y in zip(pa["bytes"], b["bytes"]))


def test_zones_hot_fixture():
    z = synth.zones_pandas(16, hot=True)
    ring = geometry.wkb_to_ring(z.iloc[0]["geometry"])
    assert abs(abs(geometry.ring_area(ring)) - 180.0 * 120.0) < 1e-6


def test_footprints_within_bounds():
    m = synth.image_meta(np.arange(500))
    assert (m["minx"] >= -181).all() and (m["maxx"] <= 181).all()
    assert (m["miny"] >= -61).all() and (m["maxy"] <= 61).all()


def test_png_decode_filters_1_3_4():
    """Foreign-tool PNGs use Sub/Average/Paeth row filters; decode must
    invert them.  The test forward-filters a known image per the PNG spec
    (independent direction) and asserts decode recovers it."""
    import struct
    import zlib

    rng = np.random.default_rng(9)
    arr = rng.integers(0, 256, (23, 31)).astype(np.uint8)
    h, w = arr.shape

    def forward(ftype):
        raw = b""
        prev = np.zeros(w, np.int32)
        for r in range(h):
            line = arr[r].astype(np.int32)
            left = np.concatenate([[0], line[:-1]])
            if ftype == 1:
                f = line - left
            elif ftype == 3:
                f = line - ((left + prev) >> 1)
            else:  # 4 = Paeth
                f = np.empty(w, np.int32)
                for x in range(w):
                    a = int(line[x - 1]) if x else 0
                    b = int(prev[x])
                    c = int(prev[x - 1]) if x else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    f[x] = line[x] - pr
            raw += bytes([ftype]) + (f % 256).astype(np.uint8).tobytes()
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (codecs._PNG_SIG + codecs._chunk(b"IHDR", ihdr)
                + codecs._chunk(b"IDAT", zlib.compress(raw))
                + codecs._chunk(b"IEND", b""))

    for ftype in (1, 3, 4):
        got = codecs.decode_png(forward(ftype))
        np.testing.assert_array_equal(got, arr, err_msg=f"filter {ftype}")


def test_png_decode_mixed_filters_0_1_2():
    """Exercises the vectorized None/Sub/Up path (cumsum reconstruction over
    maximal Up-runs) with per-row filter choice cycling 0,1,2,2,0,1,..."""
    import struct
    import zlib

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, (29, 17)).astype(np.uint8)
    h, w = arr.shape
    raw = b""
    prev = np.zeros(w, np.int32)
    cycle = [0, 1, 2, 2]
    for r in range(h):
        line = arr[r].astype(np.int32)
        ftype = cycle[r % len(cycle)] if r else 2  # first row Up (prev=0)
        left = np.concatenate([[0], line[:-1]])
        f = {0: line, 1: line - left, 2: line - prev}[ftype]
        raw += bytes([ftype]) + (f % 256).astype(np.uint8).tobytes()
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    data = (codecs._PNG_SIG + codecs._chunk(b"IHDR", ihdr)
            + codecs._chunk(b"IDAT", zlib.compress(raw))
            + codecs._chunk(b"IEND", b""))
    np.testing.assert_array_equal(codecs.decode_png(data), arr)


def test_png_rgba_roundtrip():
    rng = np.random.default_rng(5)
    rgba = rng.integers(0, 256, (4, 20, 30)).astype(np.uint8)  # planes-first
    enc = codecs.encode_png(rgba)
    dec = codecs.decode_png(enc)
    assert dec.shape == (20, 30, 4)
    assert np.array_equal(dec, np.transpose(rgba, (1, 2, 0)))
    # viz pipeline: colorize then encode
    from geo_raster_spark.kernels import viz
    arr = synth.image_pixels(1, 32, 32, 42)
    col = viz.colorize_rgba(arr, [0, 128], [(0, 0, 255, 255), (255, 0, 0, 255)])
    enc2 = codecs.encode_png(col)
    assert codecs.decode_png(enc2).shape == (32, 32, 4)


def test_triangulate_and_clip_rings_concave():
    """General ring∩ring: ear-clipping covers the concave L exactly and
    clip_rings computes the right intersection area in BOTH role orders."""
    L = np.array([[0, 0], [4, 0], [4, 2], [2, 2], [2, 4], [0, 4]], float)
    tris = geometry.triangulate_ring(L)
    total = sum(abs(geometry.ring_area(t)) for t in tris)
    assert np.isclose(total, 12.0)          # |L| = 4x2 + 2x2
    sq = geometry.bbox_to_ring((1.0, 1.0, 3.0, 3.0))
    # L ∩ [1,3]^2 = [1,3]x[1,2] ∪ [1,2]x[2,3] -> area 3
    assert np.isclose(geometry.rings_intersection_area(L, sq), 3.0)
    assert np.isclose(geometry.rings_intersection_area(sq, L), 3.0)
    # disjoint -> empty
    assert geometry.clip_rings(L, geometry.bbox_to_ring((10, 10, 11, 11))) == []
    # containment -> full subject area
    big = geometry.bbox_to_ring((-1, -1, 5, 5))
    assert np.isclose(geometry.rings_intersection_area(L, big), 12.0)


def test_polar_stereographic_roundtrip_and_invariants():
    """EPSG:3413 (Arctic) / EPSG:3031 (Antarctic) polar stereographic:
    roundtrip, pole -> origin, unit scale on the standard parallel, and
    CONFORMALITY (meridian scale == parallel scale) — all checked against
    independent numerical derivatives of the ellipsoidal metric, never the
    projection's own closed forms."""
    a, f = 6378137.0, 1 / 298.257223563
    e2 = f * (2 - f)

    for ps, lat_ts, pole in (("EPSG:3413", 70.0, 90.0),
                             ("EPSG:3031", -71.0, -90.0),
                             ("PS:75,10", 75.0, 90.0)):
        lons = np.linspace(-170.0, 170.0, 9)
        lats = (np.linspace(55.0, 88.0, 9) if pole > 0
                else np.linspace(-88.0, -55.0, 9))
        x, y = crs.transform("EPSG:4326", ps, lons, lats)
        lo, la = crs.transform(ps, "EPSG:4326", x, y)
        np.testing.assert_allclose(lo, lons, atol=1e-9)
        np.testing.assert_allclose(la, lats, atol=1e-9)
        # pole maps to the grid origin
        px, py = crs.transform("EPSG:4326", ps, np.array([33.0]),
                               np.array([pole]))
        np.testing.assert_allclose([px[0], py[0]], [0.0, 0.0], atol=1e-6)
        # scale along the standard parallel == 1 (true parallel arc length
        # from the ellipsoid metric: a * cos(phi)/sqrt(1-e2 sin^2) * dlam)
        dlon = 1e-4
        for lon0 in (-40.0, 25.0):
            x1, y1 = crs.transform("EPSG:4326", ps, np.array([lon0]),
                                   np.array([lat_ts]))
            x2, y2 = crs.transform("EPSG:4326", ps, np.array([lon0 + dlon]),
                                   np.array([lat_ts]))
            proj_d = float(np.hypot(x2 - x1, y2 - y1))
            phi = np.radians(lat_ts)
            true_d = (a * np.cos(phi) / np.sqrt(1 - e2 * np.sin(phi) ** 2)
                      * np.radians(dlon))
            np.testing.assert_allclose(proj_d, true_d, rtol=1e-6)
        # conformal: meridian scale == parallel scale away from lat_ts
        for lat in ([60.0, 80.0] if pole > 0 else [-60.0, -80.0]):
            phi = np.radians(lat)
            dl = 1e-5
            xA, yA = crs.transform("EPSG:4326", ps, np.array([10.0 - dl, 10.0 + dl,
                                                              10.0, 10.0]),
                                   np.array([lat, lat, lat - dl, lat + dl]))
            par = np.hypot(xA[1] - xA[0], yA[1] - yA[0]) / (
                a * np.cos(phi) / np.sqrt(1 - e2 * np.sin(phi) ** 2)
                * np.radians(2 * dl))
            mer = np.hypot(xA[3] - xA[2], yA[3] - yA[2]) / (
                a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
                * np.radians(2 * dl))
            np.testing.assert_allclose(par, mer, rtol=1e-5)


def test_warp_4326_to_polar_stereo():
    """G10 across 4326<->EPSG:3413: warp an Arctic geographic source into
    polar-stereographic meters; every output pixel equals the source pixel
    its center maps back to."""
    from geo_raster_spark.grid import RasterInfo
    from geo_raster_spark.kernels import warp as warp_k
    src_info = RasterInfo((-60.0, 0.05, 0.0, 80.0, 0.0, -0.02), 200, 200,
                          "EPSG:4326")
    rng = np.random.default_rng(13)
    src = rng.integers(1, 255, size=(200, 200)).astype(np.float64)
    E0, N0 = crs.transform("EPSG:4326", "EPSG:3413",
                           np.array([-55.0]), np.array([78.0]))
    dst_info = RasterInfo((float(E0[0]) - 50_000, 1000.0, 0.0,
                           float(N0[0]) + 50_000, 0.0, -1000.0),
                          100, 100, "EPSG:3413")
    out = warp_k.warp_band(src, src_info, dst_info, nodata=0.0)
    cols, rows = np.meshgrid(np.arange(100), np.arange(100))
    tx = dst_info.gt[0] + 1000.0 * (cols + 0.5)
    ty = dst_info.gt[3] - 1000.0 * (rows + 0.5)
    lo, la = crs.transform("EPSG:3413", "EPSG:4326", tx.ravel(), ty.ravel())
    sc = np.trunc((lo - (-60.0)) / 0.05).astype(int)
    sr = np.trunc((la - 80.0) / -0.02).astype(int)
    ok = (sc >= 0) & (sc < 200) & (sr >= 0) & (sr < 200)
    want = np.zeros(100 * 100)
    want[ok] = src[sr[ok], sc[ok]]
    assert ok.sum() > 3000  # grid genuinely overlaps
    np.testing.assert_array_equal(out.ravel(), want)


def test_proj4_string_parsing():
    """P6: proj4 strings map onto the closed-form families and transform
    IDENTICALLY to the canonical ids; unsupported modifiers fail loudly."""
    lon = np.array([-120.0, 3.0, 45.0])
    lat = np.array([40.0, 45.0, -33.0])
    cases = [
        ("+proj=longlat +datum=WGS84 +no_defs", "EPSG:4326"),
        ("+proj=sinu +R=6371007.181 +nadgrids=@null +wktext", "SINU"),
        ("+proj=utm +zone=31 +datum=WGS84 +units=m", "EPSG:32631"),
        ("+proj=utm +zone=18 +south +datum=WGS84", "EPSG:32718"),
        ("+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=23 +lon_0=-96 "
         "+x_0=0 +y_0=0 +datum=NAD83", "EPSG:5070"),
        ("+proj=lcc +lat_1=49 +lat_2=77 +lat_0=49 +lon_0=-95 "
         "+x_0=0 +y_0=0 +datum=NAD83", "EPSG:3978"),
        ("+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +x_0=0 +y_0=0 "
         "+datum=WGS84", "EPSG:3413"),
        ("+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=0 +datum=WGS84",
         "EPSG:3031"),
    ]
    for p4, canon in cases:
        la = lat if "stere" not in p4 else (
            np.array([70.0, 80.0, 60.0]) * (1 if "lat_0=90" in p4 else -1))
        xa, ya = crs.transform("EPSG:4326", p4, lon, la)
        xb, yb = crs.transform("EPSG:4326", canon, lon, la)
        np.testing.assert_array_equal(xa, xb, err_msg=p4)
        np.testing.assert_array_equal(ya, yb, err_msg=p4)
        # inverse direction too
        lo, lt = crs.transform(p4, "EPSG:4326", xa, ya)
        np.testing.assert_allclose(lo, lon, atol=1e-8)
        np.testing.assert_allclose(lt, la, atol=1e-8)
    import pytest
    with pytest.raises(ValueError, match="false easting"):
        crs.transform("EPSG:4326",
                      "+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=23 "
                      "+lon_0=-96 +x_0=100000 +y_0=0", [0.0], [30.0])
    with pytest.raises(ValueError, match="POLAR"):
        crs.transform("EPSG:4326", "+proj=stere +lat_0=52 +lon_0=5",
                      [0.0], [30.0])
    with pytest.raises(ValueError, match="unknown crs"):
        crs.transform("EPSG:4326", "+proj=robin +lon_0=0", [0.0], [30.0])


# --- round-4 ADVICE hardening ----------------------------------------------

def test_proj4_whitelist_rejects_meaning_changing_modifiers():
    """parse_proj4 must fail loudly on modifiers the closed forms ignore
    (ADVICE r3): +lon_0 on merc/sinu, +k_0 on stere, non-default
    ellipsoids/spheres anywhere."""
    bad = [
        "+proj=merc +lon_0=10",                      # shifted central meridian
        "+proj=sinu +lon_0=30 +R=6371007.181",       # shifted sinu
        "+proj=sinu +R=6371000",                     # wrong sphere radius
        "+proj=stere +lat_0=90 +lat_ts=90 +k_0=0.994 +datum=WGS84",  # EPSG:5041 variant A
        "+proj=stere +lat_0=90 +a=6378273 +b=6356889.449",           # Hughes (EPSG:3411)
        "+proj=utm +zone=18 +ellps=intl",            # non-WGS84 ellipsoid
        "+proj=longlat +ellps=bessel",
        "+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=23 +lon_0=-96 +ellps=WGS84",
        "+proj=merc +towgs84=100,0,0",               # real datum shift
        "+proj=utm +zone=18 +k_0=1.0",               # UTM scale must stay 0.9996
    ]
    for p4 in bad:
        with pytest.raises(ValueError):
            crs.parse_proj4(p4)
    # whitelisted canonical strings still resolve
    assert crs.parse_proj4(
        "+proj=merc +a=6378137 +b=6378137 +lat_ts=0 +lon_0=0 +x_0=0 +y_0=0 "
        "+k=1.0 +units=m +nadgrids=@null +wktext +no_defs") == "EPSG:3857"
    assert crs.parse_proj4(
        "+proj=utm +zone=18 +k=0.9996 +datum=WGS84 +units=m") == "UTM:18N"
    assert crs.parse_proj4("+proj=longlat +towgs84=0,0,0") == "EPSG:4326"


def test_encode_png_layout_parameter():
    """encode_png layout control (ADVICE r3): ambiguous shapes raise under
    inference; planes_first= pins the layout either way."""
    img = synth.image_pixels_rgb(3, 4, 5, 99)          # (5, 4, 3) channels-last
    # ambiguous: (3, H, 3) — both axes look like channels
    amb = np.transpose(np.ascontiguousarray(img[:3, :3]), (2, 0, 1))  # (3, 3, 3)
    with pytest.raises(ValueError, match="ambiguous"):
        codecs.encode_png(amb)
    # explicit layouts round-trip to the same pixels
    a = codecs.decode_png(codecs.encode_png(amb, planes_first=True))
    b = codecs.decode_png(codecs.encode_png(
        np.transpose(amb, (1, 2, 0)), planes_first=False))
    np.testing.assert_array_equal(a, b)
    # a planes-first array whose WIDTH is 4 was misrouted by the old
    # heuristic — explicit planes_first now round-trips it correctly
    pf = np.transpose(np.ascontiguousarray(img[:5, :4]), (2, 0, 1))  # (3, 5, 4)
    back = codecs.decode_png(codecs.encode_png(pf, planes_first=True))
    np.testing.assert_array_equal(back, np.transpose(pf, (1, 2, 0)))
    with pytest.raises(ValueError, match="planes-first"):
        codecs.encode_png(np.zeros((5, 6, 3), np.uint8), planes_first=True)


def test_triangulate_checked_flags_degenerate_ring():
    """A ring with a non-consecutive duplicate vertex stalls ear clipping;
    the checked triangulation must raise instead of returning a partial
    tiling (ADVICE r3), and clip_rings must propagate it."""
    # bow-tie through a repeated interior vertex: simple ear clipping
    # cannot tile this; the stall used to return a partial triangle set
    ring = np.array([[0.0, 0.0], [2.0, 0.0], [1.0, 1.0], [2.0, 2.0],
                     [0.0, 2.0], [1.0, 1.0]])
    try:
        geometry.triangulate_ring_checked(ring)
        raised = False
    except geometry.TriangulationError:
        raised = True
    if not raised:  # if ear clipping happens to tile it, coverage must hold
        tris = geometry.triangulate_ring(ring)
        cov = sum(abs(geometry.ring_area(np.vstack([t, t[:1]])))
                  for t in tris)
        assert np.isclose(cov, abs(geometry.ring_area(
            geometry.ring_close(ring))), rtol=1e-9)
    # well-formed concave ring still passes the checked path
    L = np.array([[0.0, 0.0], [3.0, 0.0], [3.0, 1.0], [1.0, 1.0],
                  [1.0, 3.0], [0.0, 3.0]])
    tris = geometry.triangulate_ring_checked(L)
    cov = sum(abs(geometry.ring_area(np.vstack([t, t[:1]]))) for t in tris)
    assert np.isclose(cov, 5.0)


def test_container_roundtrip_and_dataset_refs():
    """S16 container: encode_container packs named sub-datasets of mixed
    formats; decode resolves 'grsc#<name>' refs; missing names fail loudly."""
    a = (np.arange(12 * 9, dtype=np.float64).reshape(9, 12) % 201.0)
    b8 = (np.arange(6 * 7, dtype=np.uint8).reshape(7, 6) * 3) % 251
    payload = codecs.encode_container({
        "sr_band5": (a, "npy"),
        "qa": (b8, "png"),
        "raw": (codecs.encode_npy(b8), "npy"),   # pre-encoded bytes accepted
    })
    idx = codecs.container_index(payload)
    assert set(idx) == {"sr_band5", "qa", "raw"}
    assert idx["sr_band5"][0] == "npy" and idx["qa"][0] == "png"
    np.testing.assert_array_equal(codecs.decode(payload, "grsc#sr_band5"), a)
    np.testing.assert_array_equal(codecs.decode(payload, "grsc#qa"), b8)
    np.testing.assert_array_equal(codecs.decode(payload, "grsc#raw"), b8)
    with pytest.raises(ValueError, match="sr_band9"):
        codecs.decode(payload, "grsc#sr_band9")
    with pytest.raises(ValueError, match="GRSC"):
        codecs.container_index(b"not a container")
    with pytest.raises(ValueError, match="grsc"):
        codecs.decode(payload, "hdf#sr_band5")


def test_codec_registry_seam():
    """Pluggable codec seam: register() overrides dispatch for every caller
    (the native-codec deployment hook) and restores cleanly; unknown fmts
    list what IS registered."""
    calls = {"n": 0}
    base_decode = codecs.decode_png

    def counting(data):
        calls["n"] += 1
        return base_decode(data)

    prev = codecs.register("png", decode_fn=counting)
    try:
        img = (np.arange(64, dtype=np.uint8).reshape(8, 8))
        out = codecs.decode(codecs.encode(img, "png"), "png")
        np.testing.assert_array_equal(out, img)
        assert calls["n"] == 1
        # container sub-decodes flow through the seam too
        payload = codecs.encode_container({"b1": (img, "png")})
        codecs.decode(payload, "grsc#b1")
        assert calls["n"] == 2
    finally:
        codecs.register("png", decode_fn=prev[0], encode_fn=prev[1])
    assert codecs.decode(codecs.encode(img, "png"), "png").shape == (8, 8)
    assert calls["n"] == 2
    # a brand-new format registers end to end
    prev2 = codecs.register("raw16",
                            decode_fn=lambda d: np.frombuffer(d, np.uint16),
                            encode_fn=lambda a: a.astype(np.uint16).tobytes())
    try:
        v = np.array([1, 500, 65535], dtype=np.uint16)
        np.testing.assert_array_equal(codecs.decode(codecs.encode(v, "raw16"),
                                                    "raw16"), v)
        assert "raw16" in codecs.registered_formats()
    finally:
        codecs._DECODERS.pop("raw16"), codecs._ENCODERS.pop("raw16")
    with pytest.raises(ValueError, match="registered"):
        codecs.decode(b"x", "hdf5")   # tiff is a real codec since round 5


_WKT = {
    "EPSG:4326": '''GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563,AUTHORITY["EPSG","7030"]],AUTHORITY["EPSG","6326"]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433],AUTHORITY["EPSG","4326"]]''',
    "EPSG:3857": '''PROJCS["WGS 84 / Pseudo-Mercator",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Mercator_1SP"],PARAMETER["central_meridian",0],PARAMETER["scale_factor",1],PARAMETER["false_easting",0],PARAMETER["false_northing",0],UNIT["metre",1],AUTHORITY["EPSG","3857"]]''',
    "EPSG:32618": '''PROJCS["WGS 84 / UTM zone 18N",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",-75],PARAMETER["scale_factor",0.9996],PARAMETER["false_easting",500000],PARAMETER["false_northing",0],UNIT["metre",1]]''',
    "EPSG:32718": '''PROJCS["WGS 84 / UTM zone 18S",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],PARAMETER["latitude_of_origin",0],PARAMETER["central_meridian",-75],PARAMETER["scale_factor",0.9996],PARAMETER["false_easting",500000],PARAMETER["false_northing",10000000],UNIT["metre",1]]''',
    "EPSG:5070": '''PROJCS["NAD83 / Conus Albers",GEOGCS["NAD83",DATUM["North_American_Datum_1983",SPHEROID["GRS 1980",6378137,298.257222101]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Albers_Conic_Equal_Area"],PARAMETER["latitude_of_center",23],PARAMETER["longitude_of_center",-96],PARAMETER["standard_parallel_1",29.5],PARAMETER["standard_parallel_2",45.5],PARAMETER["false_easting",0],PARAMETER["false_northing",0],UNIT["metre",1]]''',
    "EPSG:3978": '''PROJCS["NAD83 / Canada Atlas Lambert",GEOGCS["NAD83",DATUM["North_American_Datum_1983",SPHEROID["GRS 1980",6378137,298.257222101]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Lambert_Conformal_Conic_2SP"],PARAMETER["standard_parallel_1",49],PARAMETER["standard_parallel_2",77],PARAMETER["latitude_of_origin",49],PARAMETER["central_meridian",-95],PARAMETER["false_easting",0],PARAMETER["false_northing",0],UNIT["metre",1]]''',
    "EPSG:3413": '''PROJCS["WGS 84 / NSIDC Sea Ice Polar Stereographic North",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Polar_Stereographic"],PARAMETER["latitude_of_origin",70],PARAMETER["central_meridian",-45],PARAMETER["false_easting",0],PARAMETER["false_northing",0],UNIT["metre",1]]''',
    "EPSG:3031": '''PROJCS["WGS 84 / Antarctic Polar Stereographic",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Polar_Stereographic"],PARAMETER["latitude_of_origin",-71],PARAMETER["central_meridian",0],PARAMETER["false_easting",0],PARAMETER["false_northing",0],UNIT["metre",1]]''',
    "SINU": '''PROJCS["MODIS Sinusoidal",GEOGCS["Unknown datum based upon the custom spheroid",DATUM["Not_specified",SPHEROID["Custom spheroid",6371007.181,0]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],PROJECTION["Sinusoidal"],PARAMETER["longitude_of_center",0],PARAMETER["false_easting",0],PARAMETER["false_northing",0],UNIT["Meter",1]]''',
}


def test_wkt_parsing_bit_identical_to_epsg_ids():
    """P6 WKT leg: GEOGCS/PROJCS WKT1 of the 7 families resolves to
    transforms BIT-IDENTICAL to the canonical EPSG ids (VERDICT r3 #6)."""
    lon = np.array([-120.0, 3.0, 45.0])
    for canon, wkt in _WKT.items():
        if canon in ("EPSG:3413",):
            lat = np.array([70.0, 80.0, 60.0])
        elif canon in ("EPSG:3031",):
            lat = np.array([-70.0, -80.0, -60.0])
        else:
            lat = np.array([40.0, 45.0, -33.0])
        xa, ya = crs.transform("EPSG:4326", wkt, lon, lat)
        xb, yb = crs.transform("EPSG:4326", canon, lon, lat)
        np.testing.assert_array_equal(xa, xb, err_msg=canon)
        np.testing.assert_array_equal(ya, yb, err_msg=canon)
        lo, lt = crs.transform(wkt, "EPSG:4326", xa, ya)
        np.testing.assert_allclose(lo, lon, atol=1e-8, err_msg=canon)
        np.testing.assert_allclose(lt, lat, atol=1e-8, err_msg=canon)


def test_wkt_rejects_unsupported_loudly():
    bad_cases = [
        # non-UTM transverse mercator (k=1)
        _WKT["EPSG:32618"].replace('"scale_factor",0.9996', '"scale_factor",1'),
        # Bessel ellipsoid
        _WKT["EPSG:4326"].replace("6378137,298.257223563",
                                  "6377397.155,299.1528128"),
        # unsupported projection family
        _WKT["EPSG:3978"].replace("Lambert_Conformal_Conic_2SP", "Robinson"),
        # polar stereographic variant A (scaled pole)
        _WKT["EPSG:3413"].replace('PARAMETER["central_meridian",-45]',
                                  'PARAMETER["central_meridian",-45],'
                                  'PARAMETER["scale_factor",0.994]'),
        # nonzero false easting
        _WKT["EPSG:5070"].replace('"false_easting",0', '"false_easting",1500'),
    ]
    for wkt in bad_cases:
        with pytest.raises(ValueError):
            crs.normalize_crs(wkt)
    with pytest.raises(ValueError, match="WKT2"):
        crs.normalize_crs('PROJCRS["x",BASEGEOGCRS["WGS 84"]]')


def test_container_truncation_fails_cleanly():
    payload = codecs.encode_container({
        "a": (np.ones((3, 3), np.uint8), "npy"),
        "b": (np.zeros((2, 5), np.uint8), "png")})
    for cut in range(0, len(payload), 3):
        try:
            codecs.container_index(payload[:cut])
        except ValueError:
            pass
    # index claims bytes beyond the payload -> descriptive error
    with pytest.raises(ValueError, match="truncated"):
        codecs.container_index(payload[:len(payload) - 2])


def test_png_16bit_grayscale_roundtrip():
    """16-bit grayscale PNG (DEM/thermal bands): lossless roundtrip with
    big-endian samples per the spec, byte-wise filter inversion (bpp=2),
    and readable by the filter-0 fast path AND hand-filtered rows."""
    import struct
    import zlib
    rng = np.random.default_rng(11)
    a = rng.integers(0, 65536, (23, 17)).astype(np.uint16)
    enc = codecs.encode_png(a)
    # header declares depth 16, gray
    ih = enc.index(b"IHDR") + 4
    w, h, depth, ctype = struct.unpack_from(">IIBB", enc, ih)
    assert (w, h, depth, ctype) == (17, 23, 16, 0)
    back = codecs.decode_png(enc)
    assert back.dtype == np.uint16
    np.testing.assert_array_equal(back, a)
    # dispatch through the registry seam
    np.testing.assert_array_equal(codecs.decode(codecs.encode(a, "png"),
                                                "png"), a)

    # foreign encoder: Sub(1) + Up(2) + Paeth(4) filtered 16-bit rows must
    # invert byte-wise with a 2-byte pixel lag
    raw = np.ascontiguousarray(a.astype(">u2")).view(np.uint8).reshape(23, -1)
    rows = []
    prev = np.zeros(raw.shape[1], np.uint8)
    for r in range(23):
        line = raw[r].astype(np.int16)
        if r % 3 == 1:    # Sub
            f = line.copy()
            f[2:] = (line[2:] - line[:-2]) % 256
            rows.append(bytes([1]) + bytes(f.astype(np.uint8)))
        elif r % 3 == 2:  # Up
            rows.append(bytes([2]) + bytes(((line - prev) % 256).astype(np.uint8)))
        else:             # None
            rows.append(bytes([0]) + bytes(line.astype(np.uint8)))
        prev = raw[r].astype(np.int16)
    ihdr = struct.pack(">IIBBBBB", 17, 23, 16, 0, 0, 0, 0)
    foreign = (codecs._PNG_SIG + codecs._chunk(b"IHDR", ihdr)
               + codecs._chunk(b"IDAT", zlib.compress(b"".join(rows)))
               + codecs._chunk(b"IEND", b""))
    np.testing.assert_array_equal(codecs.decode_png(foreign), a)
    # 16-bit color remains a loud reject
    ihdr_rgb = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    with pytest.raises(NotImplementedError):
        codecs.decode_png(codecs._PNG_SIG + codecs._chunk(b"IHDR", ihdr_rgb)
                          + codecs._chunk(b"IDAT", zlib.compress(b"\x00" * 100))
                          + codecs._chunk(b"IEND", b""))


def test_wkt_rejects_non_metre_projected_unit():
    """A PROJCS carrying a kilometre/foot linear UNIT would silently
    rescale every coordinate — must raise (round-4 review find); the
    nested GEOGCS degree UNIT must NOT trip the check."""
    ok = _WKT["EPSG:32618"]
    assert crs.parse_wkt(ok) == "UTM:18N"   # degree UNIT inside GEOGCS fine
    km = ok.replace('UNIT["metre",1]', 'UNIT["kilometre",1000]')
    with pytest.raises(ValueError, match="metre"):
        crs.parse_wkt(km)
    ft = ok.replace('UNIT["metre",1]', 'UNIT["US survey foot",0.3048006096]')
    with pytest.raises(ValueError, match="metre"):
        crs.parse_wkt(ft)


def test_encode_png_rejects_wrapping_integer_dtypes():
    """Wider integer inputs would silently wrap mod 256 in the uint8 cast
    (round-4 review find) — reject; float and uint8/uint16 paths intact."""
    with pytest.raises(ValueError, match="wrap"):
        codecs.encode_png(np.array([[300, 5]], dtype=np.int32))
    with pytest.raises(ValueError, match="wrap"):
        codecs.encode_png(np.zeros((4, 4, 3), dtype=np.uint16))
    with pytest.raises(ValueError, match="wrap"):
        codecs.encode_png(np.array([[-1, 0]], dtype=np.int8))
    f = np.array([[3.7, 250.0]])
    np.testing.assert_array_equal(codecs.decode_png(codecs.encode_png(f)),
                                  np.array([[3, 250]], dtype=np.uint8))


def test_wkt_rejects_non_degree_geographic_unit():
    grads = _WKT["EPSG:4326"].replace(
        'UNIT["degree",0.0174532925199433]',
        'UNIT["grad",0.01570796326794897]')
    with pytest.raises(ValueError, match="degree"):
        crs.parse_wkt(grads)
    assert crs.parse_wkt(_WKT["EPSG:4326"]) == "EPSG:4326"


# --- round-5 ADVICE hardening ----------------------------------------------

def test_merc_whitelist_rejects_ellipsoidal_3395():
    """+proj=merc with +datum/+ellps=WGS84 is canonical EPSG:3395
    (ELLIPSOIDAL Mercator, ~0.5% northing error vs the spherical form) —
    must be rejected, while explicit-sphere merc and webmerc resolve."""
    for p4 in ("+proj=merc +datum=WGS84 +units=m",
               "+proj=merc +ellps=WGS84 +units=m",
               "+proj=merc +lon_0=0 +k=1 +x_0=0 +y_0=0 +datum=WGS84 "
               "+units=m +no_defs",      # canonical EPSG:3395 string
               "+proj=merc +units=m"):   # no sphere given -> ambiguous
        with pytest.raises(ValueError):
            crs.parse_proj4(p4)
    assert crs.parse_proj4("+proj=merc +a=6378137 +b=6378137 +units=m") \
        == "EPSG:3857"
    assert crs.parse_proj4("+proj=merc +R=6378137 +units=m") == "EPSG:3857"
    # webmerc is spherical BY DEFINITION even with the datum decoration
    assert crs.parse_proj4("+proj=webmerc +datum=WGS84 +units=m") \
        == "EPSG:3857"


def test_wkt_mercator_1sp_ellipsoid_needs_3857_identity():
    """Mercator_1SP over the WGS84 ellipsoid parses as 3857 ONLY when the
    node is identifiable as 3857 (Pseudo-Mercator name or EPSG:3857
    AUTHORITY); an anonymous ellipsoidal Mercator_1SP (EPSG:3395) raises."""
    tmpl = ('PROJCS["{name}",GEOGCS["WGS 84",DATUM["WGS_1984",'
            'SPHEROID["WGS 84",6378137,298.257223563]],'
            'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
            'PROJECTION["Mercator_1SP"],PARAMETER["central_meridian",0],'
            'PARAMETER["scale_factor",1],PARAMETER["false_easting",0],'
            'PARAMETER["false_northing",0],UNIT["metre",1]{auth}]')
    # canonical 3395-shaped node: WGS84 ellipsoid, no 3857 identity
    with pytest.raises(ValueError, match="3395"):
        crs.parse_wkt(tmpl.format(name="WGS 84 / World Mercator", auth=""))
    # 3857 by AUTHORITY
    assert crs.parse_wkt(tmpl.format(
        name="WGS 84 / Web", auth=',AUTHORITY["EPSG","3857"]')) == "EPSG:3857"
    # 3857 by Popular Visualisation naming
    assert crs.parse_wkt(tmpl.format(
        name="WGS 84 / Pseudo-Mercator", auth="")) == "EPSG:3857"
    # a true sphere never needs the identity escape
    sph = tmpl.format(name="anon", auth="").replace(
        'SPHEROID["WGS 84",6378137,298.257223563]',
        'SPHEROID["sphere",6378137,0]')
    assert crs.parse_wkt(sph) == "EPSG:3857"


def test_wkt_polar_stereo_esri_variant_and_missing_params():
    """ESRI-style polar stereo (latitude_of_origin=±90 AND
    standard_parallel_1=<lat_ts>) must resolve to the standard parallel,
    not the pole; a node with NEITHER parameter fails loudly."""
    tmpl = ('PROJCS["ps",GEOGCS["WGS 84",DATUM["WGS_1984",'
            'SPHEROID["WGS 84",6378137,298.257223563]],'
            'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
            'PROJECTION["Polar_Stereographic"],{params}'
            'PARAMETER["central_meridian",-45],'
            'PARAMETER["false_easting",0],PARAMETER["false_northing",0],'
            'UNIT["metre",1]]')
    esri_n = tmpl.format(
        params='PARAMETER["latitude_of_origin",90],'
               'PARAMETER["standard_parallel_1",70],')
    assert crs.parse_wkt(esri_n) == "PS:70.0,-45.0"
    esri_s = tmpl.format(
        params='PARAMETER["latitude_of_origin",-90],'
               'PARAMETER["standard_parallel_1",71],')
    assert crs.parse_wkt(esri_s) == "PS:-71.0,-45.0"
    # GDAL variant B unchanged: latitude_of_origin IS the std parallel
    gdal_b = tmpl.format(params='PARAMETER["latitude_of_origin",70],')
    assert crs.parse_wkt(gdal_b) == "PS:70.0,-45.0"
    with pytest.raises(ValueError, match="latitude_of_origin"):
        crs.parse_wkt(tmpl.format(params=""))


def test_container_missing_dataset_raises_valueerror():
    """decode_container on a missing name must raise ValueError (one
    exception class for bad payloads at the executor boundary), not leak
    KeyError."""
    payload = codecs.encode_container(
        {"b1": (np.arange(12, dtype=np.uint8).reshape(3, 4), "npy")})
    with pytest.raises(ValueError, match="not in container"):
        codecs.decode_container(payload, "nope")
    with pytest.raises(ValueError, match="not in container"):
        codecs.decode(payload, "grsc#nope")


# --- NAD83 / GRS80 datum (round-5 verdict #7) ------------------------------

def test_nad83_utm_roundtrip_and_meridian_arc():
    """EPSG:269xx (NAD83 UTM): roundtrip across the zone, and northing on
    the central meridian equals k0 x the GRS80 meridian arc by INDEPENDENT
    numerical quadrature (no shared code with the Krüger series)."""
    lon = np.linspace(-76.5, -72.5, 9)
    lat = np.linspace(25.0, 49.0, 9)
    for z in ("EPSG:26918", "UTM83:18N",
              "+proj=utm +zone=18 +datum=NAD83 +units=m"):
        E, N = crs.transform("EPSG:4326", z, lon, lat)
        lo, la = crs.transform(z, "EPSG:4326", E, N)
        np.testing.assert_allclose(lo, lon, atol=1e-9)
        np.testing.assert_allclose(la, lat, atol=1e-9)
    a, f = 6378137.0, 1 / 298.257222101   # GRS80
    e2 = f * (2 - f)
    for lat_deg in (30.0, 45.0, 60.0):
        phi = np.linspace(0.0, np.radians(lat_deg), 400_001)
        m = np.trapz(a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5, phi)
        _, N = crs.transform("EPSG:4326", "EPSG:26918",
                             np.array([-75.0]), np.array([lat_deg]))
        np.testing.assert_allclose(N[0], 0.9996 * m, atol=1e-4)


def test_nad83_vs_wgs84_utm_differ_as_expected():
    """The two datums' UTM northings differ by a small but REAL amount
    (sub-mm at the equator, ~0.1 mm at 45N is below series truncation, so
    assert via the meridian-arc difference instead: the GRS80 arc is
    longer/shorter by the known 1/f delta scale ~1e-9 relative)."""
    E83, N83 = crs.transform("EPSG:4326", "EPSG:26918",
                             np.array([-75.0]), np.array([45.0]))
    E84, N84 = crs.transform("EPSG:4326", "EPSG:32618",
                             np.array([-75.0]), np.array([45.0]))
    assert E83[0] == E84[0]            # same a -> same easting on the CM
    assert N83[0] != N84[0]            # flattening delta is real
    assert abs(N83[0] - N84[0]) < 0.01  # but tiny (same-frame datums)


def test_nad83_utm_wkt_and_proj4_resolve():
    wkt = ('PROJCS["NAD83 / UTM zone 18N",GEOGCS["NAD83",'
           'DATUM["North_American_Datum_1983",'
           'SPHEROID["GRS 1980",6378137,298.257222101]],'
           'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
           'PROJECTION["Transverse_Mercator"],'
           'PARAMETER["latitude_of_origin",0],'
           'PARAMETER["central_meridian",-75],'
           'PARAMETER["scale_factor",0.9996],'
           'PARAMETER["false_easting",500000],'
           'PARAMETER["false_northing",0],UNIT["metre",1],'
           'AUTHORITY["EPSG","26918"]]')
    assert crs.parse_wkt(wkt) == "UTM83:18N"
    assert crs.parse_proj4(
        "+proj=utm +zone=18 +ellps=GRS80 +towgs84=0,0,0,0,0,0,0 +units=m "
        "+no_defs") == "UTM83:18N"
    assert crs.parse_proj4(
        "+proj=utm +zone=18 +datum=NAD83 +units=m") == "UTM83:18N"
    # datum/ellps mismatch combos that are NOT a known pairing still parse
    # to the ellipsoid they name; intl/bessel etc. still rejected
    import pytest
    with pytest.raises(ValueError):
        crs.parse_proj4("+proj=utm +zone=18 +ellps=intl")


# --- independent-decoder conformance (round 5) -----------------------------

import pytest as _pytest


@_pytest.mark.skipif(not __import__("geo_raster_spark.fastjpeg",
                                    fromlist=["available"]).available(),
                     reason="no JVM for the independent decoder")
def test_png_encoder_cross_validated_by_jdk_imageio():
    """Our PNG writer's streams decoded by the JDK's ImageIO (an
    implementation we didn't write) must give exact pixels: gray 8-bit,
    gray 16-bit, RGB, RGBA — the same independent-conformance gate that
    caught the LZW width-timing bug in the TIFF codec."""
    from geo_raster_spark import fastjpeg
    g8 = synth.image_pixels(3, 150, 83, 0xABCD)
    g16 = (g8.astype(np.uint16) * 257)
    rgb = synth.image_pixels_rgb(2, 90, 60, 0x77)
    rng = np.random.default_rng(1)
    rgba = np.concatenate([rgb, rng.integers(0, 256, (60, 90, 1),
                                             dtype=np.uint8)], axis=2)
    try:
        for arr in (g8, g16, rgb, rgba):
            back = fastjpeg.decode(codecs.encode_png(arr))
            np.testing.assert_array_equal(np.squeeze(back), np.squeeze(arr),
                                          err_msg=str(arr.shape))
    finally:
        fastjpeg.close()


@_pytest.mark.skipif(not __import__("geo_raster_spark.fastjpeg",
                                    fromlist=["available"]).available(),
                     reason="no JVM for the independent decoder")
def test_jfif_encoder_cross_validated_by_jdk_imageio():
    """Our baseline JFIF streams (gray, RGB 4:4:4 and 4:2:0, progressive)
    must decode in ImageIO with high fidelity vs the truth AND vs our own
    decoder (same stream, two decoders — only IDCT rounding may differ)."""
    from geo_raster_spark import fastjpeg, jpeg
    gray = synth.image_pixels(3, 200, 120, 0xAB)
    rgb = synth.image_pixels_rgb(2, 96, 64, 0x55)
    # (truth, payload, min_psnr_vs_truth, min_cross_decoder_psnr):
    # 4:2:0 halves chroma resolution, so ~33 dB vs truth is the
    # SUBSAMPLING cost (both decoders land there), and the decoders'
    # different chroma upsampling (nearest vs bilinear) caps the
    # cross-decoder figure near 38 dB — per-case gates, not one 40
    cases = [
        (gray, codecs.encode_jfif(gray, quality=95), 40.0, 45.0),
        (rgb, codecs.encode_jfif(rgb, quality=97), 40.0, 42.0),
        (rgb, jpeg.encode(rgb, 95, subsampling="420"), 30.0, 35.0),
        (gray, jpeg.encode_progressive(gray, 95), 40.0, 45.0),
    ]
    try:
        for truth, payload, t_min, x_min in cases:
            ours = jpeg.decode(payload)
            theirs = fastjpeg.decode(payload)
            assert theirs.shape == np.squeeze(ours).shape
            assert codecs.psnr(truth, np.squeeze(theirs)) >= t_min
            assert codecs.psnr(np.squeeze(ours), np.squeeze(theirs)) >= x_min
    finally:
        fastjpeg.close()


# --- Helmert (towgs84) datums: ED50 + OSGB36 (round-5 verdict #5) ----------

def test_bng_projection_matches_os_published_vector():
    """EPSG:27700 projection math against the Ordnance Survey's published
    worked example (OS 'A guide to coordinate systems in Great Britain',
    Annex C): OSGB36 lat 52deg39'27.2531\"N, lon 1deg43'4.5177\"E ->
    E 651409.903, N 313177.270.  This is a DATUM-INTERNAL vector (no
    Helmert involved) — it pins the general transverse Mercator
    (lat0/k0/FE/FN on Airy 1830) to an oracle this repo did not write."""
    lat = 52 + 39 / 60 + 27.2531 / 3600
    lon = 1 + 43 / 60 + 4.5177 / 3600
    E, N = crs._tmerc_forward(crs._BNG, np.array([lon]), np.array([lat]))
    np.testing.assert_allclose(E[0], 651409.903, atol=2e-3)
    np.testing.assert_allclose(N[0], 313177.270, atol=2e-3)
    lo, la = crs._tmerc_inverse(crs._BNG, np.array([651409.903]),
                                np.array([313177.270]))
    np.testing.assert_allclose(lo[0], lon, atol=1e-8)
    np.testing.assert_allclose(la[0], lat, atol=1e-8)


def test_helmert_datum_roundtrips_and_magnitudes():
    """WGS84 <-> ED50/OSGB36 round-trips close to float precision (the
    inverse SOLVES the 3x3 system instead of negating small-angle
    params), and the ground displacement lands in each datum's known
    window (~100-250 m for ED50 in Europe, ~50-130 m for OSGB36)."""
    lon = np.linspace(-5.0, 10.0, 7)
    lat = np.linspace(40.0, 55.0, 7)
    for c in ("EPSG:4230", "EPSG:4277"):
        X, Y = crs.transform("EPSG:4326", c, lon, lat)
        lo, la = crs.transform(c, "EPSG:4326", X, Y)
        # 1e-7 deg ~ 1 cm: the round-trip discards ellipsoidal height
        # (points re-enter at h=0 on the other ellipsoid), a mm-level
        # effect by construction, not an inversion error
        np.testing.assert_allclose(lo, lon, atol=1e-7)
        np.testing.assert_allclose(la, lat, atol=1e-7)
    m_per_deg = 111_320.0
    dlon, dlat = crs.transform("EPSG:4326", "EPSG:4230",
                               np.array([5.0]), np.array([47.0]))
    disp = math.hypot((dlon[0] - 5.0) * m_per_deg * math.cos(math.radians(47)),
                      (dlat[0] - 47.0) * m_per_deg)
    assert 80.0 < disp < 300.0, disp
    glon, glat = crs.transform("EPSG:4326", "EPSG:4277",
                               np.array([-1.0]), np.array([52.0]))
    gdisp = math.hypot((glon[0] + 1.0) * m_per_deg * math.cos(math.radians(52)),
                       (glat[0] - 52.0) * m_per_deg)
    assert 40.0 < gdisp < 200.0, gdisp


def test_helmert_matches_independent_scalar_formula():
    """The vectorized ECEF+Helmert path vs an independent scalar
    position-vector implementation written here from the EPSG 9606
    definition (different code shape: per-point trig, explicit matrix)."""
    a_airy, inv_f = 6377563.396, 299.3249646
    f = 1.0 / inv_f
    e2 = f * (2 - f)
    tx, ty, tz, rx, ry, rz, s = (446.448, -125.157, 542.060,
                                 0.1502, 0.2470, 0.8421, -20.4894)

    def scalar_osgb36_to_wgs84(lon_d, lat_d):
        phi, lam = math.radians(lat_d), math.radians(lon_d)
        nu = a_airy / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        x = nu * math.cos(phi) * math.cos(lam)
        y = nu * math.cos(phi) * math.sin(lam)
        z = nu * (1 - e2) * math.sin(phi)
        sc = 1 + s * 1e-6
        rxr = math.radians(rx / 3600)
        ryr = math.radians(ry / 3600)
        rzr = math.radians(rz / 3600)
        x2 = tx + sc * (x - rzr * y + ryr * z)
        y2 = ty + sc * (rzr * x + y - rxr * z)
        z2 = tz + sc * (-ryr * x + rxr * y + z)
        # WGS84 inverse by iteration
        aw, fw = 6378137.0, 1 / 298.257223563
        ew2 = fw * (2 - fw)
        p = math.hypot(x2, y2)
        phi2 = math.atan2(z2, p * (1 - ew2))
        for _ in range(10):
            nu2 = aw / math.sqrt(1 - ew2 * math.sin(phi2) ** 2)
            h = p / math.cos(phi2) - nu2
            phi2 = math.atan2(z2, p * (1 - ew2 * nu2 / (nu2 + h)))
        return math.degrees(math.atan2(y2, x2)), math.degrees(phi2)

    for lon_d, lat_d in ((-1.5, 51.2), (0.3, 53.7), (-4.1, 55.9)):
        want = scalar_osgb36_to_wgs84(lon_d, lat_d)
        got = crs._datum_to_wgs84(np.array([lon_d]), np.array([lat_d]),
                                  "OSGB36")
        np.testing.assert_allclose([got[0][0], got[1][0]], want, atol=1e-10)


def test_ed50_utm_zone_and_proj4_resolution():
    """EPSG:23031 (ED50/UTM 31N): differs from WGS84 UTM 31N by the
    datum-shift magnitude, round-trips exactly, and the proj4/raise
    grammar covers the datum class (nonzero towgs84 accepted for the
    registered datums, loud raise otherwise — +datum=NAD27 stays
    rejected because PROJ's +datum keyword implies the NADCON grid
    shift, not the Helmert approximation +towgs84=-8,160,176 opts into)."""
    lon, lat = np.array([3.0]), np.array([46.5])
    E50, N50 = crs.transform("EPSG:4326", "EPSG:23031", lon, lat)
    E84, N84 = crs.transform("EPSG:4326", "EPSG:32631", lon, lat)
    d = math.hypot(E50[0] - E84[0], N50[0] - N84[0])
    assert 80.0 < d < 300.0, d
    lo, la = crs.transform("EPSG:23031", "EPSG:4326", E50, N50)
    np.testing.assert_allclose(lo, lon, atol=1e-7)
    np.testing.assert_allclose(la, lat, atol=1e-7)

    assert crs.parse_proj4(
        "+proj=longlat +ellps=intl +towgs84=-87,-98,-121") == "EPSG:4230"
    assert crs.parse_proj4(
        "+proj=utm +zone=31 +ellps=intl +towgs84=-87,-98,-121 +units=m"
    ) == "EPSG:23031"
    assert crs.parse_proj4(
        "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 +x_0=400000 "
        "+y_0=-100000 +ellps=airy "
        "+towgs84=446.448,-125.157,542.060,0.1502,0.2470,0.8421,-20.4894"
    ) == "EPSG:27700"
    with _pytest.raises(ValueError, match="registered Helmert datum"):
        crs.parse_proj4("+proj=longlat +ellps=intl +towgs84=-1,-2,-3")
    # +datum=NAD27 IMPLIES the grid shift: without a registered grid it
    # raises (naming the explicit mean-Helmert spelling); WITH one it
    # resolves to the registry ids (r7 NTv2 seam)
    with _pytest.raises(ValueError, match="NADCON/NTv2 grid shift"):
        crs.normalize_crs("+proj=utm +zone=11 +datum=NAD27")
    from tests.test_ntv2 import _PARENT, build_gsb
    from geo_raster_spark import ntv2 as _ntv2
    crs.register_grid_shift("NAD27", _ntv2.parse_ntv2(build_gsb([_PARENT])))
    try:
        assert crs.normalize_crs("+proj=utm +zone=11 +datum=NAD27") \
            == "EPSG:26711"
        assert crs.normalize_crs("+proj=longlat +datum=NAD27") \
            == "EPSG:4267"
        # the whitelist still holds on this branch
        with _pytest.raises(ValueError, match="unsupported modifier"):
            crs.normalize_crs("+proj=utm +zone=11 +datum=NAD27 +k=2")
    finally:
        crs.unregister_grid_shift("NAD27")


def test_wkt_datum_crs_resolution():
    """Real-world WKT1 of the datum CRSs (GDAL-style strings, including
    GDAL's ROUNDED TOWGS84 values) resolves to the registry ids; a WKT
    carrying a DIFFERENT shift for the same ellipsoid raises instead of
    silently transforming metres off."""
    bng = ('PROJCS["OSGB 1936 / British National Grid",'
           'GEOGCS["OSGB 1936",DATUM["OSGB_1936",'
           'SPHEROID["Airy 1830",6377563.396,299.3249646],'
           'TOWGS84[446.448,-125.157,542.06,0.15,0.247,0.842,-20.489]],'
           'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
           'PROJECTION["Transverse_Mercator"],'
           'PARAMETER["latitude_of_origin",49],'
           'PARAMETER["central_meridian",-2],'
           'PARAMETER["scale_factor",0.9996012717],'
           'PARAMETER["false_easting",400000],'
           'PARAMETER["false_northing",-100000],UNIT["metre",1],'
           'AUTHORITY["EPSG","27700"]]')
    assert crs.parse_wkt(bng) == "EPSG:27700"
    ed50_utm = ('PROJCS["ED50 / UTM zone 31N",GEOGCS["ED50",'
                'DATUM["European_Datum_1950",'
                'SPHEROID["International 1924",6378388,297],'
                'TOWGS84[-87,-98,-121,0,0,0,0]],'
                'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
                'PROJECTION["Transverse_Mercator"],'
                'PARAMETER["latitude_of_origin",0],'
                'PARAMETER["central_meridian",3],'
                'PARAMETER["scale_factor",0.9996],'
                'PARAMETER["false_easting",500000],'
                'PARAMETER["false_northing",0],UNIT["metre",1]]')
    assert crs.parse_wkt(ed50_utm) == "EPSG:23031"
    ed50_geog = ('GEOGCS["ED50",DATUM["European_Datum_1950",'
                 'SPHEROID["International 1924",6378388,297]],'
                 'PRIMEM["Greenwich",0],'
                 'UNIT["degree",0.0174532925199433]]')
    assert crs.parse_wkt(ed50_geog) == "EPSG:4230"
    bad = bng.replace("446.448", "100.0")
    with _pytest.raises(ValueError, match="TOWGS84"):
        crs.parse_wkt(bad)
    with _pytest.raises(ValueError, match="zones 28-38"):
        crs.parse_wkt(ed50_utm.replace('"central_meridian",3',
                                       '"central_meridian",-111'))


def test_bng_full_chain_matches_os_dual_datum_station():
    """The Helmert datum step against the Ordnance Survey guide's own
    dual-datum station (Caister water tower), published in BOTH frames:
    OSGB36 52°39'27.2531"N 1°43'4.5177"E == ETRS89(~WGS84)
    52°39'28.8282"N 1°42'57.8663"E.  The single mean Helmert is ~3-5 m
    accurate BY CONSTRUCTION (the OS states it); a sign/convention error
    in any step (rotation sense, ppm scale, ellipsoid) misses by tens to
    hundreds of metres.  Assert < 5 m, then the end-to-end chain into
    grid coordinates and a coarse London sanity window."""
    w_lon = 1 + 42 / 60 + 57.8663 / 3600
    w_lat = 52 + 39 / 60 + 28.8282 / 3600
    o_lon = 1 + 43 / 60 + 4.5177 / 3600
    o_lat = 52 + 39 / 60 + 27.2531 / 3600
    lo, la = crs._wgs84_to_datum(np.array([w_lon]), np.array([w_lat]),
                                 "OSGB36")
    dlat_m = abs(la[0] - o_lat) * 111_320.0
    dlon_m = abs(lo[0] - o_lon) * 111_320.0 * math.cos(math.radians(o_lat))
    assert dlat_m < 5.0 and dlon_m < 5.0, (dlat_m, dlon_m)
    # full chain: the station's WGS84 coords -> BNG, vs the published
    # OSGB36 coords projected datum-internally (isolates the Helmert)
    E, N = crs.transform("EPSG:4326", "EPSG:27700",
                         np.array([w_lon]), np.array([w_lat]))
    E0, N0 = crs._tmerc_forward(crs._BNG, np.array([o_lon]),
                                np.array([o_lat]))
    assert abs(E[0] - E0[0]) < 5.0 and abs(N[0] - N0[0]) < 5.0
    lo2, la2 = crs.transform("EPSG:27700", "EPSG:4326", E, N)
    np.testing.assert_allclose(lo2, [w_lon], atol=1e-7)
    np.testing.assert_allclose(la2, [w_lat], atol=1e-7)
    # coarse real-world window: central London lands near E 530km N 180km
    El, Nl = crs.transform("EPSG:4326", "EPSG:27700",
                           np.array([-0.1278]), np.array([51.5074]))
    assert abs(El[0] - 530_000) < 3000 and abs(Nl[0] - 180_500) < 3000


def test_warp_4326_to_bng_cross_datum():
    """G10 across a DATUM boundary: warp a geographic (WGS84) source into
    an EPSG:27700 (OSGB36/Airy) metre grid — every output pixel equals
    the source pixel its cell center maps to through the full
    Helmert+tmerc chain, and the grid genuinely overlaps (a broken datum
    step shifts the gather by ~100 m = whole pixels here)."""
    from geo_raster_spark.grid import RasterInfo
    from geo_raster_spark.kernels import warp as warp_k
    src_info = RasterInfo((-1.5, 0.001, 0.0, 51.8, 0.0, -0.001),
                          400, 400, "EPSG:4326")
    rng = np.random.default_rng(9)
    src = rng.integers(1, 255, size=(400, 400)).astype(np.float64)
    E0, N0 = crs.transform("EPSG:4326", "EPSG:27700",
                           np.array([-1.3]), np.array([51.6]))
    dst_info = RasterInfo((float(E0[0]) - 3000, 60.0, 0.0,
                           float(N0[0]) + 3000, 0.0, -60.0),
                          100, 100, "EPSG:27700")
    out = warp_k.warp_band(src, src_info, dst_info, nodata=0.0)
    cols, rows = np.meshgrid(np.arange(100), np.arange(100))
    tx = dst_info.gt[0] + 60.0 * (cols + 0.5)
    ty = dst_info.gt[3] - 60.0 * (rows + 0.5)
    lo, la = crs.transform("EPSG:27700", "EPSG:4326", tx.ravel(), ty.ravel())
    sc = np.trunc((lo - (-1.5)) / 0.001).astype(int)
    sr = np.trunc((la - 51.8) / -0.001).astype(int)
    ok = (sc >= 0) & (sc < 400) & (sr >= 0) & (sr < 400)
    want = np.zeros(100 * 100)
    want[ok] = src[sr[ok], sc[ok]]
    assert ok.sum() == 100 * 100  # dst sits fully inside the source
    np.testing.assert_array_equal(out.ravel(), want)
    # datum sensitivity: ignoring the Helmert (treating the grid as a
    # WGS84 tmerc) must move the gather by at least one source pixel
    lo2, la2 = crs._tmerc_inverse(crs._BNG, tx.ravel(), ty.ravel())
    shift_deg = np.hypot(lo2 - lo, la2 - la).max()
    assert shift_deg > 0.001  # > one 0.001-deg source pixel


def test_datum_parser_review_fixes():
    """Round-6 review closures: (a) the PROJ/GDAL catalog-ROUNDED OSGB36
    proj4 string resolves (1e-3 slack, same as WKT); (b) +k_0 (PROJ's
    alias for +k) is honored — the canonical-alias spelling resolves and
    a transform-changing +k_0 raises; (c) a nonzero WKT TOWGS84 on a
    WGS84/GRS80 ellipsoid raises instead of being silently dropped."""
    rounded = ("+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 "
               "+x_0=400000 +y_0=-100000 +ellps=airy "
               "+towgs84=446.448,-125.157,542.06,0.15,0.247,0.842,-20.489 "
               "+units=m")
    assert crs.parse_proj4(rounded) == "EPSG:27700"
    assert crs.parse_proj4(rounded.replace("+k=", "+k_0=")) == "EPSG:27700"
    with _pytest.raises(ValueError, match="k_0"):
        crs.parse_proj4(rounded + " +k_0=1.5")
    shifted = ('GEOGCS["shifted",DATUM["D",'
               'SPHEROID["WGS 84",6378137,298.257223563],TOWGS84[100,0,0]],'
               'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]')
    with _pytest.raises(ValueError, match="no registered datum shift"):
        crs.parse_wkt(shifted)
    # zero shift still resolves
    assert crs.parse_wkt(shifted.replace("TOWGS84[100,0,0]",
                                         "TOWGS84[0,0,0]")) == "EPSG:4326"


def test_nad27_helmert_datum_end_to_end():
    """NAD27 (round-6 verdict "missing" #4): EPSG:1173 published CONUS
    mean translation (-8, 160, 176) on Clarke 1866 — documented ~10 m
    accuracy class vs the NADCON grid realization (which needs grid
    files, out of scope).  Checks: float-precision round-trips, a CONUS
    ground-shift magnitude in the published 10-100 m window, UTM zone
    codes, proj4/WKT resolution, and an independent scalar EPSG-9606
    twin of the vectorized path."""
    lon = np.linspace(-120.0, -75.0, 7)
    lat = np.linspace(26.0, 48.0, 7)
    X, Y = crs.transform("EPSG:4326", "EPSG:4267", lon, lat)
    lo, la = crs.transform("EPSG:4267", "EPSG:4326", X, Y)
    np.testing.assert_allclose(lo, lon, atol=1e-7)
    np.testing.assert_allclose(la, lat, atol=1e-7)
    m_per_deg = 111_320.0
    dlon, dlat = crs.transform("EPSG:4326", "EPSG:4267",
                               np.array([-98.0]), np.array([39.0]))
    disp = math.hypot(
        (dlon[0] + 98.0) * m_per_deg * math.cos(math.radians(39)),
        (dlat[0] - 39.0) * m_per_deg)
    assert 10.0 < disp < 100.0, disp

    # NAD27/UTM 14N: round-trips exactly; sits a datum-shift away from
    # the WGS84 UTM 14N coordinate of the same ground point
    E27, N27 = crs.transform("EPSG:4326", "EPSG:26714",
                             np.array([-98.0]), np.array([39.0]))
    E84, N84 = crs.transform("EPSG:4326", "EPSG:32614",
                             np.array([-98.0]), np.array([39.0]))
    d = math.hypot(E27[0] - E84[0], N27[0] - N84[0])
    assert 10.0 < d < 300.0, d
    lo2, la2 = crs.transform("EPSG:26714", "EPSG:4326", E27, N27)
    np.testing.assert_allclose(lo2, [-98.0], atol=1e-7)
    np.testing.assert_allclose(la2, [39.0], atol=1e-7)

    assert crs.parse_proj4(
        "+proj=longlat +ellps=clrk66 +towgs84=-8,160,176") == "EPSG:4267"
    assert crs.parse_proj4(
        "+proj=utm +zone=14 +ellps=clrk66 +towgs84=-8,160,176 +units=m"
    ) == "EPSG:26714"
    with _pytest.raises(ValueError, match="zones 1-22"):
        crs.parse_proj4(
            "+proj=utm +zone=31 +ellps=clrk66 +towgs84=-8,160,176")
    wkt = ('PROJCS["NAD27 / UTM zone 14N",GEOGCS["NAD27",'
           'DATUM["North_American_Datum_1927",'
           'SPHEROID["Clarke 1866",6378206.4,294.978698213898]],'
           'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
           'PROJECTION["Transverse_Mercator"],'
           'PARAMETER["latitude_of_origin",0],'
           'PARAMETER["central_meridian",-99],'
           'PARAMETER["scale_factor",0.9996],'
           'PARAMETER["false_easting",500000],'
           'PARAMETER["false_northing",0],UNIT["metre",1],'
           'AUTHORITY["EPSG","26714"]]')
    assert crs.parse_wkt(wkt) == "EPSG:26714"

    # independent scalar EPSG-9606 twin (translation-only degenerate)
    a_c, inv_f = 6378206.4, 294.9786982
    f = 1.0 / inv_f
    e2 = f * (2 - f)

    def scalar_nad27_to_wgs84(lon_d, lat_d):
        phi, lam = math.radians(lat_d), math.radians(lon_d)
        nu = a_c / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        x = nu * math.cos(phi) * math.cos(lam) - 8.0
        y = nu * math.cos(phi) * math.sin(lam) + 160.0
        z = nu * (1 - e2) * math.sin(phi) + 176.0
        aw, fw = 6378137.0, 1 / 298.257223563
        ew2 = fw * (2 - fw)
        p = math.hypot(x, y)
        phi2 = math.atan2(z, p * (1 - ew2))
        for _ in range(10):
            nu2 = aw / math.sqrt(1 - ew2 * math.sin(phi2) ** 2)
            h = p / math.cos(phi2) - nu2
            phi2 = math.atan2(z, p * (1 - ew2 * nu2 / (nu2 + h)))
        return math.degrees(math.atan2(y, x)), math.degrees(phi2)

    for lon_d, lat_d in ((-98.0, 39.0), (-120.3, 34.4), (-77.0, 44.9)):
        want = scalar_nad27_to_wgs84(lon_d, lat_d)
        got = crs._datum_to_wgs84(np.array([lon_d]), np.array([lat_d]),
                                  "NAD27")
        np.testing.assert_allclose([got[0][0], got[1][0]], want, atol=1e-10)


def test_wkt_datum_name_guard():
    """Round-6 ADVICE (medium): with no TOWGS84, the DATUM *name* must
    match the registered datum — the ellipsoid alone is ambiguous
    (PSAD56 and Indian 1954 also live on International 1924 and must NOT
    silently inherit the ED50 shift)."""
    tpl = ('GEOGCS["{n}",DATUM["{d}",'
           'SPHEROID["International 1924",6378388,297]],'
           'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]')
    for bad in ("Provisional_South_American_Datum_1956", "Indian_1954",
                "D_Provisional_S_American_1956"):
        with _pytest.raises(ValueError, match="refusing to guess"):
            crs.parse_wkt(tpl.format(n="x", d=bad))
    # registered spellings resolve: WKT1 underscore, WKT2 spaced, ESRI D_
    for good in ("European_Datum_1950", "European Datum 1950",
                 "D_European_1950", "ED50"):
        assert crs.parse_wkt(tpl.format(n="ED50", d=good)) == "EPSG:4230"
    # an explicit registry-matching TOWGS84 pins the datum regardless of
    # an unrecognized name (the shift is the evidence, not the label)
    pinned = tpl.format(n="x", d="weird_local_name").replace(
        ',297]]', ',297],TOWGS84[-87,-98,-121,0,0,0,0]]')
    assert crs.parse_wkt(pinned) == "EPSG:4230"
    # Clarke 1866 with a non-NAD27 name (e.g. old Bermuda 1957) raises
    bermuda = ('GEOGCS["Bermuda 1957",DATUM["Bermuda_1957",'
               'SPHEROID["Clarke 1866",6378206.4,294.978698213898]],'
               'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]')
    with _pytest.raises(ValueError, match="refusing to guess"):
        crs.parse_wkt(bermuda)
    # Airy with a non-OSGB36 name (e.g. Ireland 1965 uses Airy Modified,
    # but a plain-Airy mislabel must still refuse)
    not_osgb = ('GEOGCS["x",DATUM["Ireland_1965",'
                'SPHEROID["Airy 1830",6377563.396,299.3249646]],'
                'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]')
    with _pytest.raises(ValueError, match="refusing to guess"):
        crs.parse_wkt(not_osgb)


# GDAL-3-shaped WKT2 strings (the default ExportToWkt() output of modern
# GDAL — round-6 verdict "missing" #5).  Each must resolve to a transform
# BIT-IDENTICAL to its canonical registry id.
_DEG2 = 'ANGLEUNIT["degree",0.0174532925199433]'
_M2 = 'LENGTHUNIT["metre",1]'


def _wkt2_geog(name, dname, ell, epsg=None, ensemble=False):
    d = (f'ENSEMBLE["{dname}",MEMBER["x"],ELLIPSOID[{ell},{_M2}],'
         'ENSEMBLEACCURACY[2.0]]' if ensemble
         else f'DATUM["{dname}",ELLIPSOID[{ell},{_M2}]]')
    tail = f',ID["EPSG",{epsg}]' if epsg else ''
    return (f'GEOGCRS["{name}",{d},PRIMEM["Greenwich",0,{_DEG2}],'
            f'CS[ellipsoidal,2],'
            f'AXIS["geodetic latitude (Lat)",north,ORDER[1],{_DEG2}],'
            f'AXIS["geodetic longitude (Lon)",east,ORDER[2],{_DEG2}]'
            f'{tail}]')


def _wkt2_proj(name, base, method, params, epsg=None):
    ps = ",".join(f'PARAMETER["{k}",{v},{u}]' for k, v, u in params)
    tail = f',ID["EPSG",{epsg}]' if epsg else ''
    return (f'PROJCRS["{name}",BASE{base},'
            f'CONVERSION["{name}",METHOD["{method}"],{ps}],'
            f'CS[Cartesian,2],AXIS["(E)",east,ORDER[1],{_M2}],'
            f'AXIS["(N)",north,ORDER[2],{_M2}]{tail}]')


_WGS84_ELL = '"WGS 84",6378137,298.257223563'
_GRS80_ELL = '"GRS 1980",6378137,298.257222101'
_WKT2_BASES = {
    "wgs84": _wkt2_geog("WGS 84", "World Geodetic System 1984 ensemble",
                        _WGS84_ELL, 4326, ensemble=True),
    "nad83": _wkt2_geog("NAD83", "North American Datum 1983",
                        _GRS80_ELL, 4269),
    "nad27": _wkt2_geog("NAD27", "North American Datum 1927",
                        '"Clarke 1866",6378206.4,294.978698213898', 4267),
    "osgb36": _wkt2_geog("OSGB36",
                         "Ordnance Survey of Great Britain 1936",
                         '"Airy 1830",6377563.396,299.3249646', 4277),
    "ed50": _wkt2_geog("ED50", "European Datum 1950",
                       '"International 1924",6378388,297', 4230),
    "sphere": _wkt2_geog("unnamed",
                         "Not specified (based on custom spheroid)",
                         '"Custom spheroid",6371007.181,0'),
}
_WKT2 = {
    "EPSG:4326": _WKT2_BASES["wgs84"],
    "EPSG:4230": _WKT2_BASES["ed50"],
    "EPSG:4267": _WKT2_BASES["nad27"],
    "EPSG:32618": _wkt2_proj(
        "WGS 84 / UTM zone 18N", _WKT2_BASES["wgs84"],
        "Transverse Mercator",
        [("Latitude of natural origin", 0, _DEG2),
         ("Longitude of natural origin", -75, _DEG2),
         ("Scale factor at natural origin", 0.9996, 'SCALEUNIT["unity",1]'),
         ("False easting", 500000, _M2),
         ("False northing", 0, _M2)], 32618),
    "EPSG:26714": _wkt2_proj(
        "NAD27 / UTM zone 14N", _WKT2_BASES["nad27"],
        "Transverse Mercator",
        [("Latitude of natural origin", 0, _DEG2),
         ("Longitude of natural origin", -99, _DEG2),
         ("Scale factor at natural origin", 0.9996, 'SCALEUNIT["unity",1]'),
         ("False easting", 500000, _M2),
         ("False northing", 0, _M2)], 26714),
    "EPSG:27700": _wkt2_proj(
        "OSGB36 / British National Grid", _WKT2_BASES["osgb36"],
        "Transverse Mercator",
        [("Latitude of natural origin", 49, _DEG2),
         ("Longitude of natural origin", -2, _DEG2),
         ("Scale factor at natural origin", 0.9996012717,
          'SCALEUNIT["unity",1]'),
         ("False easting", 400000, _M2),
         ("False northing", -100000, _M2)], 27700),
    "EPSG:3857": _wkt2_proj(
        "WGS 84 / Pseudo-Mercator", _WKT2_BASES["wgs84"],
        "Popular Visualisation Pseudo Mercator",
        [("Latitude of natural origin", 0, _DEG2),
         ("Longitude of natural origin", 0, _DEG2),
         ("False easting", 0, _M2), ("False northing", 0, _M2)], 3857),
    "EPSG:5070": _wkt2_proj(
        "NAD83 / Conus Albers", _WKT2_BASES["nad83"],
        "Albers Equal Area",
        [("Latitude of false origin", 23, _DEG2),
         ("Longitude of false origin", -96, _DEG2),
         ("Latitude of 1st standard parallel", 29.5, _DEG2),
         ("Latitude of 2nd standard parallel", 45.5, _DEG2),
         ("Easting at false origin", 0, _M2),
         ("Northing at false origin", 0, _M2)], 5070),
    "EPSG:3978": _wkt2_proj(
        "NAD83 / Canada Atlas Lambert", _WKT2_BASES["nad83"],
        "Lambert Conic Conformal (2SP)",
        [("Latitude of false origin", 49, _DEG2),
         ("Longitude of false origin", -95, _DEG2),
         ("Latitude of 1st standard parallel", 49, _DEG2),
         ("Latitude of 2nd standard parallel", 77, _DEG2),
         ("Easting at false origin", 0, _M2),
         ("Northing at false origin", 0, _M2)], 3978),
    "EPSG:3413": _wkt2_proj(
        "WGS 84 / NSIDC Sea Ice Polar Stereographic North",
        _WKT2_BASES["wgs84"], "Polar Stereographic (variant B)",
        [("Latitude of standard parallel", 70, _DEG2),
         ("Longitude of origin", -45, _DEG2),
         ("False easting", 0, _M2), ("False northing", 0, _M2)], 3413),
    "SINU": _wkt2_proj(
        "unnamed", _WKT2_BASES["sphere"], "Sinusoidal",
        [("Longitude of natural origin", 0, _DEG2),
         ("False easting", 0, _M2), ("False northing", 0, _M2)]),
}


def test_wkt2_parsing_bit_identical_to_epsg_ids():
    """WKT2 twins of test_wkt_parsing_bit_identical_to_epsg_ids: the
    GDAL-3 default grammar resolves to the same registry ids, so the
    transforms are bit-identical by construction — including the datum
    CRSs (ED50/OSGB36/NAD27) via the DATUM-name path."""
    lon = np.array([-120.0, 3.0, 45.0])
    for canon, wkt2 in _WKT2.items():
        assert crs.parse_wkt(wkt2) is not None, canon
        if canon == "EPSG:3413":
            lat = np.array([70.0, 80.0, 60.0])
        else:
            lat = np.array([40.0, 45.0, -33.0])
        xa, ya = crs.transform("EPSG:4326", wkt2, lon, lat)
        xb, yb = crs.transform("EPSG:4326", canon, lon, lat)
        np.testing.assert_array_equal(xa, xb, err_msg=canon)
        np.testing.assert_array_equal(ya, yb, err_msg=canon)


def test_wkt2_boundcrs_and_rejections():
    """BOUNDCRS: the abridged Helmert must match a REGISTERED datum
    shift (misread or unregistered -> loud raise, never a silent
    transform); unsupported WKT2 content raises with a WKT2-prefixed
    message."""
    towgs84_osgb = (
        'ABRIDGEDTRANSFORMATION["OSGB36 to WGS 84",'
        'METHOD["Position Vector transformation (geog2D domain)",'
        'ID["EPSG",9606]],'
        'PARAMETER["X-axis translation",446.448,ID["EPSG",8605]],'
        'PARAMETER["Y-axis translation",-125.157,ID["EPSG",8606]],'
        'PARAMETER["Z-axis translation",542.06,ID["EPSG",8607]],'
        'PARAMETER["X-axis rotation",0.15,ID["EPSG",8608]],'
        'PARAMETER["Y-axis rotation",0.247,ID["EPSG",8609]],'
        'PARAMETER["Z-axis rotation",0.842,ID["EPSG",8610]],'
        'PARAMETER["Scale difference",0.9999795106,ID["EPSG",8611]]]')
    bound = (f'BOUNDCRS[SOURCECRS[{_WKT2_BASES["osgb36"]}],'
             f'TARGETCRS[{_WKT2_BASES["wgs84"]}],{towgs84_osgb}]')
    assert crs.parse_wkt(bound) == "EPSG:4277"
    # explicit-ppm SCALEUNIT spelling resolves identically
    ppm = towgs84_osgb.replace(
        '"Scale difference",0.9999795106',
        '"Scale difference",-20.4894,SCALEUNIT["parts per million",1E-06]')
    assert crs.parse_wkt(
        f'BOUNDCRS[SOURCECRS[{_WKT2_BASES["osgb36"]}],'
        f'TARGETCRS[{_WKT2_BASES["wgs84"]}],{ppm}]') == "EPSG:4277"
    # an unregistered shift raises (registry is the arbiter)
    with pytest.raises(ValueError, match="TOWGS84"):
        crs.parse_wkt(bound.replace('446.448', '400.0'))
    # a non-WGS84 hub raises
    with pytest.raises(ValueError, match="WGS84"):
        crs.parse_wkt(
            f'BOUNDCRS[SOURCECRS[{_WKT2_BASES["osgb36"]}],'
            f'TARGETCRS[{_WKT2_BASES["ed50"]}],{towgs84_osgb}]')

    with pytest.raises(ValueError, match="WKT2: unsupported METHOD"):
        crs.parse_wkt(_WKT2["EPSG:3857"].replace(
            "Popular Visualisation Pseudo Mercator",
            "Hotine Oblique Mercator (variant A)"))
    with pytest.raises(ValueError, match="WKT2: unsupported PARAMETER"):
        crs.parse_wkt(_WKT2["EPSG:32618"].replace(
            "Latitude of natural origin", "Co-latitude of cone axis"))
    # foot axis unit would silently rescale coordinates -> raise
    with pytest.raises(ValueError, match="UNIT must be metre"):
        crs.parse_wkt(_WKT2["EPSG:32618"].replace(
            f'AXIS["(E)",east,ORDER[1],{_M2}]',
            'AXIS["(E)",east,ORDER[1],'
            'LENGTHUNIT["US survey foot",0.304800609601219]]'))
    # grad geographic unit -> raise (not silently treated as degrees)
    with pytest.raises(ValueError, match="must be degree"):
        crs.parse_wkt(_WKT2["EPSG:4326"].replace(
            'ANGLEUNIT["degree",0.0174532925199433]',
            'ANGLEUNIT["grad",0.015707963267949]'))
    # WKT2 PSAD56 (Intl-1924 ellipsoid, foreign datum name) -> raise
    with pytest.raises(ValueError, match="refusing to guess"):
        crs.parse_wkt(_WKT2_BASES["ed50"].replace(
            "European Datum 1950",
            "Provisional South American Datum 1956").replace(
            ',ID["EPSG",4230]', ''))


def test_wkt2_generic_unit_keyword_by_parameter_kind():
    """Round-7 review: ISO 19162 allows the generic UNIT keyword as an
    alias for ANGLEUNIT/LENGTHUNIT/SCALEUNIT — the parameter's SEMANTIC
    kind must drive the conversion.  Before the fix, a Polar
    Stereographic standard parallel of 70 with UNIT[\"degree\",...]
    fell through to the scale branch and became lat 1.22 silently."""
    ps_generic = _WKT2["EPSG:3413"].replace(
        f'PARAMETER["Latitude of standard parallel",70,{_DEG2}]',
        'PARAMETER["Latitude of standard parallel",70,'
        'UNIT["degree",0.0174532925199433]]')
    assert ps_generic != _WKT2["EPSG:3413"]
    assert crs.parse_wkt(ps_generic) == crs.parse_wkt(_WKT2["EPSG:3413"])
    # generic UNIT on a length parameter converts as length
    utm_generic = _WKT2["EPSG:32618"].replace(
        f'PARAMETER["False easting",500000,{_M2}]',
        'PARAMETER["False easting",500000,UNIT["metre",1]]')
    assert crs.parse_wkt(utm_generic) == crs.parse_wkt(_WKT2["EPSG:32618"])
    # a MISMATCHED specific keyword raises instead of mis-converting
    with pytest.raises(ValueError, match="LENGTHUNIT on the angle"):
        crs.parse_wkt(_WKT2["EPSG:32618"].replace(
            'PARAMETER["Longitude of natural origin",-75,'
            'ANGLEUNIT["degree",0.0174532925199433]]',
            'PARAMETER["Longitude of natural origin",-75,'
            'LENGTHUNIT["metre",1]]'))


def test_wkt2_generic_unit_on_primem_and_ellipsoid():
    """Review r7 second pass: PRIMEM and ELLIPSOID units may also use
    the generic UNIT keyword — a grad prime meridian must convert (and
    then raise as non-Greenwich), not be silently read as degrees; a
    foot-unit ellipsoid axis must scale to metres (and then raise as an
    unsupported ellipsoid), not be read as a 20-million-metre sphere."""
    paris = _WKT2["EPSG:4326"].replace(
        f'PRIMEM["Greenwich",0,{_DEG2}]',
        'PRIMEM["Paris",2.5969213,UNIT["grad",0.015707963267948967]]')
    with pytest.raises(ValueError, match="prime meridian"):
        crs.parse_wkt(paris)
    # the same PRIMEM spelled with value 0 still resolves (unit converts
    # 0 to 0 degrees)
    zero = _WKT2["EPSG:4326"].replace(
        f'PRIMEM["Greenwich",0,{_DEG2}]',
        'PRIMEM["Greenwich",0,UNIT["grad",0.015707963267948967]]')
    assert crs.parse_wkt(zero) == "EPSG:4326"
    ft_ell = _WKT2["EPSG:4326"].replace(
        '"WGS 84",6378137,298.257223563,LENGTHUNIT["metre",1]',
        '"WGS 84 ft",20925646.3,298.257223563,'
        'UNIT["US survey foot",0.304800609601219]')
    with pytest.raises(ValueError, match="unsupported ellipsoid|WKT"):
        # 20925646.3 survey feet scale to ~6378137 m — but the value is
        # deliberately off the catalog number, so the family check must
        # see METRES (and raise on the mismatch), not raw feet
        crs.parse_wkt(ft_ell)
    ok_ell = _WKT2["EPSG:4326"].replace(
        '"WGS 84",6378137,298.257223563,LENGTHUNIT["metre",1]',
        '"WGS 84",6378137,298.257223563,UNIT["metre",1]')
    assert crs.parse_wkt(ok_ell) == "EPSG:4326"


def test_wkt_compound_resolves_horizontal_discards_vertical():
    """COMPD_CS / COMPOUNDCRS (r7): DEM-style horizontal+vertical
    compounds resolve to their horizontal member — this engine is 2-D
    (heights are discarded at the datum step), so the vertical member
    carries no information for it.  Non-vertical extra components are a
    loud raise, never silently dropped."""
    vert1 = ('VERT_CS["EGM96 height",VERT_DATUM["EGM96 geoid",2005],'
             'UNIT["metre",1],AXIS["Gravity-related height",UP],'
             'AUTHORITY["EPSG","5773"]]')
    comp1 = (f'COMPD_CS["WGS 84 / UTM zone 18N + EGM96",'
             f'{_WKT["EPSG:32618"]},{vert1}]')
    assert crs.parse_wkt(comp1) == crs.parse_wkt(_WKT["EPSG:32618"])
    # transforms bit-identical to the bare horizontal
    lon, lat = np.array([-75.5, -74.0]), np.array([40.0, -10.0])
    xa, ya = crs.transform("EPSG:4326", comp1, lon, lat)
    xb, yb = crs.transform("EPSG:4326", _WKT["EPSG:32618"], lon, lat)
    np.testing.assert_array_equal(xa, xb)
    np.testing.assert_array_equal(ya, yb)

    vert2 = ('VERTCRS["EGM96 height",'
             'VDATUM["EGM96 geoid"],CS[vertical,1],'
             'AXIS["gravity-related height (H)",up],'
             'LENGTHUNIT["metre",1]]')
    comp2 = f'COMPOUNDCRS["WGS 84 + EGM96",{_WKT2["EPSG:4326"]},{vert2}]'
    assert crs.parse_wkt(comp2) == crs.parse_wkt(_WKT2["EPSG:4326"])

    # geographic + vertical in WKT1 spelling too
    comp3 = f'COMPD_CS["WGS 84 + EGM96",{_WKT["EPSG:4326"]},{vert1}]'
    assert crs.parse_wkt(comp3) == "EPSG:4326"

    # ESRI VERTCS spelling (no underscore) is a vertical member too
    vert_esri = ('VERTCS["NAVD_1988",VDATUM["North_American_Vertical_'
                 'Datum_1988"],PARAMETER["Vertical_Shift",0.0],'
                 'PARAMETER["Direction",1.0],UNIT["Meter",1.0]]')
    comp4 = f'COMPD_CS["x",{_WKT["EPSG:32618"]},{vert_esri}]'
    assert crs.parse_wkt(comp4) == crs.parse_wkt(_WKT["EPSG:32618"])

    # rejections: two horizontals / zero horizontals / a TIMECRS member
    with pytest.raises(ValueError, match="exactly one horizontal"):
        crs.parse_wkt(f'COMPD_CS["x",{_WKT["EPSG:4326"]},'
                      f'{_WKT["EPSG:32618"]}]')
    with pytest.raises(ValueError, match="exactly one horizontal"):
        crs.parse_wkt(f'COMPD_CS["x",{vert1}]')
    with pytest.raises(ValueError, match="unsupported component"):
        crs.parse_wkt(f'COMPOUNDCRS["x",{_WKT2["EPSG:4326"]},'
                      'TIMECRS["GPS time",TDATUM["Time origin"],'
                      'CS[TemporalDateTime,1],AXIS["time (T)",future]]]')
    # normalize_crs routes compounds end-to-end
    assert crs.normalize_crs(comp3) == "EPSG:4326"
