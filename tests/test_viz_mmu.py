"""Tests for viz kernels (F1-F8) and the MMU area filter / focal tiles."""

import numpy as np
import pytest

from geo_raster_spark.kernels import focal, viz


def test_search_threshold():
    vs = [10, 20, 30, 40]
    ls = [0, 1, 2, 3]
    assert viz.search_threshold(vs, ls, 0.2) == 1  # 10+20 > 20


def test_linear_stretch_bounds():
    rng = np.random.default_rng(1)
    d = rng.integers(100, 4000, (40, 40)).astype(np.int32)
    out, (lo, hi) = viz.linear_stretch(d, nodata=0, share=0.05)
    assert out.dtype == np.uint8 and lo < hi
    assert out.min() >= 0 and out.max() <= 255


def test_log10_stretch_monotone():
    d = np.array([[400, 600, 1500, 4000]], dtype=np.float64)
    out = viz.log10_stretch(d)
    assert out[0, 0] == 0  # below min
    assert out[0, 1] < out[0, 2] < out[0, 3]


def test_colorize_byte_thresholds():
    d = np.array([[0, 5, 10, 255]], dtype=np.int32)
    out = viz.colorize_byte(d, [0, 5, 10], [1, 2, 3], nodata=255)
    assert out.tolist() == [[1, 2, 3, 255]]


def test_colorize_rgba_interpolation():
    d = np.array([[0.0, 5.0, 10.0]])
    out = viz.colorize_rgba(d, [0, 10], [(0, 0, 0, 255), (200, 0, 0, 255)])
    assert out.shape == (4, 1, 3)
    assert out[0, 0, 0] == 0 and out[0, 0, 2] == 200
    assert 90 <= out[0, 0, 1] <= 110  # midpoint blend


def test_burn_band_clamps_and_alpha():
    rgba = np.zeros((4, 2, 2), dtype=np.uint8)
    rgba[3] = 255
    ref = np.array([[300, 0], [250, 100]], dtype=np.int16)
    out = viz.burn_band(rgba, ref, ref_nodata=0, offset=250)
    assert out[0, 0, 0] == 50 and out[0, 1, 0] == 0
    assert out[3, 0, 1] == 0  # nodata -> alpha 0
    # alpha from a value range: (ref - 100) * 255 / 200, clamped; nodata 0
    out = viz.burn_transparency(rgba, ref, 100, 300, ref_nodata=0)
    assert out[3].tolist() == [[255, 0], [191, 0]]
    np.testing.assert_array_equal(out[:3], rgba[:3])
    assert rgba[3].tolist() == [[255, 255], [255, 255]]  # input untouched


def test_convert_qa_precedence(spark):
    # invalid bit wins over everything; water = bit 0x800 NOT set
    d = np.array([[0x1, 0x410, 0x2300, 0x800, 0x0]], dtype=np.int16)
    out = viz.convert_qa(d)
    assert out.tolist() == [[9, 3, 2, 0, 1]]
    # the column twin decodes each bit like a NumPy shift-and-mask
    from geo_raster_spark import functions as gf
    qa = [int(v) for v in d.ravel()] + [-1, 0x7FFF]
    bits = [0, 4, 8, 9, 10, 11, 13, 15]
    df = spark.createDataFrame([(v,) for v in qa], "qa short")
    got = np.array(df.select(*[gf.qa_decode(df["qa"], b).alias(f"b{b}")
                               for b in bits]).collect())
    q = np.array(qa, np.int16).astype(np.int64)
    want = np.stack([(q >> b) & 1 for b in bits], axis=1)
    np.testing.assert_array_equal(got, want)


def test_from_fmask_roundtrip():
    d = np.array([[0, 1, 2, 3, 4, 255]], dtype=np.uint8)
    out = viz.from_fmask(d, code_set=1)
    assert out.tolist() == [[viz.QA_LAND, viz.QA_WATER, viz.QA_SHADOW,
                             viz.QA_SNOW, viz.QA_CLOUD, viz.QA_NODATA]]


def test_parse_color_table():
    breaks, colors = viz.parse_color_table("""# comment
0 0 0 0
10 255,0,0
20 0 255 0 128
""")
    assert breaks == [0.0, 10.0, 20.0]
    assert colors[1] == (255, 0, 0, 255) and colors[2][3] == 128


def test_label_components():
    m = np.array([[1, 1, 0, 0],
                  [0, 1, 0, 1],
                  [0, 0, 0, 1],
                  [1, 0, 0, 0]], dtype=bool)
    labels, n = focal.label_components(m)
    assert n == 3
    assert labels[0, 0] == labels[1, 1] != 0
    assert labels[1, 3] == labels[2, 3] != labels[0, 0]
    assert labels[3, 0] not in (0, labels[0, 0], labels[1, 3])


def test_mmu_area_filter_absorbs_small():
    d = np.full((10, 10), 1, dtype=np.uint8)
    d[4:6, 4:6] = 2        # 4-px island of class 2
    d[0, 0] = 3            # 1-px island
    out = focal.mmu_area_filter(d, min_area=5)
    assert (out == 1).all()
    # large components survive
    d2 = np.full((10, 10), 1, dtype=np.uint8)
    d2[2:8, 2:8] = 2
    out2 = focal.mmu_area_filter(d2, min_area=5)
    assert (out2[3, 3] == 2) and (out2[0, 0] == 1)


def test_focal_tiles_nodata_sentinel(spark):
    """With nodata != 0 the pad must initialize to nodata and neighbor
    strips must fill where pad == nodata (round-1 code hardcoded 0: the
    un-covered halo ring leaked class-0 values into the kernel)."""
    import pandas as pd
    from geo_raster_spark import codecs
    from geo_raster_spark.grid import TileGrid
    from geo_raster_spark.kernels import focal
    from geo_raster_spark.operators import focal_ops

    g = TileGrid(image_size=8, cell_size=0.01, edge=0)
    rng = np.random.default_rng(3)
    a = rng.integers(10, 20, size=(8, 8)).astype(np.uint8)
    b = rng.integers(30, 40, size=(8, 8)).astype(np.uint8)
    rows = [{"tile_tag": "h%03dv%03d" % (tc, tr), "tile_col": tc,
             "tile_row": tr, "width": 8, "height": 8, "gt": [0.0] * 6,
             "n_images": 1, "painted": 64,
             "data": bytearray(codecs.encode_png(arr))}
            for (tc, tr), arr in {(10, 5): a, (11, 5): b}.items()]
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    out = focal_ops.focal_tiles(tiles, "median", halo=1, grid=g, dist=1, nodata=7)
    got = {r["tile_tag"]: codecs.decode_png(bytes(r["data"])) for r in out.collect()}

    # oracle for tile A: ring starts as nodata(7), B's left column fills the
    # right halo edge, everything else stays nodata and is ignored
    pad = np.full((10, 10), 7, dtype=np.uint8)
    pad[1:9, 1:9] = a
    pad[1:9, 9:10] = b[:, :1]
    want = focal.focal_median(pad, 1, 7)[0][1:9, 1:9]
    np.testing.assert_array_equal(got["h010v005"], want)
    # and the buggy zero-ring oracle must NOT match (proves the test bites)
    pad0 = np.zeros((10, 10), dtype=np.uint8)
    pad0[1:9, 1:9] = a
    pad0[1:9, 9:10] = b[:, :1]
    bad = focal.focal_median(pad0, 1, 7)[0][1:9, 1:9]
    assert not np.array_equal(got["h010v005"], bad)


def test_focal_tiles_halo_exchange(spark):
    """Distributed focal median equals whole-array kernel on tile interiors,
    INCLUDING pixels adjacent to tile borders (the halo guarantee)."""
    from geo_raster_spark import codecs, synth
    from geo_raster_spark.operators import focal_ops, footprint, mosaic

    imgs = footprint.with_footprint(synth.images_df(spark, 60, 4, with_bytes=True))
    tiles = mosaic.tile_cut(imgs, nodata=0.0).cache()
    out = focal_ops.focal_tiles(tiles, "median", halo=2, dist=1, nodata=0)
    got = {r["tile_tag"]: codecs.decode_png(bytes(r["data"])) for r in out.collect()}
    src = {r["tile_tag"]: (r["tile_col"], r["tile_row"],
                           codecs.decode_png(bytes(r["data"])))
           for r in tiles.collect()}
    assert set(got) == set(src)
    # oracle: assemble each tile + its available neighbors, median, crop
    from geo_raster_spark.grid import TileGrid
    g = TileGrid()
    checked = 0
    for tag, (tc, tr, center) in src.items():
        H, W = center.shape
        h = 2
        pad = np.zeros((H + 2 * h, W + 2 * h), dtype=np.uint8)
        for tag2, (tc2, tr2, arr2) in src.items():
            dc, dr = tc2 - tc, tr2 - tr
            if abs(dc) > 1 or abs(dr) > 1:
                continue
            y0 = h + dr * g.image_size
            x0 = h + dc * g.image_size
            ys = slice(max(0, y0), min(pad.shape[0], y0 + arr2.shape[0]))
            xs = slice(max(0, x0), min(pad.shape[1], x0 + arr2.shape[1]))
            if ys.start < ys.stop and xs.start < xs.stop:
                sub = arr2[ys.start - y0:ys.stop - y0, xs.start - x0:xs.stop - x0]
                if (dc, dr) == (0, 0):
                    pad[ys, xs] = sub
                else:
                    dst = pad[ys, xs]
                    pad[ys, xs] = np.where(dst == 0, sub, dst)
        want, _ = focal.focal_median(pad, 1, 0)
        want = want[h:h + H, h:h + W]
        np.testing.assert_array_equal(got[tag], want, err_msg=tag)
        checked += 1
    assert checked > 0
