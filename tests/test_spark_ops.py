"""Spark operator integration tests vs NumPy oracles (SURVEY.md §5.2/§5.4)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geo_raster_spark import codecs, dggs, geometry, synth
from geo_raster_spark.grid import RasterInfo, TileGrid
from geo_raster_spark.kernels import rasterize as rz_k
from geo_raster_spark.kernels import warp as warp_k
from geo_raster_spark.operators import footprint, knn, mosaic, pip_join, tile_assign, zonal
from geo_raster_spark.plans import flagship
from geo_raster_spark.plans.checkpoint import CheckpointTable


N = 1500


@pytest.fixture(scope="module")
def images_fp(spark):
    return footprint.with_footprint(flagship.footprint_input(spark, N, 8)).cache()


def test_footprint_matches_numpy_twins(images_fp):
    """The column-math derivation equals the NumPy twins bit-for-bit (same
    SplitMix64, same cell packing) on every fixture row."""
    pdf = images_fp.orderBy("image_id").toPandas()
    m = synth.image_meta(np.arange(N))
    np.testing.assert_array_equal(pdf["lon"].values, m["lon"])
    np.testing.assert_array_equal(pdf["lat"].values, m["lat"])
    np.testing.assert_array_equal(pdf["minx"].values, m["minx"])
    assert (pdf["cell"].values == dggs.latlng_to_cell(m["lon"], m["lat"])).all()


def test_pip_join_exact_vs_oracle(spark, images_fp):
    zones = synth.zones_pandas(24, hot=True)
    got = (pip_join.pip_join(images_fp, zones, keep_zone_name=False)
           .groupBy("zone_id").count().toPandas().set_index("zone_id")["count"])
    m = synth.image_meta(np.arange(N))
    for _, z in zones.iterrows():
        ring = geometry.wkb_to_ring(z["geometry"])
        # physical membership: zones whose stored ring extends past ±180°
        # (e.g. the hot fixture's eastern zones) wrap onto the far side —
        # a point is inside iff inside any antimeridian-split part
        inside = np.zeros(N, dtype=bool)
        for part in geometry.split_ring_antimeridian(ring):
            inside |= geometry.points_in_ring(part, m["lon"], m["lat"])
        want = int(inside.sum())
        assert got.get(z["zone_id"], 0) == want, z["zone_id"]


def test_pip_join_shuffle_path_matches_broadcast(spark, images_fp):
    """pip_join(broadcast=False) — the 10^6+-zone variant where the cover no
    longer fits a broadcast — must return identical rows via the shuffle
    equi-join, in both refine engines."""
    zones = synth.zones_pandas(12, hot=True)

    def counts(df):
        pdf = df.groupBy("zone_id").count().toPandas()
        return {int(z): int(n) for z, n in zip(pdf["zone_id"], pdf["count"])}

    want = counts(pip_join.pip_join(images_fp, zones, keep_zone_name=False))
    for eng in ("sql", "pandas"):
        got = counts(pip_join.pip_join(images_fp, zones, keep_zone_name=False,
                                       engine=eng, broadcast=False))
        assert got == want, eng


def test_pip_join_adaptive_cover_matches_flat(spark, images_fp):
    """adaptive_levels shrinks the broadcast cover (multi-res FULL
    coalescing) without changing a single result row, in both engines."""
    zones = synth.zones_pandas(12, hot=True)

    def counts(df):
        pdf = df.groupBy("zone_id").count().toPandas()
        return {int(z): int(n) for z, n in zip(pdf["zone_id"], pdf["count"])}

    want = counts(pip_join.pip_join(images_fp, zones, keep_zone_name=False))
    for eng in ("sql", "pandas"):
        got = counts(pip_join.pip_join(images_fp, zones, keep_zone_name=False,
                                       engine=eng, adaptive_levels=3))
        assert got == want, eng


def test_tile_assign_matches_grid_enumeration(spark, images_fp):
    g = TileGrid()
    got = (tile_assign.assign_tiles(images_fp)
           .select("image_id", "tile_col", "tile_row")
           .orderBy("image_id", "tile_col", "tile_row").toPandas())
    m = synth.image_meta(np.arange(N))
    want_rows = []
    ids = np.char.mod("img%012d", np.arange(N))
    for i in range(N):
        ext = (m["minx"][i], m["miny"][i], m["maxx"][i], m["maxy"][i])
        for col, row in g.list_tiles(ext):
            want_rows.append((ids[i], col, row))
    want = pd.DataFrame(want_rows, columns=["image_id", "tile_col", "tile_row"]) \
        .sort_values(["image_id", "tile_col", "tile_row"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["tile_col"].values == want["tile_col"].values).all()
    assert (got["tile_row"].values == want["tile_row"].values).all()


def test_knn_matches_bruteforce(spark, images_fp):
    qs = pd.DataFrame({"query_id": [0, 1, 2, 3],
                       "lon": [10.0, -50.0, 100.0, 179.0],
                       "lat": [20.0, -30.0, 5.0, 0.0]})
    qdf = spark.createDataFrame(qs)
    got = (knn.knn_join(qdf, images_fp.select("image_id", "lon", "lat"),
                        k=3, ring=3)
           .select("query_id", "rank", "image_id_nn").toPandas()
           .sort_values(["query_id", "rank"]).reset_index(drop=True))

    # brute force haversine oracle
    m = synth.image_meta(np.arange(N))
    ids = np.char.mod("img%012d", np.arange(N))

    def hav(lon1, lat1, lon2, lat2):
        r = 6371.0088
        p = np.pi / 180
        a = (np.sin((lat2 - lat1) * p / 2) ** 2
             + np.cos(lat1 * p) * np.cos(lat2 * p) * np.sin((lon2 - lon1) * p / 2) ** 2)
        return 2 * r * np.arcsin(np.sqrt(a))

    for _, q in qs.iterrows():
        d = hav(q["lon"], q["lat"], m["lon"], m["lat"])
        order = np.lexsort((ids, d))
        want = ids[order[:3]]
        sub = got[got["query_id"] == q["query_id"]]["image_id_nn"].values
        # k-ring=3 at res 8 covers ~2.1 deg; only assert when the true NN set
        # is within the ring radius (contract documented in operators/knn.py)
        if d[order[2]] <= 2.0 * 111.0:
            assert list(sub) == list(want), q["query_id"]


def test_flagship_deterministic_across_parallelism(spark):
    zones = synth.zones_pandas(16)
    a = flagship.flagship(flagship.footprint_input(spark, 800, 2), zones) \
        .orderBy("zone_id", "tile_tag").toPandas()
    b = flagship.flagship(flagship.footprint_input(spark, 800, 16), zones) \
        .orderBy("zone_id", "tile_tag").toPandas()
    assert a.equals(b)


def test_checkpoint_resume(spark, tmp_path):
    cp = CheckpointTable(str(tmp_path / "cp"))
    cp.record(spark, "stage1", [{"key": "h001v001", "row_count": 5},
                                {"key": "h002v002", "row_count": 7}])
    cp.record(spark, "stage1", [{"key": "h003v003", "status": "failed"}])
    done = {r["key"] for r in cp.completed_keys(spark, "stage1").collect()}
    assert done == {"h001v001", "h002v002"}

    df = spark.createDataFrame(
        pd.DataFrame({"tile_tag": ["h001v001", "h003v003", "h004v004"]}))
    pend = {r["tile_tag"] for r in cp.filter_pending(df, "stage1", "tile_tag").collect()}
    assert pend == {"h003v003", "h004v004"}

    # failed key retried and completed -> latest-wins
    cp.record(spark, "stage1", [{"key": "h003v003", "row_count": 9}])
    done2 = {r["key"] for r in cp.completed_keys(spark, "stage1").collect()}
    assert "h003v003" in done2


def test_checkpointed_flagship_runs_probe_once(spark, tmp_path):
    """With ``checkpoint`` the flagship computes its counts once: the
    lineage write and the caller's action read the same materialized
    result, whose rows equal the plain plan's and whose per-key row
    counts are the checkpoint rows."""
    images = flagship.footprint_input(spark, N, 8)
    zones = synth.zones_pandas(24, hot=True)
    computed = spark.sparkContext.accumulator(0)

    def counted(it):
        for pdf in it:
            computed.add(len(pdf))
            yield pdf

    cp = CheckpointTable(str(tmp_path / "cp"))
    got = flagship.flagship(images.mapInPandas(counted, images.schema), zones,
                            checkpoint=cp).collect()
    assert got and computed.value == N
    assert sorted(got) == sorted(flagship.flagship(images, zones).collect())
    tags = pd.Series([r["tile_tag"] for r in got]).value_counts()
    done = {r["key"] for r in cp.completed_keys(spark, "flagship").collect()}
    assert done == set(tags.index)
    rows = {r["key"]: r["row_count"]
            for r in cp.read(spark).where(F.col("stage") == "flagship").collect()}
    assert rows == tags.to_dict()


def test_tile_cut_matches_kernel_mosaic(spark):
    """G5 pipeline vs direct kernel composition on one tile."""
    n = 400  # at 40 images no tile stacked 2 images — the mosaic was vacuous
    imgs = synth.images_df(spark, n, 8, with_bytes=True)
    fp = footprint.with_footprint(imgs)
    tiles = mosaic.tile_cut(fp, nodata=0.0).collect()
    assert len(tiles) > 0

    # oracle for the densest tile
    t = max(tiles, key=lambda r: r["n_images"])
    assert t["n_images"] >= 2  # the oracle exercises a REAL multi-image mosaic
    g = TileGrid()
    info = g.tile_info(t["tile_col"], t["tile_row"])
    m = synth.image_meta(np.arange(n))
    srcs = []
    for i in range(n):
        ext = (m["minx"][i], m["miny"][i], m["maxx"][i], m["maxy"][i])
        te = g.tile_extent(t["tile_col"], t["tile_row"])
        if geometry.bbox_intersects(ext, te):
            arr = synth.image_pixels(i, int(m["w"][i]), int(m["h"][i]),
                                     int(np.uint64(np.int64(m["phash"][i]).astype(np.uint64))))
            fmt = ["png", "jpeg", "npy"][i % 3]
            arr = codecs.decode(codecs.encode(arr, fmt), fmt).astype(np.float64)
            gt = (m["minx"][i], synth.CELL_SIZE, 0.0, m["maxy"][i], 0.0, -synth.CELL_SIZE)
            srcs.append((f"img{i:012d}", arr, RasterInfo(gt, int(m["w"][i]), int(m["h"][i]))))
    srcs.sort(key=lambda s: s[0])
    want = warp_k.mosaic([(a, inf) for _, a, inf in srcs], info, nodata=0.0)
    got = codecs.decode_png(bytes(t["data"]))
    np.testing.assert_array_equal(got, np.clip(want, 0, 255).astype(np.uint8))


def test_tile_assign_dateline_wrap(spark):
    """A footprint reaching past +180° must assign to the wrapped first tile
    column too (and symmetric past -180°)."""
    pdf = pd.DataFrame([
        {"image_id": "a", "minx": 179.4, "miny": 0.2, "maxx": 180.6, "maxy": 0.8},
        {"image_id": "b", "minx": -180.6, "miny": 0.2, "maxx": -179.4, "maxy": 0.8},
        {"image_id": "c", "minx": 10.0, "miny": 0.2, "maxx": 11.0, "maxy": 0.8},
    ])
    got = (tile_assign.assign_tiles(spark.createDataFrame(pdf))
           .select("image_id", "tile_col", "tile_row").toPandas())
    g = TileGrid()
    for iid in ["a", "b", "c"]:
        r = pdf[pdf["image_id"] == iid].iloc[0]
        want = set(g.list_tiles((r["minx"], r["miny"], r["maxx"], r["maxy"])))
        have = set(zip(got[got["image_id"] == iid]["tile_col"],
                       got[got["image_id"] == iid]["tile_row"]))
        assert have == want, iid
    cols_a = set(got[got["image_id"] == "a"]["tile_col"])
    assert 359 in cols_a and 0 in cols_a


def test_salted_join_equals_plain_join(spark):
    """with_salt on the skewed probe side + explode_salt on the build side
    join to exactly the plain equi-join's rows."""
    probe = spark.createDataFrame(pd.DataFrame({
        "key": ["hot"] * 200 + ["warm"] * 20 + ["cold", "none"],
        "i": np.arange(222)}))
    build = spark.createDataFrame(pd.DataFrame({
        "key": ["hot", "warm", "cold"], "v": [1, 2, 3]}))
    exploded = tile_assign.explode_salt(build, buckets=4)
    assert sorted((r["key"], r["salt"]) for r in exploded.collect()) == \
        [(k, b) for k in ("cold", "hot", "warm") for b in range(4)]
    salted = (tile_assign.with_salt(probe, "key", buckets=4)
              .join(exploded, ["key", "salt"]).select("i", "key", "v"))
    plain = probe.join(build, "key").select("i", "key", "v")
    got = sorted(salted.collect())
    assert len(got) == 221 and got == sorted(plain.collect())


def test_tile_grid_df_matches_list_tiles_across_dateline(spark):
    """The generated tile grid filtered by an extent equals
    ``TileGrid.list_tiles``, including the wrapped tiles of an extent that
    crosses ±180°, and the whole grid when no extent is given."""
    g = TileGrid(image_size=10, cell_size=0.5)
    for ext in [(175.0, -5.0, 185.0, 5.0), (-185.0, 0.0, -170.0, 3.0),
                (-10.0, -5.0, 10.0, 5.0), None]:
        rows = tile_assign.tile_grid_df(spark, g, ext=ext) \
            .select("tile_col", "tile_row").collect()
        assert len(rows) == len(set(rows)), ext
        assert set(map(tuple, rows)) == set(g.list_tiles(ext)), ext


def test_pip_join_dateline_zone(spark):
    """A zone polygon crossing ±180° matches points on BOTH sides of the
    dateline, in both refine engines."""
    ring = geometry.bbox_to_ring((178.0, -5.0, 183.0, 5.0))  # crosses +180
    zones = pd.DataFrame([{"zone_id": 7, "name": "dateline",
                           "geometry": geometry.ring_to_wkb(ring)}])
    pts = pd.DataFrame({
        "pt_id": [1, 2, 3, 4],
        "lon": [179.5, -179.5, -176.0, 170.0],   # in, in (wrapped), out, out
        "lat": [0.0, 0.0, 0.0, 0.0]})
    df = spark.createDataFrame(pts)
    df = df.withColumn("cell", __import__("geo_raster_spark.functions", fromlist=["geocell"])
                       .geocell(F.col("lon"), F.col("lat")))
    for eng in ("sql", "pandas"):
        got = pip_join.pip_join(df, zones, engine=eng, keep_zone_name=False) \
            .select("pt_id").toPandas()
        assert sorted(got["pt_id"]) == [1, 2], eng


def test_zonal_boundary_straddling_image(spark):
    """An image whose CENTER cell lies outside the zone's cover but whose
    footprint crosses into the zone must still contribute pixels (the round-1
    center-cell candidate join silently dropped it)."""
    res = dggs.DEFAULT_RES
    cw = 360.0 / ((1 << res) * 2)          # res-8 cell width/height = 0.703125
    # zone strictly inside the cell spanning lon [0, cw), lat [0, cw)
    ring = geometry.bbox_to_ring((0.05, 0.05, 0.65, 0.65))
    zones = pd.DataFrame([{"zone_id": 1, "geometry": geometry.ring_to_wkb(ring)}])
    # image centered in the NEXT cell east (lon 0.9 > cw) with a footprint
    # reaching back to minx=0.5 < 0.65 — overlaps the zone
    arr = (np.arange(20 * 80, dtype=np.float64).reshape(20, 80) % 97.0)
    row = {"image_id": "imgX", "bytes": bytearray(codecs.encode(arr, "npy")),
           "fmt": "npy", "w": 80, "h": 20,
           "minx": 0.5, "miny": 0.25, "maxx": 1.3, "maxy": 0.45,
           "gt": [0.5, 0.01, 0.0, 0.45, 0.0, -0.01]}
    imgs = spark.createDataFrame(pd.DataFrame([row]))
    got = zonal.zonal_stats(imgs, zones, nodata=-1.0).toPandas().set_index("zone_id")

    info = RasterInfo((0.5, 0.01, 0.0, 0.45, 0.0, -0.01), 80, 20)
    mask = rz_k.rasterize([ring], info)
    vals = arr[mask == 1]
    assert len(vals) > 0                    # the fixture genuinely straddles
    assert 1 in got.index, "boundary image was dropped by the candidate join"
    assert got.loc[1, "n_pixels"] == len(vals)
    np.testing.assert_allclose(got.loc[1, "mean"], vals.mean(), rtol=1e-12)
    np.testing.assert_allclose(got.loc[1, "rng"], vals.max() - vals.min(), rtol=1e-12)


def test_zonal_stats_matches_kernel(spark):
    n = 60
    imgs = synth.images_df(spark, n, 4, with_bytes=True)
    fp = footprint.with_footprint(imgs)
    zones = synth.zones_pandas(6, hot=True)
    got = zonal.zonal_stats(fp, zones, nodata=-1.0).toPandas().set_index("zone_id")

    # oracle: direct kernel over each (image, zone)
    m = synth.image_meta(np.arange(n))
    agg = {}
    for _, z in zones.iterrows():
        ring = geometry.wkb_to_ring(z["geometry"])
        tot = cnt = 0.0
        mn, mx = np.inf, -np.inf
        for i in range(n):
            gt = (m["minx"][i], synth.CELL_SIZE, 0.0, m["maxy"][i], 0.0, -synth.CELL_SIZE)
            info = RasterInfo(gt, int(m["w"][i]), int(m["h"][i]))
            fmt = ["png", "jpeg", "npy"][i % 3]
            arr = synth.image_pixels(i, info.width, info.height,
                                     int(np.uint64(np.int64(m["phash"][i]).astype(np.uint64))))
            arr = codecs.decode(codecs.encode(arr, fmt), fmt).astype(np.float64)
            mask = rz_k.rasterize([ring], info)
            vals = arr[mask == 1]
            vals = vals[vals != -1.0]
            if len(vals):
                tot += vals.sum(); cnt += len(vals)
                mn, mx = min(mn, vals.min()), max(mx, vals.max())
        if cnt:
            agg[int(z["zone_id"])] = (tot / cnt, mx - mn, cnt)
    for zid, (mean, rng, cnt) in agg.items():
        assert zid in got.index, zid
        np.testing.assert_allclose(got.loc[zid, "mean"], mean, rtol=1e-12)
        np.testing.assert_allclose(got.loc[zid, "rng"], rng, rtol=1e-12)
        assert got.loc[zid, "n_pixels"] == cnt
    assert set(got.index) == set(agg.keys())


def test_tile_cut_salted_equals_unsalted(spark):
    """Hot-tile salting (north rule): the two-phase salted mosaic must be
    byte-identical to the plain path — winner planes preserve the global
    min-image_id first-wins precedence.  400 images so tiles genuinely
    stack (at 80 images no tile held two images and the check was vacuous)."""
    imgs = footprint.with_footprint(synth.images_df(spark, 400, 8, with_bytes=True))
    plain = {r["tile_tag"]: (bytes(r["data"]), r["n_images"], r["painted"])
             for r in mosaic.tile_cut(imgs, nodata=0.0).collect()}
    salted = {r["tile_tag"]: (bytes(r["data"]), r["n_images"], r["painted"])
              for r in mosaic.tile_cut(imgs, nodata=0.0, salt_buckets=4).collect()}
    assert set(plain) == set(salted)
    assert any(v[1] > 1 for v in plain.values())  # overlapping tiles exist
    for tag in plain:
        assert plain[tag] == salted[tag], tag


def _overlap_fixture(spark):
    """5 images with constant pixel values stacked on ONE 1° tile, ids and
    priorities chosen so the (priority, image_id) order REVERSES the plain
    image_id order."""
    rows = []
    for j in range(5):
        v = 50 + 10 * j  # img a->50 ... img e->90
        arr = np.full((60, 60), v, dtype=np.uint8)
        minx, maxy = 10.2 + 0.05 * j, 0.8 - 0.05 * j
        rows.append({
            "image_id": f"img_{chr(ord('a') + j)}",
            "bytes": bytearray(codecs.encode(arr, "png")), "fmt": "png",
            "w": 60, "h": 60, "prio": float(5 - j),      # reverses id order
            "minx": minx, "miny": maxy - 0.6, "maxx": minx + 0.6, "maxy": maxy,
            "gt": [minx, 0.01, 0.0, maxy, 0.0, -0.01]})
    return spark.createDataFrame(pd.DataFrame(rows))


def test_tile_cut_multiband_byte_exact(spark):
    """Per-band tile cut (band_col): an RGB stack as 3 rows per image must
    produce, for EVERY band, byte-exactly the tiles a single-band tile_cut
    of that band alone produces (the reference's N-band stack shape,
    mod/geo_raster_c.pyx:338-355)."""
    from geo_raster_spark import synth
    rows = []
    for j in range(5):  # stacked on one tile like _overlap_fixture
        rgb = synth.image_pixels_rgb(j, 60, 60, j * 31337)
        minx, maxy = 10.2 + 0.05 * j, 0.8 - 0.05 * j
        for b in range(3):
            rows.append({
                "image_id": f"img_{chr(ord('a') + j)}", "band": b,
                "bytes": bytearray(codecs.encode(np.ascontiguousarray(
                    rgb[:, :, b]), "png")), "fmt": "png",
                "w": 60, "h": 60,
                "minx": minx, "miny": maxy - 0.6,
                "maxx": minx + 0.6, "maxy": maxy,
                "gt": [minx, 0.01, 0.0, maxy, 0.0, -0.01]})
    pdf = pd.DataFrame(rows)
    stacked = mosaic.tile_cut(spark.createDataFrame(pdf), nodata=0.0,
                              band_col="band").collect()
    assert {r["band"] for r in stacked} == {0, 1, 2}
    got = {(r["tile_tag"], r["band"]): (bytes(r["data"]), r["n_images"])
           for r in stacked}
    assert any(n > 1 for _, n in got.values())   # genuinely stacked
    # salted x band: identical bytes to the unsalted multiband run
    salted = {(r["tile_tag"], r["band"]): (bytes(r["data"]), r["n_images"])
              for r in mosaic.tile_cut(spark.createDataFrame(pdf), nodata=0.0,
                                       band_col="band",
                                       salt_buckets=3).collect()}
    assert salted == got
    for b in range(3):
        solo = mosaic.tile_cut(
            spark.createDataFrame(pdf[pdf["band"] == b].drop(columns=["band"])),
            nodata=0.0).collect()
        for r in solo:
            assert got[(r["tile_tag"], b)] == (bytes(r["data"]), r["n_images"]), \
                (r["tile_tag"], b)


def test_tile_cut_priority_composite(spark):
    """priority_col composites in ascending (priority, image_id): the lowest
    priority value wins overlapped pixels, salted and unsalted stay
    byte-identical, and the overlap region provably changes vs default."""
    imgs = _overlap_fixture(spark)

    def tiles(**kw):
        return {r["tile_tag"]: (bytes(r["data"]), r["n_images"])
                for r in mosaic.tile_cut(imgs, nodata=0.0, **kw).collect()}

    plain = tiles(priority_col="prio")
    salted = tiles(priority_col="prio", salt_buckets=4)
    assert plain == salted
    default = tiles()
    assert set(plain) == set(default)
    assert any(n > 1 for _, n in plain.values())  # genuinely stacked
    assert any(plain[t] != default[t] for t in plain)

    # semantics: in the fully-overlapped region the LAST id (img_e, value 90)
    # has the LOWEST priority (1.0) and must win under priority_col, while
    # the default min-id order gives img_a (value 50)
    tag = max(plain, key=lambda t: plain[t][1])
    got_p = codecs.decode_png(plain[tag][0])
    got_d = codecs.decode_png(default[tag][0])
    assert (got_p == 90).any() and not (got_d == 90).sum() > (got_p == 90).sum()
    # the region covered by ALL five images: priority winner is img_e
    g = TileGrid()
    info = g.tile_info(*[int(x) for x in (tag[1:4], tag[5:8])])
    xs = info.gt[0] + (np.arange(info.width) + 0.5) * info.gt[1]
    ys = info.gt[3] + (np.arange(info.height) + 0.5) * info.gt[5]
    X, Y = np.meshgrid(xs, ys)
    common = np.ones_like(X, dtype=bool)
    for j in range(5):
        minx, maxy = 10.2 + 0.05 * j, 0.8 - 0.05 * j
        common &= (X > minx) & (X < minx + 0.6) & (Y < maxy) & (Y > maxy - 0.6)
    assert common.any()
    assert (got_p[common] == 90).all()
    assert (got_d[common] == 50).all()


def test_tile_cut_salted_arbitrary_ids(spark):
    """Salted merge precedence must follow the STRING sort of image_id for
    arbitrary ids — non-'img<N>' names with non-zero-padded numeric suffixes
    where lexicographic order ('s10' < 's2') diverges from numeric order —
    on a fixture whose images genuinely OVERLAP on one tile."""
    from pyspark.sql import functions as SF
    imgs = _overlap_fixture(spark)
    remap = {"img_a": "scene/10.B1", "img_b": "scene/2.B1",
             "img_c": "scene/9.B1", "img_d": "scene/1.B1",
             "img_e": "scene/5.B1"}
    mapping = SF.create_map(*[SF.lit(x) for kv in remap.items() for x in kv])
    imgs = imgs.withColumn("image_id", mapping[SF.col("image_id")])
    plain = {r["tile_tag"]: (bytes(r["data"]), r["n_images"], r["painted"])
             for r in mosaic.tile_cut(imgs, nodata=0.0).collect()}
    salted = {r["tile_tag"]: (bytes(r["data"]), r["n_images"], r["painted"])
              for r in mosaic.tile_cut(imgs, nodata=0.0, salt_buckets=4).collect()}
    assert set(plain) == set(salted)
    assert any(v[1] > 1 for v in plain.values())
    for tag in plain:
        assert plain[tag] == salted[tag], tag
    # winner in the all-overlap region is min STRING id 'scene/1.B1'
    # (= img_d, value 80), not min numeric suffix (scene/1 vs scene/10)
    tag = max(plain, key=lambda t: plain[t][1])
    got = codecs.decode_png(plain[tag][0])
    assert (got == 80).any()


def test_write_catalog_partitions_by_cell_prefix(spark, tmp_path):
    """write_catalog lays rows out under one ``cell_prefix=`` directory per
    coarse DGGS cell of the footprint center."""
    from geo_raster_spark.sources import catalog as cat
    entries = [{"image_id": f"i{k}", "minx": x - 1, "miny": y - 1,
                "maxx": x + 1, "maxy": y + 1}
               for k, (x, y) in enumerate([(10, 10), (11, 11), (-120, 40),
                                           (150, -30)])]
    out = str(tmp_path / "cat")
    cat.write_catalog(cat.catalog_from_list(spark, entries), out,
                      cell_prefix_res=2)
    lon = np.array([10.0, 11.0, -120.0, 150.0])
    lat = np.array([10.0, 11.0, 40.0, -30.0])
    want = dggs.latlng_to_cell(lon, lat, 2)
    assert want[0] == want[1] and len(set(want)) == 3
    dirs = {p.name for p in (tmp_path / "cat").iterdir()
            if p.name.startswith("cell_prefix=")}
    assert dirs == {f"cell_prefix={c}" for c in want}
    back = {r["image_id"]: r["cell_prefix"]
            for r in spark.read.parquet(out).collect()}
    assert back == {f"i{k}": int(c) for k, c in enumerate(want)}


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Catalogs bucketed on `cell` must join WITHOUT an Exchange on either
    side (the pay-the-shuffle-once-at-write scale story), and produce the
    same rows as the plain join."""
    from geo_raster_spark.sources import catalog as cat

    imgs = cat.catalog_from_images(synth.images_df(spark, 400, 8, with_bytes=False))
    cover = (imgs.select("cell").distinct()
             .withColumn("zone_id", (F.col("cell") % 7).cast("int")))

    cat.write_bucketed(imgs, "t_cat_a", str(tmp_path / "a"), buckets=8)
    cat.write_bucketed(cover, "t_cat_b", str(tmp_path / "b"), buckets=8)
    want = imgs.join(cover, "cell").count()

    # disable auto-broadcast so the plan shows the bucketed SMB shape (at
    # 100 TB neither catalog side is broadcastable — that's the point)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_cat_a").join(spark.table("t_cat_b"), "cell")
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted")
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert j.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_cat_a")
        spark.sql("DROP TABLE IF EXISTS t_cat_b")


def test_pixel_stack_stats_matches_numpy(spark):
    """Per-pixel median/mean across epochs equals the nan-aware NumPy oracle,
    with per-position nodata exclusion."""
    from geo_raster_spark.operators import stack as stk
    rng = np.random.default_rng(21)
    h, w = 20, 30
    epochs = []
    for e in range(5):
        a = rng.integers(1, 250, size=(h, w)).astype(np.uint8)
        a[rng.random((h, w)) < 0.2] = 0      # nodata holes per epoch
        epochs.append(a)
    rows = [{"tile_tag": "h100v050", "epoch": e, "width": w, "height": h,
             "gt": [0.0] * 6, "data": bytearray(codecs.encode_png(a))}
            for e, a in enumerate(epochs)]
    tiles = spark.createDataFrame(pd.DataFrame(rows))

    for stat, fn in (("median", np.nanmedian), ("mean", np.nanmean),
                     ("max", np.nanmax)):
        got_rows = stk.pixel_stack_stats(tiles, stat=stat, nodata=0.0).collect()
        assert len(got_rows) == 1 and got_rows[0]["n_epochs"] == 5
        got = codecs.decode_png(bytes(got_rows[0]["data"]))
        s = np.full((5, h, w), np.nan)
        for i, a in enumerate(epochs):
            f = a.astype(np.float64)
            f[f == 0] = np.nan
            s[i] = f
        with np.errstate(all="ignore"):
            want = fn(s, axis=0)
        want = np.where(np.isnan(want), 0.0, want)
        np.testing.assert_array_equal(
            got, np.clip(np.round(want), 0, 255).astype(np.uint8), err_msg=stat)


def test_pixel_stack_stats_multiband(spark):
    """band_col stacks reduce per (tile, band): each band's result equals
    the single-band run on that band's epochs alone — bands never mix."""
    from geo_raster_spark import synth
    from geo_raster_spark.operators import stack as stk
    h, w = 16, 24
    rows = []
    for b in range(3):
        for e in range(4):
            a = synth.image_pixels(e, w, h, (b * 997 + e) * 31337)
            rows.append({"tile_tag": "h100v050", "band": b, "epoch": e,
                         "width": w, "height": h, "gt": [0.0] * 6,
                         "data": bytearray(codecs.encode_png(a))})
    pdf = pd.DataFrame(rows)
    got = {r["band"]: (bytes(r["data"]), r["n_epochs"])
           for r in stk.pixel_stack_stats(spark.createDataFrame(pdf),
                                          stat="median", nodata=0.0,
                                          band_col="band").collect()}
    assert set(got) == {0, 1, 2}
    for b in range(3):
        solo = stk.pixel_stack_stats(
            spark.createDataFrame(pdf[pdf["band"] == b].drop(columns=["band"])),
            stat="median", nodata=0.0).collect()
        assert got[b] == (bytes(solo[0]["data"]), solo[0]["n_epochs"]), b


def test_build_overviews_two_levels(spark):
    """Pyramid levels: 4 constant children -> one parent with quadrant
    values (area-weighted 2x mean), missing children stay nodata; level 2
    reduces level-1 parents again."""
    from geo_raster_spark.operators import overviews as ov
    g = TileGrid()
    size = g.image_size
    rows = []
    # three children of parent (5, 3) at level 0 (one quadrant missing),
    # plus one child of parent (6, 3) -> level-2 parent (3, 1) and (2, 1)
    vals = {(10, 6): 40, (11, 6): 80, (10, 7): 120, (13, 7): 200}
    for (c, r), v in vals.items():
        arr = np.full((size + 1, size + 1), v, dtype=np.uint8)
        rows.append({"tile_tag": "h%03dv%03d" % (c, r), "tile_col": c,
                     "tile_row": r, "width": size + 1, "height": size + 1,
                     "gt": [0.0] * 6, "n_images": 1, "painted": size * size,
                     "data": bytearray(codecs.encode_png(arr))})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    out = ov.build_overviews(tiles, levels=2, nodata=0.0).collect()
    lv1 = {(r["tile_col"], r["tile_row"]): r for r in out if r["level"] == 1}
    lv2 = {(r["tile_col"], r["tile_row"]): r for r in out if r["level"] == 2}
    assert set(lv1) == {(5, 3), (6, 3)} and set(lv2) == {(2, 1), (3, 1)}

    p = codecs.decode_png(bytes(lv1[(5, 3)]["data"]))
    h = size // 2
    assert (p[:h, :h] == 40).all()       # child (10,6) -> quadrant (0,0)
    assert (p[:h, h:] == 80).all()       # child (11,6) -> quadrant (0,1)
    assert (p[h:, :h] == 120).all()      # child (10,7) -> quadrant (1,0)
    assert (p[h:, h:] == 0).all()        # missing child stays nodata
    assert lv1[(5, 3)]["n_children"] == 3
    q = codecs.decode_png(bytes(lv1[(6, 3)]["data"]))
    assert (q[h:, h:] == 200).all() and (q[:h, :h] == 0).all()  # (13,7)->(1,1)

    # level 2: parent (2,1) over lv1 (5,3) -> quadrant (col 5->odd, row 3->odd)
    p2 = codecs.decode_png(bytes(lv2[(2, 1)]["data"]))
    hh = h // 2
    blk = p2[h:, h:]                     # lv1 (5,3) lands in quadrant (1,1)
    assert (blk[:hh, :hh] == 40).all() and (blk[:hh, hh:] == 80).all()
    # parent gt covers 2x extent at each level
    assert lv1[(5, 3)]["gt"][1] == 2 * g.cell_size
    assert lv2[(2, 1)]["gt"][1] == 4 * g.cell_size


def test_asof_join_semantics(spark):
    """As-of join: most recent right row with r.ts <= l.ts per key; ties
    match (inclusive); keys with no prior right row get null."""
    from geo_raster_spark.operators.asof import asof_join
    ts = pd.to_datetime
    left = spark.createDataFrame(pd.DataFrame({
        "event_id": [1, 2, 3, 4],
        "user_id": [7, 7, 7, 9],
        "ts": ts(["2024-01-01 10:00", "2024-01-01 12:00",
                  "2024-01-01 09:00", "2024-01-01 10:00"])}))
    right = spark.createDataFrame(pd.DataFrame({
        "user_id": [7, 7, 9],
        "ts": ts(["2024-01-01 09:30", "2024-01-01 10:00", "2024-01-01 11:00"]),
        "v": [10.0, 20.0, 30.0]}))
    got = asof_join(left, right, time_col="ts", by="user_id",
                    value_cols=["v"]).toPandas().set_index("event_id")["v"]
    assert got[1] == 20.0       # tie: r.ts == l.ts matches (inclusive)
    assert got[2] == 20.0       # most recent prior, not just any prior
    assert pd.isna(got[3])      # 09:00 has no prior view
    assert pd.isna(got[4])      # user 9's only right row is later


def test_asof_join_rejects_value_col_collision(spark):
    """A value column that already exists on the LEFT must fail loudly:
    unionByName would silently carry the left rows' own values forward."""
    import pytest
    from geo_raster_spark.operators.asof import asof_join
    ts = pd.to_datetime
    left = spark.createDataFrame(pd.DataFrame({
        "user_id": [7], "ts": ts(["2024-01-01 10:00"]), "v": [99.0]}))
    right = spark.createDataFrame(pd.DataFrame({
        "user_id": [7], "ts": ts(["2024-01-01 09:00"]), "v": [10.0]}))
    with pytest.raises(ValueError, match="already exist on the left"):
        asof_join(left, right, time_col="ts", by="user_id", value_cols=["v"])


def test_zonal_dateline_pixels_counted(spark):
    """A zone crossing +180° with an image whose UNWRAPPED pixel frame
    extends past 180°: pixels beyond the dateline must wrap to far-side
    cells (not clamp to the last column and silently drop)."""
    ring = geometry.bbox_to_ring((179.0, -5.0, 182.0, 5.0))  # crosses +180
    zones = pd.DataFrame([{"zone_id": 3, "geometry": geometry.ring_to_wkb(ring)}])
    w, h = 130, 50
    arr = (np.arange(w * h, dtype=np.float64).reshape(h, w) % 97.0) + 1.0
    # unwrapped frame: lon 179.6 .. 180.9, lat 0.5 .. 1.0 — wholly inside
    # the zone, ~35% of the pixels past +180°
    gt = (179.6, 0.01, 0.0, 1.0, 0.0, -0.01)
    row = {"image_id": "imgD", "bytes": bytearray(codecs.encode(arr, "npy")),
           "fmt": "npy", "w": w, "h": h,
           "minx": 179.6, "miny": 0.5, "maxx": 180.9, "maxy": 1.0,
           "gt": list(gt)}
    imgs = spark.createDataFrame(pd.DataFrame([row]))
    got = zonal.zonal_stats(imgs, zones, nodata=-1.0).toPandas().set_index("zone_id")
    assert 3 in got.index
    assert got.loc[3, "n_pixels"] == w * h, \
        "pixels past +180 were dropped by the clamped cell lookup"
    np.testing.assert_allclose(got.loc[3, "mean"], arr.mean(), rtol=1e-12)


def test_zones_from_shp_drives_pip_join(spark, tmp_path):
    """S7/S8 -> J1 end-to-end: zones written as a polygon SHAPEFILE load
    back into the zones_pdf contract and route points correctly."""
    from geo_raster_spark.sources import vector
    from geo_raster_spark import functions as gf
    rings = [geometry.bbox_to_ring((0.0, 0.0, 10.0, 10.0)),
             geometry.bbox_to_ring((20.0, 20.0, 30.0, 30.0))]
    props = pd.DataFrame({"ZONE_ID": np.array([7, 9], dtype=np.int64),
                          "NAME": ["west", "east"]})
    shp = str(tmp_path / "zones.shp")
    vector.write_shp(shp, rings, props)
    zones = vector.zones_from_shp(shp)
    assert list(zones["zone_id"]) == [7, 9]
    pts = spark.createDataFrame(pd.DataFrame({
        "pt_id": [1, 2, 3],
        "lon": [5.0, 25.0, 50.0], "lat": [5.0, 25.0, 5.0]}))
    pts = pts.withColumn("cell", gf.geocell(F.col("lon"), F.col("lat")))
    got = pip_join.pip_join(pts, zones[["zone_id", "geometry"]],
                            keep_zone_name=False) \
        .select("pt_id", "zone_id").toPandas().sort_values("pt_id")
    assert list(zip(got["pt_id"], got["zone_id"])) == [(1, 7), (2, 9)]


def test_zonal_kernel_decodes_once_per_image_zone(monkeypatch):
    """Round-4 efficiency fix: an image spanning k cover cells arrives as k
    candidate rows but must be decoded/rasterized ONCE per (image, zone) —
    and the per-fcell partial rows must equal the per-row formulation."""
    res = dggs.DEFAULT_RES
    cw = 360.0 / ((1 << res) * 2)
    # zone spanning two adjacent res-8 cells in lon
    ring = geometry.bbox_to_ring((0.1, 0.1, 2 * cw - 0.1, 0.6))
    # image footprint across both cells
    arr = (np.arange(30 * 120, dtype=np.float64).reshape(30, 120) % 89.0) + 1
    info_gt = [0.0, 0.012, 0.0, 0.65, 0.0, -0.012]
    import pandas as _pd
    from geo_raster_spark.operators.zonal import _partials_kernel
    c0 = dggs.latlng_to_cell(np.array([0.3]), np.array([0.3]), res=res)[0]
    c1 = dggs.latlng_to_cell(np.array([cw + 0.3]), np.array([0.3]), res=res)[0]
    assert c0 != c1
    base = {"image_id": "imgY", "bytes": bytearray(codecs.encode(arr, "npy")),
            "fmt": "npy", "w": 120, "h": 30, "gt": info_gt, "zone_id": 5}
    batch = _pd.DataFrame([dict(base, fcell=int(c0)),
                           dict(base, fcell=int(c1))])

    calls = {"n": 0}
    real_decode = codecs.decode

    def counting(data, fmt):
        calls["n"] += 1
        return real_decode(data, fmt)

    monkeypatch.setattr(codecs, "decode", counting)
    zr = {5: [ring]}
    rows = list(_partials_kernel(zr, -1.0, res)(iter([batch])))[0]
    assert calls["n"] == 1, "image decoded once despite 2 candidate rows"
    # parity: same partials as running the kernel on each row separately
    monkeypatch.setattr(codecs, "decode", real_decode)
    sep = pd.concat([
        list(_partials_kernel(zr, -1.0, res)(iter([batch.iloc[[i]]])))[0]
        for i in range(2)]).reset_index(drop=True)
    pd.testing.assert_frame_equal(rows.reset_index(drop=True), sep)
    assert rows["pcount"].sum() > 0
    # the two fcell rows carry DISJOINT pixel subsets
    assert len(rows) == 2 and rows["pcount"].iloc[0] != 0


def test_container_rows_flow_through_tile_cut(spark):
    """S16 closure: a multi-dataset container images table expands via
    expand_container_rows into per-dataset rows (fmt='grsc#<name>') whose
    tile_cut output is byte-identical to separately-encoded single-band
    images; plain rows pass through; manifest 'path#dataset' refs split."""
    from geo_raster_spark import synth
    from geo_raster_spark.sources import catalog as cat

    rows_cont, rows_solo = [], []
    for j in range(4):
        rgb = synth.image_pixels_rgb(j, 50, 50, j * 977)
        minx, maxy = 20.1 + 0.07 * j, -10.2 - 0.07 * j
        meta = {"w": 50, "h": 50, "minx": minx, "miny": maxy - 0.5,
                "maxx": minx + 0.5, "maxy": maxy,
                "gt": [minx, 0.01, 0.0, maxy, 0.0, -0.01]}
        payload = codecs.encode_container({
            f"band{b}": (np.ascontiguousarray(rgb[:, :, b]), "png")
            for b in range(3)})
        rows_cont.append(dict(meta, image_id=f"c{j}", fmt="grsc",
                              bytes=bytearray(payload)))
        for b in range(3):
            rows_solo.append(dict(meta, image_id=f"c{j}", band=b, fmt="png",
                                  bytes=bytearray(codecs.encode(
                                      np.ascontiguousarray(rgb[:, :, b]),
                                      "png"))))
    cont = spark.createDataFrame(pd.DataFrame(rows_cont))
    expanded = cat.expand_container_rows(cont)
    ex = expanded.orderBy("image_id", "band").collect()
    assert len(ex) == 12
    assert all(r["fmt"] == f"grsc#band{r['band']}" for r in ex)
    got = {(r["tile_tag"], r["band"]): bytes(r["data"])
           for r in mosaic.tile_cut(expanded, nodata=0.0,
                                    band_col="band").collect()}
    want = {(r["tile_tag"], r["band"]): bytes(r["data"])
            for r in mosaic.tile_cut(spark.createDataFrame(
                pd.DataFrame(rows_solo)), nodata=0.0,
                band_col="band").collect()}
    assert got == want and len(got) > 0
    # plain (non-container) rows pass through with band 0 and a null name
    plain_row = {k: v for k, v in rows_solo[0].items() if k != "band"}
    plain_row["image_id"] = "plain0"
    mixed = cat.expand_container_rows(
        cont.unionByName(spark.createDataFrame(pd.DataFrame([plain_row]))))
    got_plain = mixed.where(F.col("image_id") == "plain0").collect()
    assert len(got_plain) == 1
    assert got_plain[0]["band"] == 0 and got_plain[0]["fmt"] == "png"
    assert got_plain[0]["dataset"] is None
    assert mixed.count() == 13
    # manifest refs: 'path#dataset' round-trips through split_dataset_ref
    p, ds = cat.split_dataset_ref("s3://bkt/scene42.grsc#band2")
    assert (p, ds) == ("s3://bkt/scene42.grsc", "band2")
    assert cat.split_dataset_ref("plain.png") == ("plain.png", None)


def test_progressive_jpeg_payloads_flow_through_tile_cut(spark):
    """End-to-end envelope: images whose fmt='jpg' payloads are PROGRESSIVE
    (SOF2) decode inside the distributed tile_cut and produce tiles
    byte-identical to baseline-encoded payloads of the same pixels
    (progressive decode == baseline decode, so the pipelines converge)."""
    from geo_raster_spark import jpeg, synth
    rows_b, rows_p = [], []
    for j in range(4):
        px = synth.image_pixels(j, 50, 50, j * 31 + 5)
        minx, maxy = 40.1 + 0.07 * j, 20.2 - 0.07 * j
        meta = {"image_id": f"p{j}", "w": 50, "h": 50,
                "minx": minx, "miny": maxy - 0.5,
                "maxx": minx + 0.5, "maxy": maxy,
                "gt": [minx, 0.01, 0.0, maxy, 0.0, -0.01], "fmt": "jpg"}
        rows_b.append(dict(meta, bytes=bytearray(jpeg.encode(px, 95))))
        rows_p.append(dict(meta,
                           bytes=bytearray(jpeg.encode_progressive(px, 95))))
    got_b = {r["tile_tag"]: bytes(r["data"]) for r in mosaic.tile_cut(
        spark.createDataFrame(pd.DataFrame(rows_b)), nodata=0.0).collect()}
    got_p = {r["tile_tag"]: bytes(r["data"]) for r in mosaic.tile_cut(
        spark.createDataFrame(pd.DataFrame(rows_p)), nodata=0.0).collect()}
    assert got_b == got_p and len(got_b) > 0


def test_tile_cut_adaptive_salting_byte_identical(spark):
    """salt_threshold: only hot tiles take the two-phase salted path; the
    fixture has one genuinely hot tile and several cold ones, and the
    adaptive output must be byte-identical to BOTH the unsalted and the
    uniformly-salted runs."""
    from geo_raster_spark import synth
    rows = []
    # 8 images stacked on ONE tile (hot) ...
    for j in range(8):
        arr = synth.image_pixels(j, 50, 50, j * 131 + 7)
        minx, maxy = 70.1 + 0.04 * j, -30.2 - 0.04 * j
        rows.append({"image_id": f"hot{j}",
                     "bytes": bytearray(codecs.encode(arr, "png")),
                     "fmt": "png", "w": 50, "h": 50,
                     "minx": minx, "miny": maxy - 0.5,
                     "maxx": minx + 0.5, "maxy": maxy,
                     "gt": [minx, 0.01, 0.0, maxy, 0.0, -0.01]})
    # ... and 5 solo images on far-apart tiles (cold)
    for j in range(5):
        arr = synth.image_pixels(100 + j, 40, 40, j * 977 + 3)
        minx, maxy = -150.0 + 10.0 * j, 55.0
        rows.append({"image_id": f"cold{j}",
                     "bytes": bytearray(codecs.encode(arr, "png")),
                     "fmt": "png", "w": 40, "h": 40,
                     "minx": minx, "miny": maxy - 0.4,
                     "maxx": minx + 0.4, "maxy": maxy,
                     "gt": [minx, 0.01, 0.0, maxy, 0.0, -0.01]})
    imgs = spark.createDataFrame(pd.DataFrame(rows))

    def run(**kw):
        return {(r["tile_tag"]): (bytes(r["data"]), r["n_images"],
                                  r["painted"])
                for r in mosaic.tile_cut(imgs, nodata=0.0, **kw).collect()}

    base = run()
    uniform = run(salt_buckets=3)
    adaptive = run(salt_buckets=3, salt_threshold=4)
    assert adaptive == base == uniform
    # the fixture genuinely exercises BOTH branches
    n_hot = sum(1 for _b, n, _p in base.values() if n > 4)
    n_cold = sum(1 for _b, n, _p in base.values() if n <= 4)
    assert n_hot >= 1 and n_cold >= 4


def test_tile_cut_cross_crs_sources(spark):
    """src_crs_col + footprint_refine: a SINU-meters source cuts onto the
    geographic tile grid through the same cross-CRS warp the kernel path
    uses — tile bytes equal the direct kernel mosaic, refine on or off."""
    from geo_raster_spark import crs as crs_mod
    R = 6371007.181
    y0, y1 = R * np.radians(20.0), R * np.radians(21.0)
    x0 = R * np.radians(30.0) * np.cos(np.radians(20.5))
    w, h = 90, 110
    arr = (np.arange(h * w, dtype=np.float64).reshape(h, w) % 199.0) + 1
    gt = [x0, 1.1e5 / w, 0.0, y1, 0.0, -(y1 - y0) / h]
    ext = crs_mod.transform_extent(
        "SINU", "EPSG:4326", (x0, y0, x0 + 1.1e5, y1))
    row = {"image_id": "sinu0", "bytes": bytearray(codecs.encode(
               arr.astype(np.uint8), "png")),
           "fmt": "png", "w": w, "h": h, "crs": "SINU",
           "minx": ext[0], "miny": ext[1], "maxx": ext[2], "maxy": ext[3],
           "gt": gt}
    imgs = spark.createDataFrame(pd.DataFrame([row]))
    for refine in (False, True):
        tiles = mosaic.tile_cut(imgs, nodata=0.0, src_crs_col="crs",
                                footprint_refine=refine).collect()
        assert len(tiles) >= 1
        g = TileGrid()
        painted_total = 0
        for t in tiles:
            info = g.tile_info(int(t["tile_col"]), int(t["tile_row"]))
            src = RasterInfo(tuple(gt), w, h, "SINU")
            want = warp_k.mosaic([(arr, src)], info, 0.0,
                                 footprint_refine=refine)
            got = codecs.decode_png(bytes(t["data"])).astype(np.float64)
            np.testing.assert_array_equal(
                got, np.clip(want, 0, 255).astype(np.uint8))
            painted_total += int(t["painted"])
        assert painted_total > 0, "cross-CRS source genuinely painted"


def test_pixel_stack_percentile_stats(spark):
    """stat='pXX': per-pixel percentiles across epochs — p50 equals the
    median path exactly; p100 equals max; p25 matches np.nanpercentile."""
    from geo_raster_spark.operators import stack as stk
    rng = np.random.default_rng(5)
    tiles = []
    planes = [rng.integers(1, 250, (30, 30)).astype(np.uint8)
              for _ in range(4)]
    for e, a in enumerate(planes):
        a = a.copy()
        a[e * 3:(e * 3) + 4, :] = 0          # per-epoch nodata stripes
        tiles.append({"tile_tag": "h001v001", "epoch": e, "width": 30,
                      "height": 30, "gt": [0.0] * 6,
                      "data": bytearray(codecs.encode_png(a))})
    df = spark.createDataFrame(pd.DataFrame(tiles))

    def run(stat):
        r = stk.pixel_stack_stats(df, stat=stat, nodata=0.0).collect()[0]
        return codecs.decode_png(bytes(r["data"])), r["val_sum"]

    p50, s50 = run("p50")
    med, smed = run("median")
    np.testing.assert_array_equal(p50, med)
    assert s50 == smed
    p100, _ = run("p100")
    mx, _ = run("max")
    np.testing.assert_array_equal(p100, mx)
    # independent oracle for p25
    got, _ = run("p25")
    st = np.full((4, 30, 30), np.nan)
    for e, a in enumerate(planes):
        a = a.astype(np.float64).copy()
        a[e * 3:(e * 3) + 4, :] = np.nan
        st[e] = a
    want = np.nanpercentile(st, 25.0, axis=0)
    want = np.where(np.isnan(want), 0.0, want)
    np.testing.assert_array_equal(
        got, np.clip(np.round(want), 0, 255).astype(np.uint8))
    import pytest as _pt
    with _pt.raises(ValueError):
        stk.pixel_stack_stats(df, stat="p101")
    with _pt.raises(ValueError):
        stk.pixel_stack_stats(df, stat="bogus")


def test_tile_cut_cross_crs_salted_byte_identical(spark):
    """Round-4 verdict fix: the salted path must honor src_crs_col +
    footprint_refine exactly like the plain path — 6 SINU-meters sources
    stacked on one hot tile, unsalted vs uniform-salted vs adaptive
    (hot branch) must be byte-identical, refine on or off."""
    from geo_raster_spark import crs as crs_mod
    R = 6371007.181
    rows = []
    for j in range(6):
        w, h = 80, 90
        arr = synth.image_pixels(j, w, h, j * 409 + 11)
        lat0 = 20.0 + 0.08 * j
        y0, y1 = R * np.radians(lat0), R * np.radians(lat0 + 0.9)
        x0 = R * np.radians(30.0 + 0.06 * j) * np.cos(np.radians(lat0))
        gt = [x0, 1.0e5 / w, 0.0, y1, 0.0, -(y1 - y0) / h]
        ext = crs_mod.transform_extent(
            "SINU", "EPSG:4326", (x0, y0, x0 + 1.0e5, y1))
        rows.append({"image_id": f"sinu{j}",
                     "bytes": bytearray(codecs.encode(arr, "png")),
                     "fmt": "png", "w": w, "h": h, "crs": "SINU",
                     "minx": ext[0], "miny": ext[1],
                     "maxx": ext[2], "maxy": ext[3], "gt": gt})
    imgs = spark.createDataFrame(pd.DataFrame(rows))

    for refine in (False, True):
        def run(**kw):
            return {r["tile_tag"]: (bytes(r["data"]), r["n_images"],
                                    r["painted"])
                    for r in mosaic.tile_cut(
                        imgs, nodata=0.0, src_crs_col="crs",
                        footprint_refine=refine, **kw).collect()}

        base = run()
        assert sum(p for _b, _n, p in base.values()) > 0
        assert max(n for _b, n, _p in base.values()) >= 4  # genuinely hot
        assert run(salt_buckets=3) == base
        assert run(salt_buckets=3, salt_threshold=2) == base


def test_tile_cut_sinu_grid_salted_byte_identical(spark):
    """Round-4 verdict case (b): on a non-4326 (SINU) grid, salted
    same-CRS sources must NOT pick up a spurious 4326->SINU transform —
    salted output byte-identical to unsalted."""
    g = TileGrid(image_size=100, cell_size=1000.0, is_geog=False,
                 crs="SINU")
    rows = []
    for j in range(5):
        w, h = 60, 60
        arr = synth.image_pixels(j, w, h, j * 271 + 5)
        minx = 1.0e6 + 9.0e3 * j
        maxy = 2.0e6 - 7.0e3 * j
        rows.append({"image_id": f"m{j}",
                     "bytes": bytearray(codecs.encode(arr, "png")),
                     "fmt": "png", "w": w, "h": h,
                     "minx": minx, "miny": maxy - 6.0e4,
                     "maxx": minx + 6.0e4, "maxy": maxy,
                     "gt": [minx, 6.0e4 / w, 0.0, maxy, 0.0, -6.0e4 / h]})
    imgs = spark.createDataFrame(pd.DataFrame(rows))

    def run(**kw):
        return {r["tile_tag"]: (bytes(r["data"]), r["painted"])
                for r in mosaic.tile_cut(imgs, grid=g, nodata=0.0,
                                         **kw).collect()}

    base = run()
    assert sum(p for _b, p in base.values()) > 0
    assert run(salt_buckets=3) == base
    assert run(salt_buckets=3, salt_threshold=1) == base


def test_tile_cut_tif_payload_rows(spark):
    """S1/S2 + GeoTIFF: rows whose payload is LZW+predictor-2 tiled
    GeoTIFF flow through tile_cut exactly like PNG rows — the mosaic from
    a mixed tif/png table is byte-identical to the all-png run (tif is
    lossless)."""
    def rows(fmt_for):
        out = []
        for j in range(6):
            arr = synth.image_pixels(j, 50, 50, j * 131 + 7)
            fmt = fmt_for(j)
            minx, maxy = 70.1 + 0.04 * j, -30.2 - 0.04 * j
            out.append({"image_id": f"i{j}",
                        "bytes": bytearray(codecs.encode(arr, fmt)),
                        "fmt": fmt, "w": 50, "h": 50,
                        "minx": minx, "miny": maxy - 0.5,
                        "maxx": minx + 0.5, "maxy": maxy,
                        "gt": [minx, 0.01, 0.0, maxy, 0.0, -0.01]})
        return out

    def run(fmt_for):
        df = spark.createDataFrame(pd.DataFrame(rows(fmt_for)))
        return {r["tile_tag"]: (bytes(r["data"]), r["painted"])
                for r in mosaic.tile_cut(df, nodata=0.0).collect()}

    all_png = run(lambda j: "png")
    mixed = run(lambda j: "tif" if j % 2 == 0 else "png")
    assert mixed == all_png and len(all_png) > 0
    assert sum(p for _b, p in all_png.values()) > 0


def test_expand_tiff_meta_drives_tile_cut(spark):
    """S1 parity: the catalog is derived FROM GeoTIFF payloads (dims, gt,
    CRS GeoKeys read map-side) — expand_tiff_meta rows feed
    tile_cut(src_crs_col='crs') and produce tiles byte-identical to the
    hand-carried-columns pipeline, including a cross-CRS (SINU) source."""
    from geo_raster_spark import crs as crs_mod, tiff
    from geo_raster_spark.sources import catalog as cat

    explicit_rows, payload_rows = [], []
    # 3 geographic sources + 1 SINU-meters source
    for j in range(3):
        arr = synth.image_pixels(j, 40, 40, j * 131 + 7)
        minx, maxy = 10.1 + 0.3 * j, 40.2 - 0.2 * j
        gt = [minx, 0.01, 0.0, maxy, 0.0, -0.01]
        common = {"image_id": f"g{j}", "fmt": "tif"}
        explicit_rows.append({**common,
                              "bytes": bytearray(tiff.encode_tiff(arr)),
                              "w": 40, "h": 40, "gt": gt, "crs": "EPSG:4326",
                              "minx": minx, "miny": maxy - 0.4,
                              "maxx": minx + 0.4, "maxy": maxy})
        payload_rows.append({**common,
                             "bytes": bytearray(tiff.encode_tiff(
                                 arr, gt=gt, crs="EPSG:4326"))})
    R = 6371007.181
    y0, y1 = R * np.radians(20.0), R * np.radians(20.9)
    x0 = R * np.radians(30.0) * np.cos(np.radians(20.45))
    w, h = 60, 70
    arr = synth.image_pixels(9, w, h, 4242)
    sgt = [x0, 1.0e5 / w, 0.0, y1, 0.0, -(y1 - y0) / h]
    ext = crs_mod.transform_extent("SINU", "EPSG:4326",
                                   (x0, y0, x0 + 1.0e5, y1))
    explicit_rows.append({"image_id": "s0", "fmt": "tif",
                          "bytes": bytearray(tiff.encode_tiff(arr)),
                          "w": w, "h": h, "gt": sgt, "crs": "SINU",
                          "minx": ext[0], "miny": ext[1],
                          "maxx": ext[2], "maxy": ext[3]})
    payload_rows.append({"image_id": "s0", "fmt": "tif",
                         "bytes": bytearray(tiff.encode_tiff(
                             arr, gt=sgt, crs="SINU"))})

    derived = cat.expand_tiff_meta(
        spark.createDataFrame(pd.DataFrame(payload_rows)))
    got_meta = {r["image_id"]: r.asDict() for r in derived.collect()}
    for e in explicit_rows:
        m = got_meta[e["image_id"]]
        assert (m["w"], m["h"], m["crs"]) == (e["w"], e["h"], e["crs"])
        np.testing.assert_allclose(m["gt"], e["gt"], rtol=0, atol=1e-9)
        np.testing.assert_allclose(
            [m["minx"], m["miny"], m["maxx"], m["maxy"]],
            [e["minx"], e["miny"], e["maxx"], e["maxy"]], rtol=0, atol=1e-9)

    def tiles(df):
        return {r["tile_tag"]: (bytes(r["data"]), r["painted"])
                for r in mosaic.tile_cut(df, nodata=0.0,
                                         src_crs_col="crs").collect()}

    want = tiles(spark.createDataFrame(pd.DataFrame(explicit_rows)))
    got = tiles(derived)
    assert got == want and len(want) > 0
    assert sum(p for _b, p in want.values()) > 0


def test_tile_cut_out_fmt_tif(spark):
    """S2/S3 parity: out_fmt='tif' tiles are self-describing GeoTIFFs —
    pixels identical to the PNG run, geotransform and grid CRS read back
    from the payload itself, reference creation options in the tags."""
    from geo_raster_spark import tiff
    rows = []
    for j in range(4):
        arr = synth.image_pixels(j, 50, 50, j * 131 + 7)
        minx, maxy = 70.1 + 0.04 * j, -30.2 - 0.04 * j
        rows.append({"image_id": f"i{j}",
                     "bytes": bytearray(codecs.encode(arr, "png")),
                     "fmt": "png", "w": 50, "h": 50,
                     "minx": minx, "miny": maxy - 0.5,
                     "maxx": minx + 0.5, "maxy": maxy,
                     "gt": [minx, 0.01, 0.0, maxy, 0.0, -0.01]})
    imgs = spark.createDataFrame(pd.DataFrame(rows))
    png_tiles = {r["tile_tag"]: r for r in
                 mosaic.tile_cut(imgs, nodata=0.0).collect()}
    tif_tiles = {r["tile_tag"]: r for r in
                 mosaic.tile_cut(imgs, nodata=0.0, out_fmt="tif").collect()}
    assert set(png_tiles) == set(tif_tiles) and len(tif_tiles) > 0
    for tag, t in tif_tiles.items():
        data = bytes(t["data"])
        np.testing.assert_array_equal(
            tiff.decode_tiff(data),
            codecs.decode_png(bytes(png_tiles[tag]["data"])))
        np.testing.assert_allclose(tiff.read_geo(data), list(t["gt"]),
                                   rtol=0, atol=1e-12)
        assert tiff.read_crs(data) == "EPSG:4326"
        tags, _ = tiff._read_ifd(data)
        assert tags[259] == [5] and tags[317] == [2] and 322 in tags
    # salted path emits the same tif payloads
    salted = {r["tile_tag"]: bytes(r["data"]) for r in
              mosaic.tile_cut(imgs, nodata=0.0, out_fmt="tif",
                              salt_buckets=3).collect()}
    assert salted == {k: bytes(v["data"]) for k, v in tif_tiles.items()}
    import pytest as _pt
    with _pt.raises(ValueError, match="out_fmt"):
        mosaic.tile_cut(imgs, out_fmt="bmp")


def test_write_tile_files_layout_and_resume(spark, tmp_path):
    """The reference's on-disk tile output contract: data/<h>/<v>/<hv>/
    <hv>_<t>.tif + JSON .met sidecar, .met-written-last resume (a tile
    with no .met is redone; one with .met is skipped), and the inverse
    binaryFile re-ingest round-trips payloads + metadata."""
    import json as _json
    import os as _os
    from geo_raster_spark import tiff
    from geo_raster_spark.sources import tile_store

    rows = []
    for j in range(4):
        arr = synth.image_pixels(j, 50, 50, j * 131 + 7)
        minx, maxy = -10.1 + 3.0 * j, 20.2
        rows.append({"image_id": f"i{j}",
                     "bytes": bytearray(codecs.encode(arr, "png")),
                     "fmt": "png", "w": 50, "h": 50,
                     "minx": minx, "miny": maxy - 0.5,
                     "maxx": minx + 0.5, "maxy": maxy,
                     "gt": [minx, 0.01, 0.0, maxy, 0.0, -0.01]})
    tiles = mosaic.tile_cut(spark.createDataFrame(pd.DataFrame(rows)),
                            nodata=0.0, out_fmt="tif")
    d = str(tmp_path / "out")
    res = tile_store.write_tile_files(tiles, d, t="lc2020")
    n = tiles.count()
    assert res == {"written": n, "skipped": 0} and n > 0

    # layout + sidecar contents
    one = tiles.collect()[0]
    h, v = "h%03d" % one["tile_col"], "v%03d" % one["tile_row"]
    base = _os.path.join(d, "data", h, v, h + v, f"{h}{v}_lc2020")
    assert _os.path.exists(base + ".tif") and _os.path.exists(base + ".met")
    met = _json.load(open(base + ".met"))
    assert met["tile"] == one["tile_tag"]
    assert met["painted"] == one["painted"]
    info = tiff.read_info(open(base + ".tif", "rb").read())
    np.testing.assert_allclose(info.gt, list(one["gt"]), atol=1e-12)

    # resume: everything skips; removing ONE .met redoes exactly that tile
    assert tile_store.write_tile_files(tiles, d, t="lc2020") \
        == {"written": 0, "skipped": n}
    _os.remove(base + ".met")
    assert tile_store.write_tile_files(tiles, d, t="lc2020") \
        == {"written": 1, "skipped": n - 1}

    # inverse scan round-trips
    back = {r["tile_tag"]: r for r in
            tile_store.read_tile_files(spark, d, t="lc2020").collect()}
    want = {r["tile_tag"]: r for r in tiles.collect()}
    assert set(back) == set(want)
    for tag in want:
        assert bytes(back[tag]["data"]) == bytes(want[tag]["data"])
        assert back[tag]["painted"] == want[tag]["painted"]


def test_tile_cut_out_dtype_wide_pixels(spark):
    """out_dtype: 16-bit (DEM/thermal) and float32 tiles — values above
    255 survive (16-bit PNG and TIFF), float32 keeps fractions (TIFF),
    and the uint8 default would have clipped them."""
    from geo_raster_spark import tiff
    rows = []
    for j in range(3):
        arr = (synth.image_pixels(j, 40, 40, j * 131 + 7)
               .astype(np.uint16) * 150 + 1000)   # values ~1000..39250
        minx, maxy = 100.1 + 0.5 * j, 10.2
        rows.append({"image_id": f"d{j}",
                     "bytes": bytearray(codecs.encode_npy(arr)),
                     "fmt": "npy", "w": 40, "h": 40,
                     "minx": minx, "miny": maxy - 0.4,
                     "maxx": minx + 0.4, "maxy": maxy,
                     "gt": [minx, 0.01, 0.0, maxy, 0.0, -0.01]})
    imgs = spark.createDataFrame(pd.DataFrame(rows))

    t16png = mosaic.tile_cut(imgs, nodata=0.0, out_dtype="uint16").collect()
    t16tif = mosaic.tile_cut(imgs, nodata=0.0, out_dtype="uint16",
                             out_fmt="tif").collect()
    ftif = mosaic.tile_cut(imgs, nodata=0.0, out_dtype="float32",
                           out_fmt="tif").collect()
    by_png = {r["tile_tag"]: r for r in t16png}
    by_f = {r["tile_tag"]: r for r in ftif}
    assert len(t16tif) == len(t16png) > 0
    saw_wide = False
    for r in t16tif:
        a_tif = tiff.decode_tiff(bytes(r["data"]))
        assert a_tif.dtype == np.uint16
        a_png = codecs.decode_png(bytes(by_png[r["tile_tag"]]["data"]))
        np.testing.assert_array_equal(a_tif, a_png)
        a_f = tiff.decode_tiff(bytes(by_f[r["tile_tag"]]["data"]))
        assert a_f.dtype == np.float32
        np.testing.assert_array_equal(a_f[a_f != 0].astype(np.uint16),
                                      a_tif[a_tif != 0])
        saw_wide = saw_wide or bool((a_tif > 255).any())
    assert saw_wide, "fixture must exercise >8-bit values"
    import pytest as _pt
    with _pt.raises(ValueError, match="float32"):
        mosaic.tile_cut(imgs, out_dtype="float32")     # png can't
    with _pt.raises(ValueError, match="out_dtype"):
        mosaic.tile_cut(imgs, out_dtype="int64")


def test_tif_tiles_flow_through_overviews_and_stack(spark):
    """Downstream consumers are format-agnostic (payload sniffing): a
    GeoTIFF tile product feeds overviews and temporal stacking with
    results identical to the PNG product."""
    from geo_raster_spark.operators import overviews as ov, stack as stk

    def tiles(out_fmt):
        rows = []
        for j in range(4):
            arr = synth.image_pixels(j, 50, 50, j * 131 + 7)
            minx, maxy = 40.1 + 0.3 * j, -10.2
            rows.append({"image_id": f"i{j}",
                         "bytes": bytearray(codecs.encode(arr, "png")),
                         "fmt": "png", "w": 50, "h": 50,
                         "minx": minx, "miny": maxy - 0.5,
                         "maxx": minx + 0.5, "maxy": maxy,
                         "gt": [minx, 0.01, 0.0, maxy, 0.0, -0.01]})
        return mosaic.tile_cut(spark.createDataFrame(pd.DataFrame(rows)),
                               nodata=0.0, out_fmt=out_fmt)

    png_t, tif_t = tiles("png"), tiles("tif")

    def ov_sig(t):
        return {(r["tile_tag"], r["level"]): (r["painted"], bytes(r["data"]))
                for r in ov.build_overviews(t, levels=2).collect()}
    assert ov_sig(tif_t) == ov_sig(png_t) and len(ov_sig(png_t)) > 0

    def stack_sig(t):
        df = t.withColumn("epoch", F.lit(0))
        return {r["tile_tag"]: (r["painted"], r["val_sum"])
                for r in stk.pixel_stack_stats(df, stat="median",
                                               nodata=0.0).collect()}
    assert stack_sig(tif_t) == stack_sig(png_t) and len(stack_sig(png_t)) > 0


def test_combine_bands_rgb_tiles(spark):
    """N-band stacked save: per-band tile rows combine into one RGB tile
    (PNG and GeoTIFF), planes matching the per-band tiles exactly."""
    from geo_raster_spark import tiff
    rows = []
    for j in range(2):
        rgb = synth.image_pixels_rgb(j, 50, 50, j * 409 + 3)
        minx, maxy = -40.1 + 0.3 * j, 5.2
        for b in range(3):
            rows.append({"image_id": f"i{j}", "band": b,
                         "bytes": bytearray(codecs.encode_png(rgb[:, :, b])),
                         "fmt": "png", "w": 50, "h": 50,
                         "minx": minx, "miny": maxy - 0.5,
                         "maxx": minx + 0.5, "maxy": maxy,
                         "gt": [minx, 0.01, 0.0, maxy, 0.0, -0.01]})
    imgs = spark.createDataFrame(pd.DataFrame(rows))
    per_band = mosaic.tile_cut(imgs, nodata=0.0, band_col="band")
    bt = {(r["tile_tag"], r["band"]): codecs.decode_png(bytes(r["data"]))
          for r in per_band.collect()}

    for fmt, dec in (("png", codecs.decode_png), ("tif", tiff.decode_tiff)):
        kw = {"grid": TileGrid()} if fmt == "tif" else {}
        out = {r["tile_tag"]: r for r in
               mosaic.combine_bands(per_band, out_fmt=fmt, **kw).collect()}
        assert len(out) > 0
        for tag, r in out.items():
            rgb = dec(bytes(r["data"]))
            assert rgb.shape[-1] == 3
            for b in range(3):
                np.testing.assert_array_equal(rgb[:, :, b], bt[(tag, b)])
        if fmt == "tif":
            one = next(iter(out.values()))
            assert tiff.read_crs(bytes(one["data"])) == "EPSG:4326"
    import pytest as _pt
    with _pt.raises(Exception, match="missing band"):
        mosaic.combine_bands(per_band.where(F.col("band") != 1)).collect()
    # tif products embed the grid CRS — defaulting it would stamp
    # EPSG:4326 onto tiles cut on any other grid (advice r5)
    with _pt.raises(ValueError, match="requires grid="):
        mosaic.combine_bands(per_band, out_fmt="tif")


def test_tile_cut_tif_opts_deflate(spark):
    """tif_opts forwards creation options: deflate tiles decode to the
    same pixels as the default-LZW tiles on plain AND salted paths."""
    from geo_raster_spark import tiff
    rows = []
    for j in range(4):
        arr = synth.image_pixels(j, 50, 50, j * 131 + 7)
        minx, maxy = 120.1 + 0.04 * j, 30.2
        rows.append({"image_id": f"i{j}",
                     "bytes": bytearray(codecs.encode(arr, "png")),
                     "fmt": "png", "w": 50, "h": 50,
                     "minx": minx, "miny": maxy - 0.5,
                     "maxx": minx + 0.5, "maxy": maxy,
                     "gt": [minx, 0.01, 0.0, maxy, 0.0, -0.01]})
    imgs = spark.createDataFrame(pd.DataFrame(rows))

    def pixels(**kw):
        return {r["tile_tag"]: tiff.decode_tiff(bytes(r["data"])).tobytes()
                for r in mosaic.tile_cut(imgs, nodata=0.0, out_fmt="tif",
                                         **kw).collect()}

    base = pixels()
    defl = pixels(tif_opts={"compression": "deflate"})
    defl_salted = pixels(tif_opts={"compression": "deflate"}, salt_buckets=2)
    assert defl == base == defl_salted and len(base) > 0


def test_wide_dtype_tiles_through_consumers_and_band_files(spark):
    """Round-5 review closures: (a) uint16 tile products keep their range
    through overviews/stack/focal (16-bit PNG outputs, no mod-256 wrap or
    255 saturation); (b) float32 products are refused loudly by the
    PNG-emitting consumers; (c) write_tile_files with band_col gives each
    band its own file (no silent collision)."""
    from geo_raster_spark.operators import overviews as ov, stack as stk
    from geo_raster_spark.sources import tile_store

    rows = []
    for j in range(3):
        arr = (synth.image_pixels(j, 40, 40, j * 131 + 7)
               .astype(np.uint16) * 150 + 1000)
        minx, maxy = -150.1 + 0.3 * j, -40.2
        rows.append({"image_id": f"d{j}",
                     "bytes": bytearray(codecs.encode_npy(arr)),
                     "fmt": "npy", "w": 40, "h": 40,
                     "minx": minx, "miny": maxy - 0.4,
                     "maxx": minx + 0.4, "maxy": maxy,
                     "gt": [minx, 0.01, 0.0, maxy, 0.0, -0.01]})
    imgs = spark.createDataFrame(pd.DataFrame(rows))
    t16 = mosaic.tile_cut(imgs, nodata=0.0, out_dtype="uint16")

    ov_rows = ov.build_overviews(t16, levels=1).collect()
    assert any(codecs.decode_png(bytes(r["data"])).max() > 255
               for r in ov_rows if r["painted"]), "overviews kept 16-bit range"
    st_rows = stk.pixel_stack_stats(t16.withColumn("epoch", F.lit(0)),
                                    stat="median", nodata=0.0).collect()
    assert any(codecs.decode_png(bytes(r["data"])).max() > 255
               for r in st_rows if r["painted"]), "stack kept 16-bit range"

    f32 = mosaic.tile_cut(imgs, nodata=0.0, out_dtype="float32",
                          out_fmt="tif")
    import pytest as _pt
    with _pt.raises(Exception, match="PNG"):
        ov.build_overviews(f32, levels=1).collect()

    # (c) band files don't collide
    brows = []
    for b in range(2):
        brows.append({"image_id": "i0", "band": b,
                      "bytes": bytearray(codecs.encode_png(
                          synth.image_pixels(b, 40, 40, 7 + b))),
                      "fmt": "png", "w": 40, "h": 40,
                      "minx": -150.1, "miny": -40.6,
                      "maxx": -149.7, "maxy": -40.2,
                      "gt": [-150.1, 0.01, 0.0, -40.2, 0.0, -0.01]})
    btiles = mosaic.tile_cut(spark.createDataFrame(pd.DataFrame(brows)),
                             nodata=0.0, band_col="band")
    import tempfile, os as _os, glob as _glob
    d = tempfile.mkdtemp(prefix="gsr_bands_")
    with _pt.raises(Exception, match="band_col"):
        tile_store.write_tile_files(btiles, d)
    res = tile_store.write_tile_files(btiles, d, band_col="band")
    n_rows = btiles.count()
    assert res["written"] == n_rows
    assert len(_glob.glob(_os.path.join(d, "data", "*", "*", "*",
                                        "*_b*.tif"))) == n_rows


def test_mixed_dtype_children_raise_in_overviews_and_stack(spark):
    """Advice r5: a parent group mixing uint8 and uint16 children must
    fail loudly — last-decoded-wins would pick an arbitrary re-encode
    dtype (and the stack analog, per epoch)."""
    from geo_raster_spark import tiff
    from geo_raster_spark.operators import overviews as ov, stack as stk

    a8 = synth.image_pixels(0, 100, 100, 0x61)
    a16 = a8.astype(np.uint16) * 200
    gt = [-10.0, 0.01, 0.0, 10.0, 0.0, -0.01]
    rows = [
        {"tile_tag": "h170v080", "tile_col": 170, "tile_row": 80,
         "width": 100, "height": 100, "gt": gt, "epoch": 0,
         "data": bytearray(codecs.encode_png(a8)), "painted": 1,
         "n_images": 1},
        {"tile_tag": "h171v080", "tile_col": 171, "tile_row": 80,
         "width": 100, "height": 100, "gt": gt, "epoch": 1,
         "data": bytearray(tiff.encode_tiff(a16)), "painted": 1,
         "n_images": 1},
    ]
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    g = TileGrid(image_size=100)
    with pytest.raises(Exception, match="mixed dtypes"):
        ov.build_overviews(tiles, levels=1, grid=g).collect()
    from geo_raster_spark.operators import stack as _stk
    same_tag = tiles.withColumn("tile_tag", F.lit("h170v080"))
    with pytest.raises(Exception, match="mixed dtypes"):
        _stk.pixel_stack_stats(same_tag, stat="median", nodata=0.0).collect()
