"""Property-based tests (hypothesis, derandomized) — SURVEY.md §5's
generative layer over the pure-NumPy core: roundtrips and invariants that
must hold for ALL inputs, not just the fixtures."""

import numpy as np
from hypothesis import given, settings, strategies as st

from geo_raster_spark import codecs, crs, dggs, geometry

SET = settings(max_examples=60, deadline=None, derandomize=True)


@SET
@given(st.integers(0, 2**31 - 1))
def test_png_npy_jpgq_roundtrip_any_image(seed):
    rng = np.random.default_rng(seed)
    h = int(rng.integers(1, 40))
    w = int(rng.integers(1, 40))
    arr = rng.integers(0, 256, (h, w)).astype(np.uint8)
    np.testing.assert_array_equal(codecs.decode(codecs.encode(arr, "png"), "png"), arr)
    np.testing.assert_array_equal(codecs.decode(codecs.encode(arr, "npy"), "npy"), arr)
    stub = codecs.decode(codecs.encode(arr, "jpeg"), "jpeg")
    assert np.abs(stub.astype(int) - arr.astype(int)).max() <= codecs.JPEG_Q
    jfif = codecs.decode(codecs.encode(arr, "jpg"), "jpg")
    assert jfif.shape == arr.shape  # lossy, but dims/type always preserved
    assert jfif.dtype == np.uint8


@SET
@given(st.floats(-179.99, 179.99), st.floats(-89.99, 89.99),
       st.integers(1, 12))
def test_cell_pack_parent_contains_point(lon, lat, res):
    c = int(dggs.latlng_to_cell(lon, lat, res))
    r, col, row = dggs.unpack(c)
    assert int(r) == res
    # the cell's bbox contains the point (up to boundary clamping)
    minx, miny, maxx, maxy = (float(v) for v in dggs.cell_to_bbox(c))
    assert minx - 1e-9 <= lon <= maxx + 1e-9
    assert miny - 1e-9 <= lat <= maxy + 1e-9
    if res > 1:
        p = int(dggs.parent(np.int64(c), res - 1))
        pminx, pminy, pmaxx, pmaxy = (float(v) for v in dggs.cell_to_bbox(p))
        assert pminx <= minx and pmaxx >= maxx and pminy <= miny and pmaxy >= maxy


@SET
@given(st.floats(-360, 360), st.floats(-85, 84),
       st.floats(0.01, 30), st.floats(0.01, 5))
def test_split_bbox_antimeridian_conserves_width(minx, miny, wdt, hgt):
    b = (minx, miny, minx + wdt, miny + hgt)
    parts = geometry.split_bbox_antimeridian(b)
    assert 1 <= len(parts) <= 2
    for p in parts:
        assert -180.0 <= p[0] <= p[2] <= 180.0
        assert p[1] == miny and p[3] == miny + hgt
    assert abs(sum(p[2] - p[0] for p in parts) - min(wdt, 360.0)) < 1e-9


@SET
@given(st.floats(-175, 175), st.floats(-80, 80),
       st.floats(0.5, 20), st.floats(0.5, 20))
def test_split_ring_antimeridian_conserves_area(cx, cy, wdt, hgt):
    ring = geometry.bbox_to_ring((cx, cy - hgt / 2, cx + wdt, cy + hgt / 2))
    parts = geometry.split_ring_antimeridian(ring)
    total = sum(abs(geometry.ring_area(p)) for p in parts)
    np.testing.assert_allclose(total, wdt * hgt, rtol=1e-9)
    for p in parts:
        bb = geometry.ring_bbox(p)
        assert bb[0] >= -180.0 - 1e-9 and bb[2] <= 180.0 + 1e-9


@SET
@given(st.integers(1, 60), st.floats(-179, 179), st.floats(-84, 84))
def test_utm_roundtrip_property(zone, lon, lat):
    # evaluate each zone near its own central meridian (valid use)
    lon0 = zone * 6 - 183
    lon = lon0 + max(min(lon - lon0, 3.0), -3.0)
    for hemi in ("N", "S"):
        E, N = crs.transform("EPSG:4326", f"UTM:{zone}{hemi}",
                             np.array([lon]), np.array([lat]))
        lo, la = crs.transform(f"UTM:{zone}{hemi}", "EPSG:4326", E, N)
        np.testing.assert_allclose(lo, [lon], atol=1e-9)
        np.testing.assert_allclose(la, [lat], atol=1e-9)


@SET
@given(st.floats(-120, -60), st.floats(25, 75))
def test_conic_roundtrips_property(lon, lat):
    for c in ("EPSG:5070", "EPSG:3978"):
        x, y = crs.transform("EPSG:4326", c, np.array([lon]), np.array([lat]))
        lo, la = crs.transform(c, "EPSG:4326", x, y)
        np.testing.assert_allclose(lo, [lon], atol=1e-7)
        np.testing.assert_allclose(la, [lat], atol=1e-7)


@SET
@given(st.integers(0, 2**31 - 1))
def test_pip_shifted_ring_invariance(seed):
    """Membership is invariant under shifting BOTH ring and points by 360°
    (the identity the dateline handling leans on)."""
    rng = np.random.default_rng(seed)
    pts = rng.uniform(-50, 50, (5, 2))
    ring = rng.uniform(-40, 40, (6, 2))
    a = geometry.points_in_ring(ring, pts[:, 0], pts[:, 1])
    r2 = ring.copy()
    r2[:, 0] += 360.0
    b = geometry.points_in_ring(r2, pts[:, 0] + 360.0, pts[:, 1])
    assert (a == b).all()


@settings(deadline=None, derandomize=True, max_examples=40)
@given(st.integers(0, 10_000))
def test_clip_rings_area_matches_monte_carlo(seed):
    """|A ∩ B| from clip_rings equals a dense point-grid estimate of
    |{p : p in A and p in B}| for random simple polygons (one convex-ish
    star, one random box) — the area identity the mosaic trim leans on."""
    from geo_raster_spark import geometry as g
    rng = np.random.default_rng(seed)
    # star polygon: random radii on a sorted angle fan => simple, often
    # concave
    n = int(rng.integers(5, 12))
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(0.5, 3.0, n)
    a = np.column_stack([rad * np.cos(ang), rad * np.sin(ang)])
    xs = np.sort(rng.uniform(-2.5, 2.5, 2))
    ys = np.sort(rng.uniform(-2.5, 2.5, 2))
    b = g.bbox_to_ring((xs[0], ys[0], xs[1], ys[1]))
    got = g.rings_intersection_area(a, b)
    # grid estimate over the bbox of b
    gx = np.linspace(xs[0], xs[1], 140)
    gy = np.linspace(ys[0], ys[1], 140)
    X, Y = np.meshgrid(gx, gy)
    inside = g.points_in_ring(a, X.ravel(), Y.ravel())
    est = inside.mean() * (xs[1] - xs[0]) * (ys[1] - ys[0])
    tol = max(0.06 * max(est, got), 0.02)  # grid discretization error
    assert abs(got - est) <= tol, (got, est)


@SET
@given(st.integers(0, 2**31 - 1))
def test_progressive_equals_baseline_any_image(seed):
    """Progressive decode == baseline decode for ANY image/quality — the
    two entropy layers (sequential vs spectral-selection + successive
    approximation with refinement scans) must converge bit-for-bit."""
    from geo_raster_spark import jpeg
    rng = np.random.default_rng(seed)
    h = int(rng.integers(1, 48))
    w = int(rng.integers(1, 48))
    q = int(rng.integers(20, 99))
    arr = rng.integers(0, 256, (h, w)).astype(np.uint8)
    np.testing.assert_array_equal(
        jpeg.decode(jpeg.encode_progressive(arr, q)),
        jpeg.decode(jpeg.encode(arr, q)))


@SET
@given(st.integers(0, 2**31 - 1))
def test_subsampled_color_roundtrip_any_image(seed):
    """4:2:0/4:2:2 color: dims/dtype always preserved, scalar == vector
    decode, and a CONSTANT-chroma image loses nothing to subsampling
    (its decode matches the 4:4:4 decode exactly)."""
    from geo_raster_spark import jpeg
    from tests.oracles import decode_scalar
    rng = np.random.default_rng(seed)
    h = int(rng.integers(1, 40))
    w = int(rng.integers(1, 40))
    ss = ("420", "422")[int(rng.integers(0, 2))]
    rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    b = jpeg.encode(rgb, 90, subsampling=ss)
    d = jpeg.decode(b)
    assert d.shape == rgb.shape and d.dtype == np.uint8
    np.testing.assert_array_equal(d, decode_scalar(b))
    # constant-chroma content loses nothing to subsampling itself: the
    # decode matches 4:4:4 to within the +-1 quantization jitter (the
    # different pad-to-MCU shapes reorder einsum float sums, which can
    # flip a coefficient rounding exactly at a .5 boundary)
    gray3 = np.repeat(rng.integers(0, 256, (h, w, 1)), 3, axis=2).astype(np.uint8)
    d1 = jpeg.decode(jpeg.encode(gray3, 90, subsampling=ss)).astype(int)
    d2 = jpeg.decode(jpeg.encode(gray3, 90, subsampling="444")).astype(int)
    assert np.abs(d1 - d2).max() <= 1


@SET
@given(st.integers(0, 2**31 - 1))
def test_container_roundtrip_any_datasets(seed):
    """grsc container: any mix of dataset names/formats/shapes round-trips
    exactly; index order and byte offsets always consistent."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 6))
    datasets, truth = {}, {}
    for i in range(n):
        name = f"d{i}_{int(rng.integers(0, 1000))}"
        h = int(rng.integers(1, 24))
        w = int(rng.integers(1, 24))
        arr = rng.integers(0, 256, (h, w)).astype(np.uint8)
        fmt = ("npy", "png")[int(rng.integers(0, 2))]
        datasets[name] = (arr, fmt)
        truth[name] = arr
    payload = codecs.encode_container(datasets)
    idx = codecs.container_index(payload)
    assert set(idx) == set(truth)
    for name, arr in truth.items():
        np.testing.assert_array_equal(
            codecs.decode(payload, f"grsc#{name}"), arr)


@SET
@given(st.integers(0, 2**31 - 1))
def test_tiff_roundtrip_any_config(seed):
    """GeoTIFF: any dims/dtype/layout/compression/predictor combination
    round-trips exactly, and the LZW stream round-trips for any content
    (uniform, repetitive, random)."""
    from geo_raster_spark import tiff
    rng = np.random.default_rng(seed)
    h = int(rng.integers(1, 80))
    w = int(rng.integers(1, 80))
    kind = int(rng.integers(0, 4))
    if kind == 0:
        arr = rng.integers(0, 256, (h, w)).astype(np.uint8)
    elif kind == 1:
        arr = rng.integers(0, 65536, (h, w)).astype(np.uint16)
    elif kind == 2:
        arr = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    else:
        arr = (rng.normal(0, 1000, (h, w))).astype(np.float32)
    comp = ("none", "lzw", "deflate", "packbits")[int(rng.integers(0, 4))]
    pred = (1, 2)[int(rng.integers(0, 2))]
    tiled = bool(rng.integers(0, 2))
    ts = (16, 32, 64)[int(rng.integers(0, 3))]
    rps = int(rng.integers(1, h + 1))
    data = tiff.encode_tiff(arr, compression=comp, predictor=pred,
                            tiled=tiled, tile_size=ts, rows_per_strip=rps)
    back = tiff.decode_tiff(data)
    assert back.dtype == arr.dtype
    np.testing.assert_array_equal(back, arr)


@SET
@given(st.integers(0, 2**31 - 1))
def test_tiff_truncation_fuzz_fails_cleanly(seed):
    """Truncating/corrupting a valid TIFF anywhere yields ValueError or a
    correct decode — never Key/Index/struct errors (executor boundary)."""
    from geo_raster_spark import tiff
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, (21, 33)).astype(np.uint8)
    data = bytearray(tiff.encode_tiff(arr, tiled=bool(seed % 2)))
    mode = int(rng.integers(0, 3))
    if mode == 0:
        data = data[:int(rng.integers(0, len(data)))]
    elif mode == 1:
        for _ in range(int(rng.integers(1, 6))):
            data[int(rng.integers(0, len(data)))] = int(rng.integers(0, 256))
    else:
        cut = int(rng.integers(1, len(data)))
        data = data[cut:]
    try:
        out = tiff.decode_tiff(bytes(data))
        assert isinstance(out, np.ndarray)
    except ValueError:
        pass


@SET
@given(st.binary(max_size=4000))
def test_packbits_roundtrip_any_bytes(data):
    """PackBits encode/decode round-trips for ARBITRARY byte strings, and
    the encoder never expands worse than the spec bound (1 header byte
    per 128 literals, +1 worst case on tiny inputs)."""
    from geo_raster_spark import tiff
    enc = tiff.packbits_encode(data)
    assert tiff.packbits_decode(enc, len(data)) == data
    if data:
        assert len(enc) <= len(data) + (len(data) + 127) // 128 + 1


@settings(max_examples=8, deadline=None, derandomize=True)
@given(st.integers(0, 2**31 - 1))
def test_components_any_graph_matches_union_find(seed):
    """Distributed connected components == union-find for arbitrary
    random graphs (sparse, dense, chains, self-loops, duplicate and
    reversed edges).  One Spark session, many generated graphs — the
    union-find oracle lives in tests/test_components.py."""
    from geo_raster_spark.operators import components as cc
    from geo_raster_spark.session import get_spark
    from tests.test_components import _union_find
    import pandas as pd

    rng = np.random.default_rng(seed)
    n_nodes = int(rng.integers(2, 40))
    n_edges = int(rng.integers(1, 80))
    pairs = [(int(a), int(b))
             for a, b in rng.integers(0, n_nodes, (n_edges, 2))]
    if rng.integers(0, 2):
        pairs += [(i, i + 1) for i in range(100, 100 + int(rng.integers(1, 15)))]
    clean = [(a, b) for a, b in pairs if a != b]
    if not clean:
        return
    want = _union_find(clean)
    spark = get_spark(app_name="cc-prop")
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["id_a", "id_b"]))
    got = {r["node"]: r["root"]
           for r in cc.connected_components(df).collect()}
    assert got == want


@SET
@given(st.integers(0, 2**31 - 1))
def test_ntv2_bilinear_exact_on_random_linear_fields(seed):
    """For ANY linear shift field sampled at the nodes, bilinear
    interpolation must reproduce it exactly (up to float32 node storage)
    at arbitrary interior points — the NTv2 analytic invariant."""
    from geo_raster_spark import ntv2
    from tests.test_ntv2 import build_gsb

    rng = np.random.default_rng(seed)
    s_lat = float(rng.uniform(-80, 60)) * 3600.0
    e_long = float(rng.uniform(-170, 150)) * 3600.0
    lat_inc = float(rng.uniform(300.0, 3600.0))
    long_inc = float(rng.uniform(300.0, 3600.0))
    nrows, ncols = int(rng.integers(2, 12)), int(rng.integers(2, 12))
    a0, a1, a2 = rng.uniform(-3, 3), rng.uniform(-1e-5, 1e-5), \
        rng.uniform(-1e-5, 1e-5)
    b0, b1, b2 = rng.uniform(-3, 3), rng.uniform(-1e-5, 1e-5), \
        rng.uniform(-1e-5, 1e-5)

    def field(lat_sec, lonw_sec):
        return (a0 + a1 * (lat_sec - s_lat) + a2 * (lonw_sec - e_long),
                b0 + b1 * (lat_sec - s_lat) + b2 * (lonw_sec - e_long))

    sub = dict(name="RAND", s_lat=s_lat,
               n_lat=s_lat + (nrows - 1) * lat_inc,
               e_long=e_long, w_long=e_long + (ncols - 1) * long_inc,
               lat_inc=lat_inc, long_inc=long_inc, shift=field)
    g = ntv2.parse_ntv2(build_gsb([sub]))
    # keep a >max-shift margin from the boundary: a forward-shifted point
    # can otherwise exit coverage, where inverse() passes through by
    # contract (uncovered = no shift) — correct behavior, not the
    # invariant under test
    lat_sec = rng.uniform(s_lat + 5.0, sub["n_lat"] - 5.0, 40)
    lonw_sec = rng.uniform(e_long + 5.0, sub["w_long"] - 5.0, 40)
    dlat, dlonw, cov = g.shift(-lonw_sec / 3600.0, lat_sec / 3600.0)
    assert cov.all()
    exp = field(lat_sec, lonw_sec)
    # float32 storage of node values bounds the error; scale with field
    tol = 1e-5 * max(1.0, abs(a0) + abs(b0))
    np.testing.assert_allclose(dlat, exp[0], atol=tol)
    np.testing.assert_allclose(dlonw, exp[1], atol=tol)
    # inverse closes through the same grid
    flon, flat, _ = g.forward(-lonw_sec / 3600.0, lat_sec / 3600.0)
    blon, blat, _ = g.inverse(flon, flat)
    np.testing.assert_allclose(blon, -lonw_sec / 3600.0, atol=1e-8)
    np.testing.assert_allclose(blat, lat_sec / 3600.0, atol=1e-8)


@SET
@given(st.integers(0, 2**31 - 1))
def test_ntv2_truncation_always_raises_cleanly(seed):
    """Any prefix of a valid .gsb either parses (full length) or raises
    ValueError — never an unhandled struct/index error."""
    import pytest

    from geo_raster_spark import ntv2
    from tests.test_ntv2 import _PARENT, build_gsb

    data = build_gsb([_PARENT])
    rng = np.random.default_rng(seed)
    n = int(rng.integers(0, len(data), endpoint=True))
    if n == len(data):
        ntv2.parse_ntv2(data)
    else:
        with pytest.raises(ValueError):
            ntv2.parse_ntv2(data[:n])
