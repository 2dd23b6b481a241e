"""Deterministic synthetic data: the ``images`` table + ``zones`` polygons.

Everything derives from public formulas + seeds (FIXTURES.md §1-§2).  No
external data.  The ``images`` schema is fixed by BASELINE.json
``input_hint``::

    image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
    caption:string, phash:int64

Per-image placement derives from ``phash = splitmix64(i)``:
``lon = -180 + 360*u1``, ``lat = -60 + 120*u2``; the footprint is the
axis-aligned box of ``w x h`` cells at cell_size 0.01° centered there —
mirroring the reference's per-file footprint catalog
[ref: mod/geo_raster_ex_c.pyx:843-988].

Generation is available in two forms:
- ``images_pandas(n)``: driver-side, for unit tests;
- ``write_images(spark, n, path)``: distributed via ``spark.range`` +
  ``mapInPandas`` so a 10^12-row table would generate cluster-parallel with
  no driver bottleneck.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import codecs, geometry

CELL_SIZE = 0.01  # degrees per pixel for synthetic footprints

_W_CYCLE = np.array([32, 64, 128], dtype=np.int32)
_H_CYCLE = np.array([32, 64, 96], dtype=np.int32)
_FMT_CYCLE = ["png", "jpeg", "npy"]

_U64 = np.uint64


def splitmix64(x):
    """The public SplitMix64 mix function, vectorized over uint64 arrays."""
    z = (np.asarray(x, dtype=_U64) + _U64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    return z ^ (z >> _U64(31))


def _unit(h, salt):
    """Deterministic uniform [0,1) keyed by (h, salt).

    Uses the TOP 53 bits so the int->double conversion is EXACT — this is
    what makes the NumPy twin and the Spark column twin bit-identical
    (converting a full uint64 to double rounds, and the SQL path would
    round a second time when re-adding 2^63, drifting 1 ULP on ~8% of
    values)."""
    return (splitmix64(np.asarray(h, dtype=_U64) ^ _U64(salt)) >> _U64(11)).astype(np.float64) / 2.0 ** 53


def image_meta(i):
    """Vectorized metadata for image indices ``i`` (no pixel payloads).

    Returns dict of arrays: image_id parts, phash(int64), w, h, fmt index,
    lon, lat, minx/miny/maxx/maxy.
    """
    i = np.asarray(i, dtype=np.int64)
    ph_u = splitmix64(i.astype(_U64))
    phash = ph_u.astype(np.int64)  # two's-complement reinterpretation
    w = _W_CYCLE[i % 3]
    h = _H_CYCLE[(i // 3) % 3]
    lon = -180.0 + 360.0 * _unit(ph_u, 0xA5A5A5A5)
    lat = -60.0 + 120.0 * _unit(ph_u, 0x5A5A5A5A)
    half_w = w.astype(np.float64) * CELL_SIZE / 2
    half_h = h.astype(np.float64) * CELL_SIZE / 2
    return {
        "i": i,
        "phash": phash,
        "w": w,
        "h": h,
        "fmt_idx": (i % 3).astype(np.int64),
        "lon": lon,
        "lat": lat,
        "minx": lon - half_w,
        "miny": lat - half_h,
        "maxx": lon + half_w,
        "maxy": lat + half_h,
    }


def image_pixels(i: int, w: int, h: int, phash_u64: int) -> np.ndarray:
    """Seeded procedural pattern: gradient + per-image sinusoid (uint8)."""
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    f1 = 0.05 + ( (phash_u64 >> 8) & 0xFF) / 1024.0
    f2 = 0.05 + ((phash_u64 >> 16) & 0xFF) / 1024.0
    p0 = (phash_u64 & 0xFF) / 40.0
    base = 128.0 + 60.0 * np.sin(2 * np.pi * f1 * xx + p0) * np.cos(2 * np.pi * f2 * yy)
    grad = 40.0 * (xx / max(w - 1, 1)) + 20.0 * (yy / max(h - 1, 1))
    return np.clip(base + grad, 0, 255).astype(np.uint8)


def image_pixels_rgb(i: int, w: int, h: int, phash_u64: int) -> np.ndarray:
    """(H, W, 3) RGB twin of ``image_pixels``: a shared luma pattern plus
    two salted chroma difference patterns at moderate amplitude —
    deterministic, distinct per band, and band-CORRELATED like real imagery
    (independent bands would mean full-strength high-frequency chroma,
    which no natural image has and which the standard chroma quantization
    table is not built for)."""
    p = int(phash_u64) % 2 ** 64
    base = image_pixels(i, w, h, p).astype(np.float64)
    d1 = image_pixels(i, w, h, (p ^ 0xB1B1) % 2 ** 64).astype(np.float64) - 128.0
    d2 = image_pixels(i, w, h, (p ^ 0xC2C2) % 2 ** 64).astype(np.float64) - 128.0
    amp = 0.25
    r = base + amp * d1
    g = base - 0.5 * amp * d1 + 0.7 * amp * d2
    b = base - amp * d2
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def images_pandas(n: int, start: int = 0, with_bytes: bool = True) -> pd.DataFrame:
    """Driver-side batch of ``n`` image rows starting at index ``start``.

    Metadata is fully vectorized; only the payload encode loops per row."""
    from . import grid

    idx = np.arange(start, start + n, dtype=np.int64)
    m = image_meta(idx)
    g = grid.TileGrid()
    tcol = np.clip(((m["lon"] + g.p) / g.tile_size).astype(np.int64), 0, g.n_cols - 1)
    trow = np.clip(((g.p / 2 - m["lat"]) / g.tile_size).astype(np.int64), 0, g.n_rows - 1)

    image_id = np.char.mod("img%012d", idx)
    fmt = np.array(_FMT_CYCLE)[m["fmt_idx"]]
    tags = np.char.add(np.char.mod("h%03d", tcol), np.char.mod("v%03d", trow))
    caption = np.char.add(
        np.char.add(np.char.mod("synthetic scene %d", idx), " tile "), tags)

    payload = None
    if with_bytes:
        payload = [
            codecs.encode(
                image_pixels(int(idx[k]), int(m["w"][k]), int(m["h"][k]),
                             int(np.uint64(m["phash"][k].astype(np.uint64)))),
                str(fmt[k]))
            for k in range(n)
        ]
    return pd.DataFrame({
        "image_id": image_id,
        "bytes": payload if with_bytes else [None] * n,
        "w": m["w"].astype(np.int32),
        "h": m["h"].astype(np.int32),
        "fmt": fmt,
        "caption": caption,
        "phash": m["phash"],
    })


IMAGES_SCHEMA = ("image_id string, bytes binary, w int, h int, "
                 "fmt string, caption string, phash long")


def images_df(spark, n: int, partitions: int = 32, with_bytes: bool = True,
              start: int = 0):
    """Distributed images table: ``spark.range`` -> ``mapInPandas`` generator.

    Scales linearly with executors — each partition synthesizes its own rows;
    no driver-side materialization (the 10^12-row design path)."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids) == 0:
                continue
            out = images_pandas(len(ids), start=int(ids[0]), with_bytes=with_bytes)
            # spark.range partitions are contiguous, but be safe on ordering
            if not np.array_equal(ids, np.arange(ids[0], ids[0] + len(ids))):
                out = pd.concat([images_pandas(1, start=int(i), with_bytes=with_bytes) for i in ids])
            yield out

    return (spark.range(start, start + n, 1, partitions)
            .mapInPandas(gen, schema=IMAGES_SCHEMA))


def write_images(spark, n: int, path: str, partitions: int = 32):
    images_df(spark, n, partitions).write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# zones — seeded convex polygons (PIP build side), FIXTURES.md §2
# ---------------------------------------------------------------------------

def zones_pandas(n_zones: int = 64, hot: bool = False, seed: int = 42) -> pd.DataFrame:
    """``n_zones`` seeded convex polygons over lon [-180,180], lat [-60,60].

    ``hot=True`` makes zone 0 a giant rectangle covering ~50% of the image
    extent (the skew fixture of SURVEY.md §5.5)."""
    rows = []
    for z in range(n_zones):
        hz = splitmix64(np.array([seed * 1_000_003 + z], dtype=_U64))[0]
        if z == 0 and hot:
            ring = geometry.bbox_to_ring((-180.0, -60.0, 0.0, 60.0))
        else:
            k = 4 + int(hz % _U64(6))                      # 4..9-gon
            hz_arr = np.array([hz], dtype=_U64)
            cx = -170.0 + 340.0 * float(_unit(hz_arr, 1)[0])
            cy = -55.0 + 110.0 * float(_unit(hz_arr, 2)[0])
            rad = 2.0 + 18.0 * float(_unit(hz_arr, 3)[0])
            jit = _unit(splitmix64(np.arange(k, dtype=_U64) + hz), 4)
            ang = 2 * np.pi * (np.arange(k) + 0.3 * jit) / k
            ring = np.stack([cx + rad * np.cos(ang), cy + 0.7 * rad * np.sin(ang)], axis=1)
            ring = geometry.ring_close(ring)
        bb = geometry.ring_bbox(ring)
        rows.append({
            "zone_id": z,
            "name": f"zone{z}",
            "geometry": geometry.ring_to_wkb(ring),
            "minx": bb[0], "miny": bb[1], "maxx": bb[2], "maxy": bb[3],
            "crs": "EPSG:4326",
        })
    return pd.DataFrame(rows)
