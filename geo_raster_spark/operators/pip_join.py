"""Broadcast point-in-polygon join (SURVEY.md §2.3 J1).

The reference routes each point through a linear scan of catalog footprints
with a one-element memo [ref: mod/geo_raster_ex_c.pyx:995-1066].  Spark-first
design (north star):

1. **cell prefilter** — every zone polygon is covered by DGGS cells
   (driver-side, zones are small); points carry their center cell as a
   column.  The candidate set is a **broadcast hash join** on ``cell`` —
   no shuffle of the billion-row probe side at all.
2. **exact refine** — a vectorized even-odd ray cast inside ``mapInPandas``
   over Arrow batches, zone rings shipped once per executor via a Spark
   broadcast variable (the ``last_band`` memo generalized).

Skew: a hot zone fans out over MANY cells, so its candidates spread across
all partitions of the probe side — no salting needed for the broadcast
plan.  (Salting helpers live in ``tile_assign`` for shuffle-join variants.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import dggs, geometry
from ..dggs import DEFAULT_RES


def _ring_edges_literal(rings) -> list:
    """Ring part(s) -> flat list of edge dicts for an array<struct> literal.

    Multiple disjoint parts (an antimeridian-split zone) concatenate into
    ONE edge array: the even-odd crossing count over the union of closed
    rings is odd exactly when the point is inside some part."""
    out = []
    for ring in rings:
        r = geometry.ring_close(np.asarray(ring, dtype=np.float64))
        out.extend({"x0": float(r[i, 0]), "y0": float(r[i, 1]),
                    "x1": float(r[i + 1, 0]), "y1": float(r[i + 1, 1])}
                   for i in range(len(r) - 1))
    return out


def _pip_expr(edges_col, lon, lat):
    """Even-odd ray cast as a JVM higher-order function: crossing count over
    the zone's edge array is odd.  Identical boundary convention to
    ``geometry.points_in_ring`` (same formula, same IEEE ops) — so the SQL
    and NumPy paths agree bit-for-bit."""
    def crosses(e):
        cond = (e["y0"] > lat) != (e["y1"] > lat)
        xint = e["x0"] + (lat - e["y0"]) * (e["x1"] - e["x0"]) / (e["y1"] - e["y0"])
        return cond & (lon < xint)
    return F.size(F.filter(edges_col, crosses)) % 2 == 1


def pip_join(points: DataFrame, zones_pdf: pd.DataFrame,
             lon_col: str = "lon", lat_col: str = "lat",
             cell_col: str = "cell", res: int = DEFAULT_RES,
             keep_zone_name: bool = True, engine: str = "sql",
             broadcast: bool = True, adaptive_levels: int = 0) -> DataFrame:
    """points ⋈ zones where the point lies inside the zone polygon.

    ``points`` must already carry ``cell_col`` (use
    ``operators.footprint.with_footprint``).  Returns the input columns +
    ``zone_id`` (+ ``zone_name``).  A point inside multiple overlapping
    zones yields one row per zone (join semantics).

    ``engine='sql'`` (default): the exact refine runs as a JVM higher-order
    expression over the zone's broadcast edge array — zero Python in the
    pipeline, whole-stage codegen end to end.  Interior (FULL) cells skip
    even that via the labeled cover.
    ``engine='pandas'``: Arrow-batch NumPy ray cast (the general path for
    zone sets too large/complex to ship as expression literals).

    ``broadcast=False``: for zone sets whose cover no longer fits a
    broadcast (10^6+ zones) — the cell match becomes a plain shuffle
    equi-join on the int64 ``cell`` key (bounded, well-distributed; AQE
    splits hot cells), per SCALE.md.

    ``adaptive_levels > 0``: multi-resolution cover — FULL interior cells
    coalesce up to ``adaptive_levels`` parent levels
    (``dggs.polygon_cover_adaptive``), shrinking a hot zone's broadcast
    rows ~4x per level; the probe joins on its ancestor id at each level
    (map-side explode, ``levels+1`` hash probes per point against a much
    smaller table).  Results identical — asserted in tests."""
    spark = points.sparkSession
    cover_pdf_rows = []
    rings = {}
    res_min = res
    for _, z in zones_pdf.iterrows():
        ring = geometry.wkb_to_ring(z["geometry"])
        # dateline-crossing zones become a list of in-range parts; the
        # cover (split-aware itself) and both refine engines handle parts
        rings[int(z["zone_id"])] = geometry.split_ring_antimeridian(ring)
        if adaptive_levels:
            cells, full, rm = dggs.polygon_cover_adaptive(ring, res,
                                                          adaptive_levels)
            res_min = min(res_min, rm)
        else:
            cells, full = dggs.polygon_cover_labeled(ring, res)
        for c, f in zip(cells, full):
            cover_pdf_rows.append((int(c), int(z["zone_id"]), bool(f)))
    cover_pdf = pd.DataFrame(cover_pdf_rows, columns=["cell", "zone_id", "full"])

    if adaptive_levels:
        from .. import functions as gf
        # probe key = the point's ancestor cell at every cover level; the
        # per-zone cover regions are disjoint, so a point still matches at
        # most one cover row per zone
        points = points.withColumn("_jcell", F.explode(F.array(*[
            gf.geocell_parent(F.col(cell_col), res, r)
            for r in range(res_min, res + 1)])))
        join_key = "_jcell"
    else:
        join_key = cell_col

    if engine == "sql":
        # two tiny broadcasts: (cell -> zone, full) + (zone -> edge array);
        # the refine is a JVM expression, evaluated ONLY for boundary cells
        # via when(full) so interior candidates never touch the edges
        edge_type = ("array<struct<x0:double,y0:double,x1:double,y1:double>>")
        cover = spark.createDataFrame(
            cover_pdf, schema="cell long, zone_id int, full boolean")
        edges = spark.createDataFrame(
            pd.DataFrame({"zone_id": list(rings),
                          "edges": [_ring_edges_literal(r) for r in rings.values()]}),
            schema=f"zone_id int, edges {edge_type}")
        cov = F.broadcast(cover) if broadcast else cover
        cand = (points.join(cov, points[join_key] == cover["cell"], "inner")
                      .drop(cover["cell"])
                      .join(F.broadcast(edges), "zone_id"))
        if adaptive_levels:
            cand = cand.drop("_jcell")
        inside = F.when(F.col("full"), F.lit(True)).otherwise(
            _pip_expr(F.col("edges"), F.col(lon_col), F.col(lat_col)))
        refined = cand.where(inside).drop("full", "edges")
    else:
        cover = spark.createDataFrame(cover_pdf)
        cov = F.broadcast(cover) if broadcast else cover
        cand = points.join(cov, points[join_key] == cover["cell"], "inner") \
                     .drop(cover["cell"])
        if adaptive_levels:
            cand = cand.drop("_jcell")
        accepted = cand.where(F.col("full")).drop("full")
        boundary = cand.where(~F.col("full")).drop("full")
        bc = spark.sparkContext.broadcast(rings)
        out_schema = boundary.schema

        def refine(batches):
            zr = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                lons = pdf[lon_col].to_numpy(np.float64)
                lats = pdf[lat_col].to_numpy(np.float64)
                zids = pdf["zone_id"].to_numpy()
                keep = np.zeros(len(pdf), dtype=bool)
                for zid in np.unique(zids):
                    sel = zids == zid
                    hit = np.zeros(int(sel.sum()), dtype=bool)
                    for part in zr[int(zid)]:
                        hit |= geometry.points_in_ring(part, lons[sel], lats[sel])
                    keep[sel] = hit
                yield pdf[keep]

        refined = accepted.unionByName(boundary.mapInPandas(refine, schema=out_schema))

    if keep_zone_name:
        names = spark.createDataFrame(zones_pdf[["zone_id", "name"]]) \
                     .withColumnRenamed("name", "zone_name")
        refined = refined.join(F.broadcast(names), "zone_id", "left")
    return refined
