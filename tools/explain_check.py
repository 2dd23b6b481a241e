#!/usr/bin/env python
"""Physical-plan assertions: verify the plans Catalyst actually picks are
the plans the engine was designed around (SURVEY.md §4), and record them.

Checks:
  1. flagship: PIP join is a BroadcastHashJoin; no SortMergeJoin anywhere;
     exactly one shuffle (the final partial agg) on the probe path.
  2. parquet scan: filters + column pruning reach the scan
     (PushedFilters / ReadSchema).
  3. tile assignment: explode(sequence) runs map-side (Generate with no
     Exchange below it).

Writes the captured plans to PLANS.md.  Exits non-zero on violation.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def main():
    from pyspark.sql import functions as F

    from geo_raster_spark import synth
    from geo_raster_spark.operators import footprint, pip_join, tile_assign
    from geo_raster_spark.plans.flagship import flagship, footprint_input
    from geo_raster_spark.session import get_spark

    spark = get_spark(app_name="explain-check")
    spark.sparkContext.setLogLevel("ERROR")

    failures = []
    sections = []

    # 1. flagship plan shape
    zones = synth.zones_pandas(16)
    fl = flagship(footprint_input(spark, 10_000, 8), zones)
    p1 = plan_of(fl)
    sections.append(("Flagship (footprints -> PIP -> tiles -> counts)", p1))
    if "BroadcastHashJoin" not in p1:
        failures.append("flagship: PIP join is not a BroadcastHashJoin")
    if "SortMergeJoin" in p1:
        failures.append("flagship: unexpected SortMergeJoin")
    n_exchange = len(re.findall(r"\bExchange\b", p1))
    # one hashpartitioning exchange for the final agg + broadcast exchanges
    n_shuffle = len(re.findall(r"Exchange hashpartitioning", p1))
    if n_shuffle > 1:
        failures.append(f"flagship: {n_shuffle} shuffles on the probe path (want 1)")

    # 2. scan pushdown
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = (li.where(F.col("l_quantity") > 45)
           .select("l_orderkey", "l_quantity"))
    p2 = plan_of(q)
    sections.append(("Filtered scan (pushdown + pruning)", p2))
    if "PushedFilters: [" not in p2 or "GreaterThan(l_quantity" not in p2:
        failures.append("scan: filter not pushed to parquet")
    m = re.search(r"ReadSchema: ([^\n]+)", p2)
    if m and ("l_extendedprice" in m.group(1) or "l_comment" in m.group(1)):
        failures.append("scan: column pruning failed (extra columns read)")

    # 3. tile assignment is map-side
    ta = tile_assign.assign_tiles(footprint.with_footprint(footprint_input(spark, 10_000, 8)))
    p3 = plan_of(ta)
    sections.append(("Tile assignment (explode/sequence, map-side)", p3))
    if "Generate" not in p3 or "explode(sequence" not in p3:
        failures.append("tile assignment: no explode(sequence) Generate found")
    if "Exchange" in p3:
        failures.append("tile assignment: unexpected shuffle before explode")

    # 4. cosine top-k is a parallel TakeOrderedAndProject, not a global window
    from geo_raster_spark.operators import similarity
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    tk = similarity.cosine_topk(emb, [0.1] * 64, k=5)
    p4 = plan_of(tk)
    sections.append(("Cosine top-k (TakeOrderedAndProject, no global window)", p4))
    if "TakeOrderedAndProject" not in p4:
        failures.append("cosine_topk: no TakeOrderedAndProject (global sort?)")
    if re.search(r"Exchange SinglePartition.*Window", p4, re.S) and \
            p4.index("TakeOrderedAndProject") > p4.index("Window"):
        failures.append("cosine_topk: global Window funnels all rows into one task")

    # 5. zonal stats: candidate join is broadcast; the bytes payload never
    # shuffles (no Exchange below the partials mapInPandas; the only
    # exchange is the terminal 4-doubles-per-pair aggregation)
    from geo_raster_spark.operators import footprint as fp_op, zonal
    imgs5 = fp_op.with_footprint(synth.images_df(spark, 200, 8, with_bytes=True))
    zs = synth.zones_pandas(6, hot=True)
    zq = zonal.zonal_stats(imgs5, zs, nodata=-1.0)
    p5 = plan_of(zq)
    sections.append(("Zonal stats (broadcast candidates, pixels stay put)", p5))
    if "BroadcastHashJoin" not in p5:
        failures.append("zonal: candidate join is not broadcast")
    # the tree prints sink-first: everything after the decode-kernel
    # MapInPandas line is its input subtree, which must hold no shuffle
    tree5 = p5.split("\n\n")[0].splitlines()
    k5 = next((i for i, ln in enumerate(tree5) if "MapInPandas" in ln), None)
    if k5 is None or any("Exchange hashpartitioning" in ln or
                         re.search(r"\bExchange \(", ln)
                         for ln in tree5[k5 + 1:] if "Broadcast" not in ln):
        failures.append("zonal: bytes payload shuffles before the decode kernel")

    # 6. as-of join: union + window, keyed shuffles only — no join node at
    # all (the naive formulation is a range cross-product / nested loop)
    from geo_raster_spark.operators.asof import asof_join
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    aj = asof_join(ev.where(F.col("event_type") == "purchase")
                     .select("event_id", "user_id", "ts", "value"),
                   ev.where(F.col("event_type") == "view")
                     .groupBy("user_id", "ts").agg(F.max("value").alias("v")),
                   value_cols=["v"])
    p6 = plan_of(aj)
    sections.append(("As-of join (union + carry-forward window)", p6))
    if "NestedLoop" in p6 or "CartesianProduct" in p6:
        failures.append("asof: degenerated into a cross/nested-loop join")
    if "Window" not in p6:
        failures.append("asof: expected the carry-forward Window")

    # 6b. connected components (round 6): the star steps are windows on
    # node ids — never a join, so never a cartesian — and the survivor
    # anti-join broadcasts the (small) loser side
    import pandas as pd

    from geo_raster_spark.operators import components as cc_op
    cpairs = spark.createDataFrame(pd.DataFrame(
        {"id_a": [1, 2, 4, 6], "id_b": [2, 3, 5, 7]}))
    comp = cc_op.connected_components(cpairs)
    docs6 = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2, 3, 4, 5, 6, 7, 8]}))
    kept6 = cc_op.dedup_corpus(docs6, cpairs, components=comp)
    p6b = plan_of(kept6)
    sections.append(("Dedup corpus (components + survivor anti-join)", p6b))
    if "CartesianProduct" in p6b or "NestedLoop" in p6b:
        failures.append("dedup_corpus: cross/nested-loop join appeared")
    if "BroadcastHashJoin" not in p6b or "LeftAnti" not in p6b:
        failures.append("dedup_corpus: survivor anti-join is not a "
                        "broadcast anti-join")

    # 7. persisted LSH index: the per-query scan prunes to the candidate
    # bucket PARTITIONS (no full-table pass at query time — VERDICT r2 #2)
    import shutil
    import tempfile
    lsh_dir = tempfile.mkdtemp(prefix="gsr_lshplan_")
    try:
        similarity.build_lsh_index(emb, 64, lsh_dir, n_planes=6)
        lq = similarity.lsh_topk_indexed(spark, lsh_dir, [0.1] * 64, k=5)
        p7 = plan_of(lq)
        sections.append(("LSH-indexed ANN (bucket partition pruning)", p7))
        m7 = re.search(r"PartitionFilters: \[([^\]]*)\]", p7)
        if not m7 or "bucket" not in m7.group(1):
            failures.append("lsh_topk_indexed: bucket IN (...) is not a "
                            "partition filter")
        if re.search(r"PushedFilters: \[[^\]]*bucket", p7):
            failures.append("lsh_topk_indexed: bucket filter demoted to a "
                            "data filter")
    finally:
        shutil.rmtree(lsh_dir, ignore_errors=True)

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("# Physical plans (captured by tools/explain_check.py)\n\n"
                "Assertions enforced: broadcast PIP join, single probe-side "
                "shuffle, parquet filter pushdown + column pruning, map-side "
                "tile explode, parallel top-k (TakeOrderedAndProject), "
                "broadcast zonal candidates (no pixel shuffle), as-of join "
                "without a cross product, dedup-corpus survivor broadcast "
                "anti-join with no cartesian in the star rounds, LSH-index "
                "bucket partition pruning.\n\n")
        for title, plan in sections:
            f.write(f"## {title}\n\n```\n{plan}\n```\n\n")

    if failures:
        print("PLAN VIOLATIONS:")
        for x in failures:
            print(" -", x)
        sys.exit(1)
    print("all plan assertions hold; PLANS.md written")


if __name__ == "__main__":
    main()
