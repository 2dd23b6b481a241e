"""Structured Streaming incremental flagship: AvailableNow + file-source
offsets = process only new files on re-run (the engine's ingest resume)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geo_raster_spark import synth
from geo_raster_spark.streaming import incremental


def _write_batch(spark, path, start, n):
    pdf = synth.images_pandas(n, start=start)
    spark.createDataFrame(pdf).write.mode("append").parquet(path)


def test_incremental_flagship_processes_only_new_files(spark, tmp_path):
    src = str(tmp_path / "images")
    out = str(tmp_path / "counts")
    ckpt = str(tmp_path / "ckpt")
    zones = synth.zones_pandas(8, hot=True)

    _write_batch(spark, src, 0, 120)
    q = incremental.incremental_flagship(spark, src, zones, out, ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(out).toPandas()
    assert first["n_images"].sum() > 0
    b0 = set(first["batch_id"])

    # second wave of files -> only the delta is processed
    _write_batch(spark, src, 120, 80)
    q2 = incremental.incremental_flagship(spark, src, zones, out, ckpt)
    q2.awaitTermination(120)
    both = spark.read.parquet(out).toPandas()
    new = both[~both["batch_id"].isin(b0)]
    assert len(new) > 0

    # totals equal a one-shot batch run over all 200 images
    from geo_raster_spark.operators import footprint, pip_join, tile_assign
    imgs = footprint.with_footprint(spark.read.parquet(src))
    j = pip_join.pip_join(imgs, zones, keep_zone_name=False)
    want = tile_assign.assign_tiles(j).count()
    assert int(both["n_images"].sum()) == want


def test_windowed_event_counts(spark, sf_dir):
    df = incremental.windowed_event_counts(spark, f"{sf_dir}/events.parquet")
    pdf = df.toPandas()
    assert len(pdf) > 0
    assert (pdf["w_end"] - pdf["w_start"]).nunique() == 1  # uniform windows
    # totals preserved
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert pdf["n"].sum() == total


def test_stateful_sessionize_across_batches(spark, tmp_path, sf_dir):
    """applyInPandasWithState sessionization: the open session must persist
    in the state store across micro-batches (a session split over two files
    closes exactly once), and closed sessions must equal the NumPy oracle."""
    from geo_raster_spark.streaming import stateful
    from tests.oracles import sessionize_oracle

    src = str(tmp_path / "events")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt_sess")

    e = (spark.read.parquet(f"{sf_dir}/events.parquet")
         .where(F.col("user_id") < 40).orderBy("ts"))
    pdf = e.toPandas()
    # split IN TIME ORDER: first file = first half, second = rest — sessions
    # straddling the cut exercise cross-batch state
    cut = len(pdf) // 2
    spark.createDataFrame(pdf.iloc[:cut]).coalesce(1) \
        .write.mode("append").parquet(src)
    q = stateful.streaming_sessionize(spark, src, ckpt, out, gap_sec=1800)
    q.awaitTermination(120)
    spark.createDataFrame(pdf.iloc[cut:]).coalesce(1) \
        .write.mode("append").parquet(src)
    q2 = stateful.streaming_sessionize(spark, src, ckpt, out, gap_sec=1800)
    q2.awaitTermination(120)

    got = (spark.read.parquet(out).toPandas()
           .sort_values(["user_id", "session_start"]).reset_index(drop=True))
    want = (sessionize_oracle(pdf, gap_sec=1800)
            .sort_values(["user_id", "session_start"]).reset_index(drop=True))
    assert len(got) == len(want)
    assert (got["user_id"].values == want["user_id"].values).all()
    assert (got["n_events"].values == want["n_events"].values).all()
    assert (got["session_start"].values == want["session_start"].values).all()
    assert (got["session_end"].values == want["session_end"].values).all()
    # sanity: some sessions could only be emitted via cross-batch state —
    # the session's events all sit in file 1 (end <= cut) but the gap that
    # CLOSES it (the user's next event) arrives in file 2 (> cut), so
    # without carried state the session would never be emitted
    cut_ts = pdf.iloc[:cut]["ts"].max()
    by_user = {u: np.sort(g["ts"].to_numpy("datetime64[us]"))
               for u, g in pdf.groupby("user_id")}
    cross = 0
    for _, r in got.iterrows():
        ts = by_user[r["user_id"]]
        later = ts[ts > np.datetime64(r["session_end"], "us")]
        if len(later) and r["session_end"] <= cut_ts and later[0] > np.datetime64(cut_ts, "us"):
            cross += 1
    assert cross > 0


def test_streaming_dedup_admission(spark, sf_dir, tmp_path):
    """AvailableNow content-dedup at the ingest door: wave 1 admits fresh
    docs; wave 2 (copies of wave-1 docs + one fresh doc) admits only the
    fresh doc — dedup state persists in the minhash store across
    restarts, and file offsets make each run process only new files."""
    import pandas as pd

    from geo_raster_spark.operators import dedup

    store = str(tmp_path / "store")
    src = str(tmp_path / "docs")
    out = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "dckpt")

    base = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                 .select("doc_id", "text"))
    dedup.build_minhash_store(base, store)

    long_a = ("an entirely new treatise on tidal glaciers and penguin "
              "colonies with ample length for shingling")
    long_b = ("a different but equally novel essay about orbital "
              "mechanics and station keeping maneuvers")
    w1 = pd.DataFrame([{"doc_id": 30_000_001, "text": long_a},
                       {"doc_id": 30_000_002, "text": long_b}])
    spark.createDataFrame(w1).write.mode("append").parquet(src)
    q = incremental.streaming_dedup_admission(spark, src, store, out, ckpt,
                                              jaccard_threshold=0.5)
    q.awaitTermination(120)
    a1 = spark.read.parquet(out).toPandas()
    assert sorted(a1["doc_id"]) == [30_000_001, 30_000_002]

    w2 = pd.DataFrame([
        {"doc_id": 30_000_011, "text": long_a + " appended"},  # near-copy
        {"doc_id": 30_000_012, "text": long_b},                # exact copy
        {"doc_id": 30_000_013,
         "text": "yet another wholly original document concerning deep "
                 "sea vents and chemosynthetic ecosystems"},
    ])
    spark.createDataFrame(w2).write.mode("append").parquet(src)
    q2 = incremental.streaming_dedup_admission(spark, src, store, out, ckpt,
                                               jaccard_threshold=0.5)
    q2.awaitTermination(120)
    a2 = spark.read.parquet(out).toPandas()
    assert sorted(a2["doc_id"]) == [30_000_001, 30_000_002, 30_000_013]


def test_streaming_phash_admission(spark, tmp_path):
    """Image twin of the streaming ingest door: wave 1 admits fresh
    phashes; wave 2 (a 1-bit flip of a resident + an exact resident copy
    + one far hash) admits only the far hash — Hamming dedup state
    persists in the phash store across restarts."""
    import pandas as pd

    from geo_raster_spark.operators import dedup

    store = str(tmp_path / "pstore")
    src = str(tmp_path / "imgs")
    out = str(tmp_path / "paccepted")
    ckpt = str(tmp_path / "pckpt")

    base = spark.createDataFrame(pd.DataFrame(
        [{"image_id": i, "phash": (i * 0x9E3779B97F4A7C15) & ((1 << 63) - 1)}
         for i in range(1, 41)]))
    dedup.build_phash_store(base, store, max_hamming=2)

    h1, h2 = 0x0F0F0F0F0F0F0F0, 0x123456789ABCDE
    w1 = pd.DataFrame([{"image_id": 50_000_001, "phash": h1},
                       {"image_id": 50_000_002, "phash": h2}])
    spark.createDataFrame(w1).write.mode("append").parquet(src)
    q = incremental.streaming_phash_admission(spark, src, store, out, ckpt)
    q.awaitTermination(120)
    a1 = spark.read.parquet(out).toPandas()
    assert sorted(a1["image_id"]) == [50_000_001, 50_000_002]

    w2 = pd.DataFrame([
        {"image_id": 50_000_011, "phash": h1 ^ 1},        # 1-bit near-dup
        {"image_id": 50_000_012, "phash": h2},            # exact resident
        {"image_id": 50_000_013, "phash": 0x7EDCBA987654321},  # fresh
    ])
    spark.createDataFrame(w2).write.mode("append").parquet(src)
    q2 = incremental.streaming_phash_admission(spark, src, store, out, ckpt)
    q2.awaitTermination(120)
    a2 = spark.read.parquet(out).toPandas()
    assert sorted(a2["image_id"]) == [50_000_001, 50_000_002, 50_000_013]
