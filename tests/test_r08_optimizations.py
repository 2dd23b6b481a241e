"""Round-8 optimization invariants.

The optimizations must be invisible to results:
- ``partitioning.grouped_stream`` (sorted streaming mapInPandas) must equal
  ``groupBy().applyInPandas`` exactly — including when one group spans
  multiple Arrow batches (the buffering path).
- ``dedup.km_minhash_batch`` (whole-batch vectorized KM minhash) must be
  byte-identical to the per-document reference ``oracles.km_sig_doc``.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


SCHEMA = "k int, n long, s double, first_v double"


def test_grouped_stream_equals_apply_in_pandas(spark):
    from geo_raster_spark.partitioning import grouped_stream

    def _agg_fn(key, pdf):   # closure: pickled by value for the workers
        return pd.DataFrame([{
            "k": int(key[0]),
            "n": len(pdf),
            "s": float(pdf["v"].sum()),
            "first_v": float(pdf.sort_values("v")["v"].iloc[0]),
        }])

    # one giant group (9000 rows) guarantees Arrow-batch spanning at the
    # session's maxRecordsPerBatch=4096; plus many small groups
    df = (spark.range(0, 12000)
          .withColumn("k", F.when(F.col("id") < 9000, F.lit(7))
                            .otherwise((F.col("id") % 50).cast("int")))
          .withColumn("v", (F.col("id") * 13 % 997).cast("double")))

    got = grouped_stream(df, ["k"], _agg_fn, SCHEMA).toPandas() \
        .sort_values("k").reset_index(drop=True)
    ref = (df.repartition("k").groupBy("k")
             .applyInPandas(_agg_fn, schema=SCHEMA).toPandas()
             .sort_values("k").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, ref)
    # the giant group must have been processed whole, not per batch
    expect = 9000 + sum(1 for i in range(9000, 12000) if i % 50 == 7)
    assert int(got.loc[got["k"] == 7, "n"].iloc[0]) == expect
    assert expect > 4096  # really spans multiple Arrow batches


def test_grouped_stream_multi_key_and_empty_results(spark):
    from geo_raster_spark.partitioning import grouped_stream

    def fn(key, pdf):
        if int(key[1]) == 0:        # empty-result groups must vanish
            return pd.DataFrame([], columns=["a", "b", "n"])
        return pd.DataFrame([{"a": int(key[0]), "b": int(key[1]),
                              "n": len(pdf)}])

    df = (spark.range(0, 1000)
          .withColumn("a", (F.col("id") % 7).cast("int"))
          .withColumn("b", (F.col("id") % 3).cast("int")))
    got = grouped_stream(df, ["a", "b"], fn, "a int, b int, n long") \
        .toPandas().sort_values(["a", "b"]).reset_index(drop=True)
    ref = (df.groupBy("a", "b").agg(F.count("*").alias("n"))
             .where(F.col("b") != 0).toPandas()
             .sort_values(["a", "b"]).reset_index(drop=True))
    ref["a"] = ref["a"].astype("int32")
    ref["b"] = ref["b"].astype("int32")
    pd.testing.assert_frame_equal(got, ref)


@pytest.mark.parametrize("text", [
    "", "a", "abcd", "abcde", "hello world", "Ünïcode tëxt ê",
    "x" * 500, "the quick brown fox " * 40,
])
def test_km_minhash_batch_matches_scalar(text):
    from geo_raster_spark.operators.dedup import km_minhash_batch
    from tests.oracles import km_sig_doc

    batch = km_minhash_batch([text, "padding doc", text + "!"])
    assert np.array_equal(batch[0], km_sig_doc(text))
    assert np.array_equal(batch[1], km_sig_doc("padding doc"))
    assert np.array_equal(batch[2], km_sig_doc(text + "!"))


def test_grouped_stream_keeps_null_group_keys(spark):
    """Spark's applyInPandas groups NULL keys like any other value;
    pandas groupby drops NaN keys by default — grouped_stream must match
    Spark (dropna=False + null-safe tail buffering)."""
    from geo_raster_spark.partitioning import grouped_stream

    def fn(key, pdf):
        return pd.DataFrame([{"k": pdf["k"].iloc[0], "n": len(pdf)}])

    df = (spark.range(0, 5000)
          .withColumn("k", F.when(F.col("id") % 5 == 0, F.lit(None))
                            .otherwise((F.col("id") % 7).cast("string"))))
    got = grouped_stream(df, ["k"], fn, "k string, n long").toPandas() \
        .sort_values("k", na_position="last").reset_index(drop=True)
    ref = (df.repartition("k").groupBy("k")
             .applyInPandas(fn, schema="k string, n long").toPandas()
             .sort_values("k", na_position="last").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, ref)
    # the null group really is present and complete
    assert int(got.loc[got["k"].isna(), "n"].iloc[0]) == 1000


def test_grouped_stream_decimal_output_column(spark):
    """ADVICE r8 #1: the comma inside ``decimal(10,2)`` must not split the
    output schema's field list (a hand-rolled DDL splitter did)."""
    from decimal import Decimal

    from geo_raster_spark.partitioning import grouped_stream

    schema = "k int, d decimal(10,2), n long"

    def fn(key, pdf):
        return pd.DataFrame([{"k": int(key[0]), "d": Decimal(len(pdf)) / 4,
                              "n": len(pdf)}])

    df = spark.range(0, 100).withColumn("k", (F.col("id") % 3).cast("int"))
    got = grouped_stream(df, ["k"], fn, schema).toPandas() \
        .sort_values("k").reset_index(drop=True)
    ref = (df.repartition("k").groupBy("k")
             .applyInPandas(fn, schema=schema).toPandas()
             .sort_values("k").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, ref)


def test_warmup_failure_logs_instead_of_printing(spark, monkeypatch, capsys,
                                                 caplog):
    """ADVICE r8 #5: stdout carries the bench and CLI JSON, so a failed
    session warm-up is reported through ``logging``."""
    import logging

    from geo_raster_spark import session

    def fail(*_args):
        raise RuntimeError("no temp dir")

    monkeypatch.setattr(session, "_warm_session", fail)
    monkeypatch.delenv("GSR_NO_WARMUP", raising=False)
    monkeypatch.delattr(spark.sparkContext, session._WARM_FLAG)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.get_spark(app_name="geo-raster-spark-tests")
    assert capsys.readouterr().out == ""
    assert "no temp dir" in caplog.text


def test_explicit_grid_registration_beats_env(tmp_path, monkeypatch):
    """ADVICE r7: a grid registered via register_grid_shift BEFORE any
    transform must not be silently replaced by the GSR_NTV2_GRIDS env
    entry for the same datum at lazy env-load time."""
    from test_ntv2 import _PARENT, build_gsb

    from geo_raster_spark import crs, ntv2

    p = tmp_path / "env.gsb"
    p.write_bytes(build_gsb([_PARENT]))
    monkeypatch.setenv("GSR_NTV2_GRIDS", f"NAD27={p}")
    monkeypatch.setattr(crs, "_env_grids_loaded", False)
    monkeypatch.setattr(crs, "_GRID_SHIFTS", {})
    crs.register_grid_shift("NAD27", ntv2.parse_ntv2(build_gsb([_PARENT])))
    explicit = crs._GRID_SHIFTS["NAD27"]
    # the first transform triggers the env load — the explicit object
    # must survive it (identity, not just equality)
    assert crs._grid_for("NAD27") is explicit
    # a datum NOT explicitly registered still loads from the env
    monkeypatch.setenv("GSR_NTV2_GRIDS", f"ED50={p}")
    monkeypatch.setattr(crs, "_env_grids_loaded", False)
    assert crs._grid_for("ED50") is not None


def test_compact_index_rejects_reembedded_id(spark, sf_dir, tmp_path):
    """ADVICE r7: duplicates folded by compact_index must be
    byte-identical replay copies — an id re-appended with a DIFFERENT
    embedding raises instead of collapsing to an arbitrary survivor."""
    import pytest
    from pyspark.sql import functions as F

    from geo_raster_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    first = emb.orderBy("vec_id").limit(n // 2)
    rest = emb.join(first.select("vec_id"), "vec_id", "left_anti")
    path = str(tmp_path / "ivf_conflict")
    similarity.build_ivf_index(first, 64, path, n_centroids=8)
    similarity.append_to_index(spark, path, rest, kind="ivf",
                               batch_id="day-001")
    # same ids, different vectors, new batch id: a re-embedding
    mutated = rest.withColumn(
        "embedding", F.transform(F.col("embedding"),
                                 lambda x: x + F.lit(0.25))
                      .cast("array<float>"))
    similarity.append_to_index(spark, path, mutated, kind="ivf",
                               batch_id="day-002-reembedded")
    with pytest.raises(ValueError, match="DIFFERING row content"):
        similarity.compact_index(spark, path, id_col="vec_id")


def test_compact_index_conflict_hash_sees_null_placement(spark, sf_dir,
                                                         tmp_path):
    """ADVICE r8 #3: ``xxhash64`` skips NULL arguments, so two copies of
    an id whose rows differ only in WHICH column is NULL hashed alike and
    compacted to an arbitrary survivor.  They must raise like any other
    content conflict."""
    from geo_raster_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding").orderBy("vec_id")
    five, null = F.lit(5).cast("long"), F.lit(None).cast("long")
    path = str(tmp_path / "ivf_nulls")
    similarity.build_ivf_index(
        emb.limit(40).select("*", five.alias("a"), null.alias("b")), 64,
        path, n_centroids=4)
    similarity.append_to_index(
        spark, path, emb.limit(1).select("*", null.alias("a"),
                                         five.alias("b")),
        kind="ivf", batch_id="day-001")
    with pytest.raises(ValueError, match="DIFFERING row content"):
        similarity.compact_index(spark, path, id_col="vec_id")


def test_boundcrs_scale_mismatch_names_the_heuristic():
    """ADVICE r7: when only the scale term of an abridged Helmert
    mismatches, the error must mention the unitless ratio/ppm heuristic
    rather than blaming the datum alone."""
    import pytest

    from geo_raster_spark import crs
    from test_core import _WKT2_BASES

    tr = (
        'ABRIDGEDTRANSFORMATION["OSGB36 to WGS 84",'
        'METHOD["Position Vector transformation (geog2D domain)",'
        'ID["EPSG",9606]],'
        'PARAMETER["X-axis translation",446.448,ID["EPSG",8605]],'
        'PARAMETER["Y-axis translation",-125.157,ID["EPSG",8606]],'
        'PARAMETER["Z-axis translation",542.06,ID["EPSG",8607]],'
        'PARAMETER["X-axis rotation",0.15,ID["EPSG",8608]],'
        'PARAMETER["Y-axis rotation",0.247,ID["EPSG",8609]],'
        'PARAMETER["Z-axis rotation",0.842,ID["EPSG",8610]],'
        # a genuine 0.95 PPM written unitless falls in the (0.9, 1.1)
        # window and is read as the ratio form -> -50000 ppm mismatch
        'PARAMETER["Scale difference",0.95,ID["EPSG",8611]]]')
    bound = (f'BOUNDCRS[SOURCECRS[{_WKT2_BASES["osgb36"]}],'
             f'TARGETCRS[{_WKT2_BASES["wgs84"]}],{tr}]')
    with pytest.raises(ValueError, match="SCALEUNIT"):
        crs.parse_wkt(bound)


def test_km_minhash_batch_fuzz():
    import random

    from geo_raster_spark.operators.dedup import km_minhash_batch
    from tests.oracles import km_sig_doc

    rng = random.Random(20260822)
    alphabet = "abcdefgh ijklmnop XYZ0123 äöü"
    texts = ["".join(rng.choice(alphabet)
                     for _ in range(rng.randint(0, 200)))
             for _ in range(200)]
    batch = km_minhash_batch(texts)
    for i, t in enumerate(texts):
        assert np.array_equal(batch[i], km_sig_doc(t)), i
