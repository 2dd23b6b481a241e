"""Checkpoint table: resumable stages with per-partition lineage + metrics.

The reference resumes by probing per-tile ``.met`` sidecar files and a
``tasks.txt`` plan [ref: util/split_raster_tiles.py:113-115;
lib/global_task.py:371-416].  The engine replaces both with a single
append-only checkpoint table (north rule): one row per (job, stage, key)
with status, row counts, and timing.  Resume = anti-join pending work
against completed keys; task retries are idempotent because output writes
are keyed by (stage, key) and re-appends of the same key are de-duplicated
on read (last-write-wins by ``ts``).

Storage: parquet directory in this sandbox.  At deployment scale the same
API maps onto an Iceberg table (atomic appends + MERGE), which is a
config-level swap — no operator changes.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHECKPOINT_SCHEMA = T.StructType([
    T.StructField("job_id", T.StringType()),
    T.StructField("stage", T.StringType()),
    T.StructField("key", T.StringType()),       # e.g. tile_tag
    T.StructField("status", T.StringType()),    # done | failed
    T.StructField("row_count", T.LongType()),
    T.StructField("n_inputs", T.LongType()),    # lineage: inputs consumed
    T.StructField("metrics", T.StringType()),   # JSON blob (bytes, timings)
    T.StructField("ts", T.DoubleType()),
])


class CheckpointTable:
    def __init__(self, path: str):
        self.path = path

    def _exists(self, spark: SparkSession) -> bool:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        return p.getFileSystem(conf).exists(p)

    def read(self, spark: SparkSession) -> DataFrame:
        if not self._exists(spark):
            return spark.createDataFrame([], CHECKPOINT_SCHEMA)
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.path)

    def completed_keys(self, spark: SparkSession, stage: str) -> DataFrame:
        """Distinct keys whose LATEST record for ``stage`` is 'done'."""
        cp = self.read(spark).where(F.col("stage") == stage)
        latest = (cp.groupBy("key")
                    .agg(F.max_by("status", "ts").alias("status"))
                    .where(F.col("status") == "done")
                    .select("key"))
        return latest

    def filter_pending(self, df: DataFrame, stage: str, key_col: str) -> DataFrame:
        """Anti-join df against completed keys — the resume operator (X3)."""
        done = self.completed_keys(df.sparkSession, stage)
        return df.join(done.withColumnRenamed("key", key_col).hint("broadcast"),
                       key_col, "left_anti")

    def record(self, spark: SparkSession, stage: str, rows: list[dict],
               job_id: str | None = None) -> str:
        """Append checkpoint rows: each dict needs key, status, row_count;
        optional n_inputs, metrics."""
        job_id = job_id or uuid.uuid4().hex[:12]
        now = time.time()
        data = [(job_id, stage, str(r["key"]), r.get("status", "done"),
                 int(r.get("row_count", 0)), int(r.get("n_inputs", 0)),
                 str(r.get("metrics", "{}")), now) for r in rows]
        spark.createDataFrame(data, CHECKPOINT_SCHEMA) \
            .write.mode("append").parquet(self.path)
        return job_id

    def record_df(self, df: DataFrame, stage: str, key_col: str,
                  job_id: str | None = None) -> str:
        """Distributed variant: checkpoint one row per key directly from a
        result DataFrame (per-partition lineage without collecting data).

        This runs one action over ``df``.  A caller that also returns or
        uses ``df`` should pass a materialized small result, as
        ``flagship`` does, so the plan is not computed twice; never
        materialize a payload-carrying table for this."""
        job_id = job_id or uuid.uuid4().hex[:12]
        now = time.time()
        out = (df.groupBy(F.col(key_col).cast("string").alias("key"))
                 .agg(F.count("*").alias("row_count"))
                 .select(F.lit(job_id).alias("job_id"), F.lit(stage).alias("stage"),
                         "key", F.lit("done").alias("status"), "row_count",
                         F.lit(0).cast("long").alias("n_inputs"),
                         F.lit("{}").alias("metrics"), F.lit(now).alias("ts")))
        out.write.mode("append").parquet(self.path)
        return job_id
