"""Incremental flagship: Structured Streaming over the images table.

The reference has no streaming; its closest notion is the skip-if-done
resumable task queue [ref: util/split_raster_tiles.py:113-115;
util/run_service.py:12-20].  SURVEY.md §2.10 maps that to
``Trigger.AvailableNow`` over the images table with the checkpoint table as
state: each micro-batch processes only newly-arrived image files, runs the
same flagship operators (footprint -> PIP -> tile assignment), and appends
per-batch counts + lineage — giving exactly-once incremental tile-grid
maintenance without a long-running service.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators import footprint, pip_join, tile_assign


def incremental_flagship(spark: SparkSession, images_path: str,
                         zones_pdf, out_path: str, checkpoint_path: str,
                         schema: str = ("image_id string, bytes binary, w int, "
                                        "h int, fmt string, caption string, "
                                        "phash long")):
    """Start an AvailableNow stream: new image parquet files -> per-(zone,
    tile) counts appended to ``out_path``.  Returns the StreamingQuery.

    Re-running after new files land processes ONLY the new files (file-source
    offsets in ``checkpoint_path``) — the engine's resume story for ingest.
    """
    stream = (spark.readStream.schema(schema).parquet(images_path))
    fp = footprint.with_footprint(stream)

    def process_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        joined = pip_join.pip_join(batch_df, zones_pdf, keep_zone_name=False)
        tiled = tile_assign.assign_tiles(joined)
        counts = (tiled.groupBy("zone_id", "tile_tag")
                       .agg(F.count("*").alias("n_images"))
                       .withColumn("batch_id", F.lit(batch_id)))
        counts.write.mode("append").parquet(out_path)

    return (fp.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_path)
              .trigger(availableNow=True)
              .start())


def windowed_event_counts(spark: SparkSession, events_path: str,
                          window: str = "1 hour", watermark: str = "2 hours"):
    """Batch-table demonstration of the streaming agg shape: event-time
    windowed counts with a watermark (runs identically under readStream)."""
    e = spark.read.parquet(events_path)
    return (e.withWatermark("ts", watermark)
             .groupBy(F.window("ts", window).alias("w"), "event_type")
             .agg(F.count("*").alias("n"),
                  F.round(F.sum("value"), 4).alias("sum_value"))
             .select(F.col("w.start").alias("w_start"),
                     F.col("w.end").alias("w_end"), "event_type", "n", "sum_value"))


def _admission_stream(spark: SparkSession, src_path: str, schema: str,
                      out_path: str, checkpoint_path: str, admit):
    """AvailableNow stream shared by the admission-control operators: each
    non-empty micro-batch of newly-arrived parquet files runs
    ``admit(batch_df, sink)``, a ``dedup.incremental_*`` call that hands
    its accepted rows to ``sink`` BEFORE its store append (the
    ``out_sink`` contract).  Returns the StreamingQuery."""
    stream = spark.readStream.schema(schema).parquet(src_path)

    def process_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return

        def sink(accepted):
            # idempotent per-batch delivery: a replayed batch overwrites
            # its own subdirectory instead of losing rows to the
            # already-resident rejection or duplicating them.  An EMPTY
            # accepted set never overwrites: a replay of a fully-committed
            # batch recomputes empty (its ids are now resident) and must
            # not erase the rows it delivered before the crash.
            if accepted.limit(1).count() == 0:
                return
            (accepted.withColumn("batch_id", F.lit(batch_id))
                     .write.mode("overwrite")
                     .parquet(f"{out_path}/batch={batch_id}"))

        admit(batch_df, sink)

    return (stream.writeStream
                  .foreachBatch(process_batch)
                  .option("checkpointLocation", checkpoint_path)
                  .trigger(availableNow=True)
                  .start())


def streaming_dedup_admission(spark: SparkSession, docs_path: str,
                              store_path: str, out_path: str,
                              checkpoint_path: str,
                              schema: str | None = None,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              jaccard_threshold: float = 0.6):
    """AvailableNow admission control over a documents directory: each
    micro-batch of newly-arrived parquet files runs
    ``dedup.incremental_dedup`` against the persisted minhash store
    (built once with ``dedup.build_minhash_store``) — near-dups of the
    resident corpus are rejected, in-batch clusters collapse to their
    first-seen survivor, accepted rows append to ``out_path`` and their
    signatures enter the store.  File-source offsets in
    ``checkpoint_path`` make re-runs process only NEW files: the
    reference's skip-if-done queue semantics, but with content-level
    dedup at the door.  Returns the StreamingQuery."""
    from ..operators import dedup

    # couple the default schema to the column names — an explicit
    # readStream schema fills ABSENT columns with NULLs rather than
    # raising, so a mismatched default would silently dedup nothing
    schema = schema or f"{id_col} long, {text_col} string"
    return _admission_stream(
        spark, docs_path, schema, out_path, checkpoint_path,
        lambda batch_df, sink: dedup.incremental_dedup(
            spark, store_path, batch_df, text_col=text_col,
            id_col=id_col, jaccard_threshold=jaccard_threshold,
            out_sink=sink))


def streaming_phash_admission(spark: SparkSession, images_path: str,
                              store_path: str, out_path: str,
                              checkpoint_path: str,
                              schema: str | None = None,
                              id_col: str = "image_id",
                              phash_col: str = "phash",
                              max_bucket: int = 200):
    """Image twin of :func:`streaming_dedup_admission`: each micro-batch
    of newly-arrived image metadata (the input_hint ``phash:int64``
    column) runs ``dedup.incremental_phash_dedup`` against the persisted
    phash store (built once with ``dedup.build_phash_store``) — Hamming
    near-dups of resident images are rejected, in-batch clusters
    collapse, accepted rows land in ``out_path`` (idempotent per-batch
    subdirectory) and their phash blocks enter the store.  Same crash
    contract as the text path: sink delivery BEFORE the store append,
    empty replay recomputes never clobber a prior delivery."""
    from ..operators import dedup

    schema = schema or f"{id_col} long, {phash_col} long"
    return _admission_stream(
        spark, images_path, schema, out_path, checkpoint_path,
        lambda batch_df, sink: dedup.incremental_phash_dedup(
            spark, store_path, batch_df, id_col=id_col,
            phash_col=phash_col, max_bucket=max_bucket, out_sink=sink))
