"""The flagship job (BASELINE.md protocol): H3-style cell assignment →
broadcast PIP join → global-grid tile assignment → per-(zone, tile) counts,
with checkpoint-table lineage.

This is the end-to-end slice of SURVEY.md §7.1.3 and the benchmark subject:
``images/sec`` for the full pipeline at two parallelism levels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import synth
from ..grid import TileGrid
from ..operators import footprint, pip_join, tile_assign


def flagship(images: DataFrame, zones_pdf, grid: TileGrid | None = None,
             checkpoint=None) -> DataFrame:
    """-> (zone_id, tile_tag, n_images) counts.

    Without ``checkpoint`` the plan is returned lazily.  With it, the
    counts (a ~10^4-row aggregate) are computed eagerly once with
    ``localCheckpoint``; the lineage write and the returned frame both
    read those blocks, so the probe pipeline runs once, not twice."""
    from .. import functions as gf

    grid = grid or TileGrid()
    fp = footprint.with_footprint(images)
    joined = pip_join.pip_join(fp, zones_pdf, keep_zone_name=False)
    tiled = tile_assign.assign_tiles(
        joined, grid.image_size, grid.cell_size, grid.edge, p=grid.p,
        with_tag=False)
    # group on the int keys and format the tag AFTER the aggregation:
    # format_string runs on ~10^4 result rows instead of ~10^8 probe rows
    counts = (tiled.groupBy("zone_id", "tile_col", "tile_row")
                   .agg(F.count("*").alias("n_images"))
                   .withColumn("tile_tag",
                               gf.tile_tag(F.col("tile_col"), F.col("tile_row")))
                   .drop("tile_col", "tile_row"))
    if checkpoint is not None:
        counts = counts.localCheckpoint()
        checkpoint.record_df(counts, stage="flagship", key_col="tile_tag")
    return counts


def run_flagship_synthetic(spark, n_images: int = 100_000, n_zones: int = 64,
                           hot: bool = False, partitions: int = 64,
                           checkpoint=None) -> DataFrame:
    images = footprint_input(spark, n_images, partitions)
    zones = synth.zones_pandas(n_zones, hot=hot)
    return flagship(images, zones, checkpoint=checkpoint)


def footprint_input(spark, n_images: int, partitions: int = 64) -> DataFrame:
    """Metadata-only images table as PURE column math — zero Python.

    The flagship never reads pixels or captions, so its input is the
    column-pruned scan equivalent: ``spark.range`` + SplitMix64/cycle
    column expressions producing EXACTLY the values of
    ``synth.images_df`` for (image_id, w, h, phash) (parity asserted in
    tests).  On a deployment cluster this is the Iceberg metadata-column
    scan; here it keeps the benchmark measuring the engine, not the
    synthesizer."""
    from .. import functions as gf

    w_arr = F.array(F.lit(32), F.lit(64), F.lit(128))
    h_arr = F.array(F.lit(32), F.lit(64), F.lit(96))
    return (spark.range(0, n_images, 1, partitions)
            .withColumn("phash", gf.splitmix64(F.col("id")))
            .withColumn("image_id", F.format_string("img%012d", F.col("id")))
            .withColumn("w", F.element_at(w_arr, (F.col("id") % 3 + 1).cast("int")))
            .withColumn("h", F.element_at(h_arr, ((F.col("id") / 3).cast("long") % 3 + 1).cast("int")))
            .drop("id"))
