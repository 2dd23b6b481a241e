"""Global-grid tile assignment (SURVEY.md §2.7 G1-G3, §2.3 J2).

The reference enumerates every grid tile and intersects it with each file
footprint in Python loops [ref: lib/global_task.py:102-128, 64-81].  Here the
assignment is a closed-form column expression: a footprint bbox intersects
exactly the tiles in an inclusive (col, row) range, so the "join" is
``explode(sequence(col0, col1)) x explode(sequence(row0, row1))`` — no
shuffle, no Python, linear in output size.  This is the scale path for the
10^12-image tile-assignment: each image emits its covering tiles
map-side; downstream groupBys shuffle on ``tile_tag``.

``salted`` repartitioning for hot tiles + a generated tile-grid DataFrame
(G1) live here too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import functions as gf
from ..grid import TileGrid
from ..synth import CELL_SIZE


def assign_tiles(df: DataFrame, image_size: int = 100,
                 cell_size: float = CELL_SIZE, edge: int = 1,
                 p: float = 180.0, with_tag: bool = True) -> DataFrame:
    """df(minx,miny,maxx,maxy, ...) -> one row per (row, covering tile):
    + tile_col, tile_row (+ tile_tag unless ``with_tag=False`` — terminal
    aggregations should group on the int keys and format the tag on the
    aggregated output instead of per probe row).

    Tile-extent semantics include the edge halo, matching the reference's
    ``tiles.list`` intersection test [ref: lib/global_task.py:120-122]."""
    n_cols = int(2 * p / (image_size * cell_size))
    r = gf.tile_cover_ranges(F.col("minx"), F.col("miny"),
                             F.col("maxx"), F.col("maxy"),
                             image_size, cell_size, edge, p)
    # raw cols are unclamped (a dateline-crossing bbox yields -1 / n_cols);
    # pmod wraps them onto the far side of the grid (a separate projection:
    # generators must be top-level expressions)
    df = df.withColumn("tile_col", F.explode(F.sequence(r["tile_col0"], r["tile_col1"])))
    df = df.withColumn("tile_col", F.pmod(F.col("tile_col"), F.lit(n_cols)).cast("int"))
    df = df.withColumn("tile_row", F.explode(F.sequence(r["tile_row0"], r["tile_row1"])))
    if with_tag:
        df = df.withColumn("tile_tag", gf.tile_tag(F.col("tile_col"), F.col("tile_row")))
    return df


def tile_grid_df(spark, grid: TileGrid, ext=None) -> DataFrame:
    """G1: the tile grid as a generated DataFrame — ``spark.range`` + column
    math, zero data read, fully parallel.  ``ext`` keeps the tiles whose
    haloed extent intersects it; an extent reaching past ±p wraps onto the
    far side of the grid, as in ``TileGrid.list_tiles``."""
    n = grid.n_cols * grid.n_rows
    df = (spark.range(0, n)
          .withColumn("tile_col", (F.col("id") % grid.n_cols).cast("int"))
          .withColumn("tile_row", (F.col("id") / grid.n_cols).cast("int"))
          .drop("id"))
    ts, p = grid.tile_size, grid.p
    s = (grid.image_size + grid.edge) * grid.cell_size
    df = (df
          .withColumn("tminx", F.lit(-p) + F.col("tile_col") * F.lit(ts))
          .withColumn("tmaxy", F.lit(p / 2) - F.col("tile_row") * F.lit(ts))
          .withColumn("tmaxx", F.col("tminx") + F.lit(s))
          .withColumn("tminy", F.col("tmaxy") - F.lit(s))
          .withColumn("tile_tag", gf.tile_tag(F.col("tile_col"), F.col("tile_row"))))
    if ext is not None:
        # a tile matches the extent or its copy shifted by ±2p (the wrapped
        # columns of list_tiles' col % n_cols)
        def x_hit(k):
            return (F.col("tminx") <= ext[2] + k) & (F.col("tmaxx") >= ext[0] + k)
        df = df.where((x_hit(-2 * p) | x_hit(0.0) | x_hit(2 * p))
                      & (F.col("tminy") <= ext[3]) & (F.col("tmaxy") >= ext[1]))
    return df


def with_salt(df: DataFrame, key_col: str, buckets: int = 16,
              salt_col: str = "salt") -> DataFrame:
    """Salting helper for skewed shuffle keys (north rule): deterministic
    ``pmod(hash(key), buckets)`` sub-key.  Join the hot build side against
    ``explode(sequence(0, buckets-1))`` on (key, salt)."""
    return df.withColumn(salt_col, F.pmod(F.hash(F.col(key_col)), F.lit(buckets)))


def explode_salt(df: DataFrame, buckets: int = 16, salt_col: str = "salt") -> DataFrame:
    """Build-side twin of ``with_salt``: replicate each row into every bucket."""
    return df.withColumn(salt_col, F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))))
