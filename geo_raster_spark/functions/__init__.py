"""Pure Spark column-expression helpers — the JVM-side fast path.

Everything here compiles into whole-stage codegen (no Python in the hot
path): SplitMix64, deterministic footprints from ``phash``, DGGS cell ids,
global-tile assignment ranges, tile tags, QA bit decodes.

These mirror the NumPy twins in ``synth`` / ``dggs`` / ``grid`` bit-for-bit
so driver-side oracles and executor-side plans agree exactly.

Note: SplitMix64 needs Java-style wrapping long multiplication, so the
session must run with ``spark.sql.ansi.enabled=false`` (set by
``session.get_spark`` and ``__spark_entry__``); ``operators.footprint``
and ``plans.flagship.footprint_input`` depend on it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..dggs import DEFAULT_RES
from ..synth import CELL_SIZE

def splitmix64(x: Column) -> Column:
    """Column twin of ``synth.splitmix64`` (wrapping 64-bit arithmetic)."""
    z = x + F.lit(-7046029254386353131)  # 0x9E3779B97F4A7C15 as signed
    z = z.bitwiseXOR(F.shiftrightunsigned(z, 30)) * F.lit(-4658895280553007687)  # 0xBF58476D1CE4E5B9
    z = z.bitwiseXOR(F.shiftrightunsigned(z, 27)) * F.lit(-7723592293110705685)  # 0x94D049BB133111EB
    return z.bitwiseXOR(F.shiftrightunsigned(z, 31))


def unit_from_hash(h: Column, salt: int) -> Column:
    """Deterministic uniform [0,1) — BIT-IDENTICAL twin of ``synth._unit``:
    top 53 bits of the mix, so the long->double conversion is exact in
    both engines (see synth._unit)."""
    return (F.shiftrightunsigned(splitmix64(h.bitwiseXOR(F.lit(salt))), 11)
            .cast("double") / F.lit(float(2 ** 53)))


def image_lon(phash: Column) -> Column:
    return F.lit(-180.0) + F.lit(360.0) * unit_from_hash(phash, 0xA5A5A5A5)


def image_lat(phash: Column) -> Column:
    return F.lit(-60.0) + F.lit(120.0) * unit_from_hash(phash, 0x5A5A5A5A)


def footprint_cols(lon: Column, lat: Column, w: Column, h: Column,
                   cell_size: float = CELL_SIZE) -> dict:
    """minx/miny/maxx/maxy of the w x h-cell footprint centered at (lon, lat)."""
    half_w = w.cast("double") * F.lit(cell_size / 2)
    half_h = h.cast("double") * F.lit(cell_size / 2)
    return {
        "minx": lon - half_w, "miny": lat - half_h,
        "maxx": lon + half_w, "maxy": lat + half_h,
    }


# ---------------------------------------------------------------------------
# DGGS cells (column twin of geo_raster_spark.dggs)
# ---------------------------------------------------------------------------

def geocell(lon: Column, lat: Column, res: int = DEFAULT_RES) -> Column:
    """Point -> packed int64 cell id, pure column math."""
    n_rows = 1 << res
    n_cols = n_rows * 2
    cw, ch = 360.0 / n_cols, 180.0 / n_rows
    col = F.least(F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(cw)), F.lit(0)),
                  F.lit(n_cols - 1)).cast("long")
    row = F.least(F.greatest(F.floor((F.lit(90.0) - lat) / F.lit(ch)), F.lit(0)),
                  F.lit(n_rows - 1)).cast("long")
    return (F.lit(res).cast("long") * F.lit(1 << 58).cast("long")
            + col * F.lit(1 << 29).cast("long") + row)


def geocell_parent(cell: Column, res_from: int, res_to: int) -> Column:
    """Packed cell id at ``res_from`` -> ancestor id at ``res_to`` (pure
    column math; JVM twin of ``dggs.parent``)."""
    shift = res_from - res_to
    low = cell.bitwiseAND(F.lit((1 << 58) - 1))
    col = F.shiftrightunsigned(low, 29)
    row = low.bitwiseAND(F.lit((1 << 29) - 1))
    return (F.lit(res_to).cast("long") * F.lit(1 << 58).cast("long")
            + F.shiftrightunsigned(col, shift) * F.lit(1 << 29).cast("long")
            + F.shiftrightunsigned(row, shift))


def geocell_cover(minx: Column, miny: Column, maxx: Column, maxy: Column,
                  res: int = DEFAULT_RES) -> Column:
    """Array of cell ids whose grid rectangle intersects the bbox —
    the JVM-side ``dggs.bbox_cover`` (explode it to get join keys)."""
    n_rows = 1 << res
    n_cols = n_rows * 2
    cw, ch = 360.0 / n_cols, 180.0 / n_rows
    # columns unclamped then wrapped with pmod: a bbox reaching past ±180°
    # (dateline-crossing footprint) covers cells on the far side too;
    # the span cap keeps a degenerate >360°-wide bbox from duplicating
    c0 = F.floor((minx + F.lit(180.0)) / F.lit(cw)).cast("long")
    c1 = F.floor((maxx + F.lit(180.0)) / F.lit(cw) - F.lit(1e-12)).cast("long")
    c1 = F.least(F.greatest(c0, c1), c0 + F.lit(n_cols - 1))
    r0 = F.greatest(F.floor((F.lit(90.0) - maxy) / F.lit(ch)), F.lit(0)).cast("long")
    r1 = F.least(F.floor((F.lit(90.0) - miny) / F.lit(ch) - F.lit(1e-12)),
                 F.lit(n_rows - 1)).cast("long")
    r1 = F.greatest(r0, r1)
    res_base = F.lit(res).cast("long") * F.lit(1 << 58).cast("long")
    cols = F.transform(F.sequence(c0, c1), lambda c: F.pmod(c, F.lit(n_cols)))
    rows = F.sequence(r0, r1)
    # cross product of the two small sequences -> flat array of packed ids
    return F.flatten(F.transform(
        cols, lambda c: F.transform(rows, lambda r: res_base + c * F.lit(1 << 29).cast("long") + r)))


# ---------------------------------------------------------------------------
# global tile grid (column twin of grid.TileGrid)
# ---------------------------------------------------------------------------

def tile_cover_ranges(minx: Column, miny: Column, maxx: Column, maxy: Column,
                      image_size: int = 100, cell_size: float = CELL_SIZE,
                      edge: int = 1, p: float = 180.0) -> dict:
    """Inclusive (col0, col1, row0, row1) of grid tiles whose haloed extent
    intersects the bbox — column twin of ``TileGrid.tile_cols_rows_for_extent``."""
    ts = image_size * cell_size
    halo = edge * cell_size
    n_cols = int(2 * p / ts)
    n_rows = n_cols // 2
    # columns are UNCLAMPED: raw cols may be -1 or n_cols for a bbox
    # reaching past ±p (dateline crossing) — callers wrap with
    # pmod(col, n_cols) after exploding (see tile_assign.assign_tiles);
    # the span cap keeps a >360°-wide bbox from emitting a tile twice
    col0 = F.ceil((minx - F.lit(halo + ts - p)) / F.lit(ts) - F.lit(1e-12)).cast("int")
    col1 = F.floor((maxx + F.lit(p)) / F.lit(ts) + F.lit(1e-12)).cast("int")
    col1 = F.least(col1, col0 + F.lit(n_cols - 1))
    row0 = F.greatest(F.ceil((F.lit(p / 2 - halo - ts) - maxy) / F.lit(ts) - F.lit(1e-12)), F.lit(0)).cast("int")
    row1 = F.least(F.floor((F.lit(p / 2) - miny) / F.lit(ts) + F.lit(1e-12)), F.lit(n_rows - 1)).cast("int")
    return {"tile_col0": col0, "tile_col1": F.greatest(col0, col1),
            "tile_row0": row0, "tile_row1": F.greatest(row0, row1)}


def tile_tag(col: Column, row: Column) -> Column:
    """``h%03dv%03d``  [ref: lib/global_task.py:225-232]"""
    return F.format_string("h%03dv%03d", col, row)


# ---------------------------------------------------------------------------
# misc scalar functions (SURVEY.md §2.8)
# ---------------------------------------------------------------------------

def qa_decode(qa: Column, bit: int) -> Column:
    """F6-style bit decode: extract a QA bit as 0/1."""
    return F.shiftrightunsigned(qa.cast("long"), bit).bitwiseAND(F.lit(1))


def haversine_km(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance (km) as column math (for kNN refine)."""
    r = 6371.0088
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (F.sin(dlat / 2) ** 2
         + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2)
    return F.lit(2 * r) * F.asin(F.sqrt(a))
