"""Footprint derivation over the images table (SURVEY.md §2.6 R4).

Adds the catalog columns the reference keeps per file in its
``geo_band_stack_zip`` shapefile catalog [ref: mod/geo_raster_ex_c.pyx:843-988]:
center lon/lat, bbox, DGGS cell id, geotransform — all as pure column
expressions (whole-stage codegen; zero Python in the scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import functions as gf
from ..dggs import DEFAULT_RES
from ..synth import CELL_SIZE


def with_footprint(images: DataFrame, res: int = DEFAULT_RES,
                   cell_size: float = CELL_SIZE) -> DataFrame:
    """images(image_id, w, h, phash, ...) -> + lon, lat, minx/miny/maxx/maxy,
    cell (DGGS id of the center), gt (GDAL 6-tuple array).

    SplitMix64 column math, fused into the scan by whole-stage codegen;
    bit-identical to the NumPy twins ``synth.image_meta`` / ``dggs``
    (asserted in tests).  Needs ``spark.sql.ansi.enabled=false`` for the
    wrapping long multiply (see ``functions``)."""
    lon = gf.image_lon(F.col("phash"))
    lat = gf.image_lat(F.col("phash"))
    df = images.withColumn("lon", lon).withColumn("lat", lat)
    fc = gf.footprint_cols(F.col("lon"), F.col("lat"), F.col("w"), F.col("h"), cell_size)
    for k, v in fc.items():
        df = df.withColumn(k, v)
    df = df.withColumn("cell", gf.geocell(F.col("lon"), F.col("lat"), res))
    df = df.withColumn("gt", F.array(
        F.col("minx"), F.lit(cell_size), F.lit(0.0),
        F.col("maxy"), F.lit(0.0), F.lit(-cell_size)))
    return df
