"""Benchmark of geo_raster_spark (see README.md)."""
