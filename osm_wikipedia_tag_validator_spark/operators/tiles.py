"""Raster-tile ↔ vector assignment (the north-star tiling stage).

Each image/element location gets a Web-Mercator XYZ raster tile id
(standard slippy-map math — public formula) as a pure Catalyst
expression; `plans.pipeline.image_tile_assignments` then assigns the
tiles to the vector layer (region polygons) so every tile carries its
validated caption/tag lineage.

Tile id packing matches the DGG cell packing (functions/cells.py):
  tile_id = (z << 58) | (x << 29) | y
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

_MAX_MERC_LAT = 85.05112878


def tile_xyz_cols(lon: Column, lat: Column, z: int) -> tuple[Column, Column]:
    n = 1 << z
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    lat_c = F.greatest(F.lit(-_MAX_MERC_LAT), F.least(lat, F.lit(_MAX_MERC_LAT)))
    lat_r = F.radians(lat_c)
    y = F.floor(
        (
            F.lit(1.0)
            - F.log(F.tan(lat_r) + F.lit(1.0) / F.cos(lat_r)) / F.lit(math.pi)
        )
        / F.lit(2.0)
        * F.lit(float(n))
    )
    clampx = F.greatest(F.lit(0), F.least(x, F.lit(n - 1))).cast("long")
    clampy = F.greatest(F.lit(0), F.least(y, F.lit(n - 1))).cast("long")
    return clampx, clampy


def tile_id_col(lon: Column, lat: Column, z: int) -> Column:
    x, y = tile_xyz_cols(lon, lat, z)
    return (
        F.lit(z).cast("long") * F.lit(1 << 58).cast("long")
        + F.shiftleft(x, 29)
        + y
    )


def tile_id_sql(lon_expr: str, lat_expr: str, z: int) -> str:
    """Same math as ANSI SQL for the DuckDB oracle."""
    n = 1 << z
    x = f"GREATEST(0, LEAST(CAST(FLOOR(({lon_expr} + 180.0) / 360.0 * {float(n)}) AS BIGINT), {n - 1}))"
    latc = f"GREATEST(-{_MAX_MERC_LAT}, LEAST({lat_expr}, {_MAX_MERC_LAT}))"
    latr = f"RADIANS({latc})"
    y = (
        f"GREATEST(0, LEAST(CAST(FLOOR((1.0 - LN(TAN({latr}) + 1.0/COS({latr})) / PI()) / 2.0 * {float(n)}) AS BIGINT), {n - 1}))"
    )
    return f"(CAST({z} AS BIGINT) * {1 << 58} + ({x} * {1 << 29}) + {y})"


def assign_tiles(
    df: DataFrame, z: int, lon_col: str = "lon", lat_col: str = "lat"
) -> DataFrame:
    """Add tile_id/tile_x/tile_y columns — no UDF, no shuffle."""
    x, y = tile_xyz_cols(F.col(lon_col), F.col(lat_col), z)
    return (
        df.withColumn("tile_x", x)
        .withColumn("tile_y", y)
        .withColumn("tile_id", tile_id_col(F.col(lon_col), F.col(lat_col), z))
    )
