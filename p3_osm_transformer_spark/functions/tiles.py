"""Slippy-map (Web-Mercator XYZ) tile math — pure Catalyst column math.

The raster-tile assignment extension (BASELINE.json north_star): map a
lon/lat (or a decoded pixel's geo position) to its z/x/y tile.  Standard
public formula (OSM wiki "Slippy map tilenames"):

    xtile = floor((lon + 180) / 360 * 2^z)
    ytile = floor((1 - asinh(tan(lat_rad)) / pi) / 2 * 2^z)

``asinh(tan(x))`` is written ``ln(tan(x) + 1/cos(x))`` so the identical
expression runs in Spark SQL and DuckDB (the oracle twin).  Latitude is
clamped to the Web-Mercator limit ±85.05113°.  A NULL lon or lat gives a
NULL tile (``geocell.clamp``: ``least``/``greatest`` would skip it).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from p3_osm_transformer_spark.functions.geocell import clamp, clamp_sql

MERC_LAT_LIMIT = 85.05112878


def tile_xy(lon: Column, lat: Column, z: int) -> tuple[Column, Column]:
    n = F.lit(float(2**z))
    lat_r = F.radians(clamp(lat, -MERC_LAT_LIMIT, MERC_LAT_LIMIT))
    tx = clamp(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n), None, 2**z - 1)
    merc = F.log(F.tan(lat_r) + F.lit(1.0) / F.cos(lat_r))
    ty = F.floor((F.lit(1.0) - merc / F.lit(float(np.pi))) / F.lit(2.0) * n)
    return tx.cast("long"), clamp(ty, 0, 2**z - 1).cast("long")


def tile_id(lon: Column, lat: Column, z: int) -> Column:
    """Single BIGINT tile key: ty * 2^z + tx (z ≤ 28)."""
    tx, ty = tile_xy(lon, lat, z)
    return (ty * F.lit(2**z) + tx).alias(f"tile_z{z}")


def tile_id_sql(lon: str, lat: str, z: int) -> str:
    n = 2**z
    lat_r = f"RADIANS({clamp_sql(lat, -MERC_LAT_LIMIT, MERC_LAT_LIMIT)})"
    tx = clamp_sql(f"CAST(FLOOR(({lon} + 180.0) / 360.0 * {n}.0) AS BIGINT)",
                   None, n - 1)
    merc = f"LN(TAN({lat_r}) + 1.0 / COS({lat_r}))"
    ty = clamp_sql(f"CAST(FLOOR((1.0 - {merc} / PI()) / 2.0 * {n}.0) AS BIGINT)",
                   0, n - 1)
    return f"({ty} * {n} + {tx})"


def np_tile_id(lon: np.ndarray, lat: np.ndarray, z: int) -> np.ndarray:
    n = 2**z
    lat_c = np.clip(lat, -MERC_LAT_LIMIT, MERC_LAT_LIMIT)
    lat_r = np.radians(lat_c)
    tx = np.minimum(np.floor((lon + 180.0) / 360.0 * n), n - 1).astype(np.int64)
    merc = np.log(np.tan(lat_r) + 1.0 / np.cos(lat_r))
    ty = np.clip(np.floor((1.0 - merc / np.pi) / 2.0 * n), 0, n - 1).astype(np.int64)
    return ty * n + tx
