"""GeoCell — the engine's hierarchical spatial index (pure column math).

Role in the design (SURVEY.md §2 "engine extensions", §4 item 1): the
reference's Lucene text index (JenaTextConfig.java:45-61) is an *access path*
— a derived structure that turns an expensive predicate into a cheap
pre-filter.  In Spark the idiomatic equivalent is a derived **cell-id
column**: compute it at write time, partition/cluster the table by it, and
every spatial join becomes a cell equi-join pre-filter + exact residual
predicate (classic filter-refine).

Cell scheme
-----------
Equirectangular power-of-two grid ("geocell"): at resolution ``g`` the world
is a 2^g × 2^g grid over lon ∈ [-180, 180), lat ∈ [-90, 90):

    cx      = floor((lon + 180) / 360 * 2^g)           clamped to 2^g - 1
    cy      = floor((lat +  90) / 180 * 2^g)           clamped to 2^g - 1
    cell_id = cy * 2^g + cx                            (BIGINT, g ≤ 28)

Parent/child is pure arithmetic (cx >> 1, cy >> 1), ring-k neighborhoods are
the Chebyshev box dx,dy ∈ [-k, k] with x wraparound — both expressible as
Catalyst column math (and as ANSI SQL for the DuckDB oracle; every function
here has a ``*_sql`` twin emitting the equivalent SQL text).

H3 parity note: true H3 (icosahedral aperture-7 hexagons) is not available
in this sandbox and a from-scratch port would be >10^3 lines of non-Spark
code for no planner benefit.  The engine keeps H3's *interface* (multi-
resolution encode, ring expansion, parent/child) on the square grid, with
resolutions chosen to match H3 edge lengths:

    H3 res 7 ≈ 1.22 km edge  ->  geocell g=15 (360°/2^15 ≈ 1.22 km at equator)
    H3 res 8 ≈ 0.46 km       ->  geocell g=16
    H3 res 9 ≈ 0.17 km       ->  geocell g=18 (0.31 km at g=17; g=18 = 0.153)
    H3 res 10 ≈ 0.066 km     ->  geocell g=19

If the ``h3`` PyPI package is present it can be dropped in behind
``encode_cells`` (same column names); absence changes the cell boundaries,
never the join *semantics* (candidate supersets + exact refine).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# H3-resolution-alias → geocell grid exponent
H3_ALIAS = {7: 15, 8: 16, 9: 18, 10: 19}

EARTH_RADIUS_M = 6371000.8


# ---------------------------------------------------------------- encode

def cell_xy(lon: Column, lat: Column, g: int) -> tuple[Column, Column]:
    """Grid coordinates (cx, cy) at resolution g — pure Catalyst math."""
    n = F.lit(float(2**g))
    cx = F.least(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n), F.lit(2**g - 1))
    cy = F.least(F.floor((lat + F.lit(90.0)) / F.lit(180.0) * n), F.lit(2**g - 1))
    cx = F.greatest(cx, F.lit(0)).cast("long")
    cy = F.greatest(cy, F.lit(0)).cast("long")
    return cx, cy


def cell_id(lon: Column, lat: Column, g: int) -> Column:
    cx, cy = cell_xy(lon, lat, g)
    return (cy * F.lit(2**g) + cx).alias(f"cell_g{g}")


def cell_id_sql(lon: str, lat: str, g: int) -> str:
    """ANSI-SQL twin of cell_id (DuckDB-runnable) — keep in lockstep."""
    n = 2**g
    cx = f"GREATEST(LEAST(CAST(FLOOR(({lon} + 180.0) / 360.0 * {n}.0) AS BIGINT), {n - 1}), 0)"
    cy = f"GREATEST(LEAST(CAST(FLOOR(({lat} + 90.0) / 180.0 * {n}.0) AS BIGINT), {n - 1}), 0)"
    return f"({cy} * {n} + {cx})"


def with_cells(df: DataFrame, lon: str = "lon", lat: str = "lat",
               resolutions: tuple[int, ...] = (7, 8, 9, 10)) -> DataFrame:
    """Attach cell_r{h3res} columns (the write-time 'index build', SURVEY §3 E3)."""
    for r in resolutions:
        g = H3_ALIAS[r]
        df = df.withColumn(f"cell_r{r}", cell_id(F.col(lon), F.col(lat), g))
    return df


def parent_cell(cell: Column, g: int, steps: int = 1) -> Column:
    """Parent cell id g → g-steps (cx>>s, cy>>s re-packed)."""
    n = F.lit(2**g)
    cy = F.floor(cell / n)
    cx = cell % n
    gp = g - steps
    return (F.shiftright(cy.cast("long"), steps) * F.lit(2**gp)
            + F.shiftright(cx.cast("long"), steps))


# ---------------------------------------------------------------- rings

def expand_ring(df: DataFrame, cell_col: str, g: int, k: int,
                out_col: str = "probe_cell") -> DataFrame:
    """Explode each row into its ≤(2k+1)^2 neighbor cells (x wraps, y clamps).

    This is the kNN candidate generator: join ``out_col`` against the
    address table's cell column. Uses sequence+transform+array_distinct+
    explode so the blow-up stays JVM-side; no UDF, no driver loop.

    array_distinct is load-bearing: y-clamping at the poles (and x wrap on
    tiny grids) maps several offsets to the same cell, and a duplicated
    probe cell would duplicate every candidate it contributes — silently
    corrupting k>1 ranks downstream.
    """
    n = 2**g
    cy = F.floor(F.col(cell_col) / F.lit(n))
    cx = F.col(cell_col) % F.lit(n)
    df = df.withColumn("_cx", cx).withColumn("_cy", cy)
    probes = F.expr(
        f"array_distinct(flatten(transform(sequence({-k}, {k}), dy -> "
        f"transform(sequence({-k}, {k}), dx -> "
        f"greatest(least(_cy + dy, {n - 1}), 0) * cast({n} as bigint)"
        f" + pmod(_cx + dx, {n})))))"
    )
    return (df.withColumn(out_col, F.explode(probes))
              .drop("_cx", "_cy"))


# ---------------------------------------------------------------- haversine

def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters — Catalyst built-ins only."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (F.sin(dlat / 2) ** 2
         + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def haversine_m_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    return (
        f"(2.0 * {EARTH_RADIUS_M} * ASIN(SQRT("
        f"POW(SIN(RADIANS(({lat2}) - ({lat1})) / 2), 2)"
        f" + COS(RADIANS({lat1})) * COS(RADIANS({lat2}))"
        f" * POW(SIN(RADIANS(({lon2}) - ({lon1})) / 2), 2))))"
    )


# ---------------------------------------------------------------- numpy twins (pytest oracles)

def np_cell_id(lon: np.ndarray, lat: np.ndarray, g: int) -> np.ndarray:
    n = 2**g
    cx = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    cy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return cy * n + cx


def np_haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    lat1, lat2 = np.radians(lat1), np.radians(lat2)
    dlat = lat2 - lat1
    dlon = np.radians(np.asarray(lon2) - np.asarray(lon1))
    a = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))
