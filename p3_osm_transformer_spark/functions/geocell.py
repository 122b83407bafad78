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

``with_cells`` names its columns by H3 resolution: ``H3_ALIAS`` maps H3
res 7-10 to the grid exponent with the closest edge length:

    H3 res 7 ≈ 1.22 km edge  ->  geocell g=15 (360°/2^15 ≈ 1.22 km at equator)
    H3 res 8 ≈ 0.46 km       ->  geocell g=16
    H3 res 9 ≈ 0.17 km       ->  geocell g=18 (0.31 km at g=17; g=18 = 0.153)
    H3 res 10 ≈ 0.066 km     ->  geocell g=19

NULL semantics: a NULL lon or lat gives a NULL cell (never a clamped
corner cell — Spark's and DuckDB's ``least``/``greatest`` skip NULLs, so
the clamps below are CASE chains).  The icosahedral hexcell grid is
functions/hexcell.py and the true S2 ids functions/s2cell.py; both
encode through ``arrow_cells`` below with the same NULL-in → NULL-out
rule.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# H3-resolution-alias → geocell grid exponent
H3_ALIAS = {7: 15, 8: 16, 9: 18, 10: 19}

EARTH_RADIUS_M = 6371000.8


# ---------------------------------------------------------------- encode

def clamp(x: Column, lo: int | float | None, hi: int | float) -> Column:
    """x clamped to [lo, hi] (no lower bound for ``lo=None``).  NULL stays
    NULL: ``least``/``greatest`` skip it."""
    c = F.when(x > F.lit(hi), F.lit(hi))
    if lo is not None:
        c = c.when(x < F.lit(lo), F.lit(lo))
    return c.otherwise(x)


def clamp_sql(x: str, lo: int | float | None, hi: int | float) -> str:
    """SQL twin of ``clamp``."""
    low = f" WHEN {x} < {lo} THEN {lo}" if lo is not None else ""
    return f"(CASE WHEN {x} > {hi} THEN {hi}{low} ELSE {x} END)"


def cell_xy(lon: Column, lat: Column, g: int) -> tuple[Column, Column]:
    """Grid coordinates (cx, cy) at resolution g — pure Catalyst math."""
    n = F.lit(float(2**g))
    cx = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n)
    cy = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * n)
    return (clamp(cx, 0, 2**g - 1).cast("long"),
            clamp(cy, 0, 2**g - 1).cast("long"))


def cell_id(lon: Column, lat: Column, g: int) -> Column:
    cx, cy = cell_xy(lon, lat, g)
    return (cy * F.lit(2**g) + cx).alias(f"cell_g{g}")


def cell_id_sql(lon: str, lat: str, g: int) -> str:
    """ANSI-SQL twin of cell_id (DuckDB-runnable) — keep in lockstep."""
    n = 2**g
    cx = clamp_sql(f"CAST(FLOOR(({lon} + 180.0) / 360.0 * {n}.0) AS BIGINT)",
                   0, n - 1)
    cy = clamp_sql(f"CAST(FLOOR(({lat} + 90.0) / 180.0 * {n}.0) AS BIGINT)",
                   0, n - 1)
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


# ---------------------------------------------------------------- Arrow encodes

def arrow_cells(kernel, *cols: pa.Array) -> pa.Array:
    """A cell encode's numpy ``kernel`` over the Arrow inputs of a scalar
    Arrow UDF, NULL in → NULL out: only the rows where every input is
    non-NULL and finite go through it, as float64 (int64 for integer
    inputs: cell ids); every other row is NULL.  ``kernel`` returns one
    value per row, or one list per row as (offsets, values)."""
    arrs, ok = [], np.ones(len(cols[0]), dtype=bool)
    for c in cols:
        t = pa.int64() if pa.types.is_integer(c.type) else pa.float64()
        a = pc.fill_null(pc.cast(c, t), 0).to_numpy()
        ok &= c.is_valid().to_numpy(zero_copy_only=False) & np.isfinite(a)
        arrs.append(a)
    out = kernel(*(a[ok] for a in arrs))
    if isinstance(out, tuple):
        offs, vals = out
        lens = np.zeros(len(ok), dtype=np.int64)
        lens[ok] = np.diff(offs)
        offs = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
        return pa.ListArray.from_arrays(pa.array(offs), pa.array(vals),
                                        mask=pa.array(~ok))
    full = np.zeros(len(ok), dtype=out.dtype)
    full[ok] = out
    return pa.array(full, mask=~ok)


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
