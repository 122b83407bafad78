"""Skew handling for dense urban cells (north rule; SURVEY.md §4 item 2).

Geodata is pathologically skewed: a handful of geocells (city centers)
hold orders of magnitude more points than the median cell.  Two engine
mechanisms, composable with any cell-keyed operator:

1. ``hot_cells`` — detection: per-cell counts at a coarse resolution
   (groupBy + count is map-side-partial, cheap), thresholded at
   ``factor ×`` the mean.  This is the A-ext aggregate from SURVEY.md §2.

2. ``salted_agg`` — explicit mitigation where the built-in AQE
   skew-join split (enabled in session.py) can't see the problem, e.g.
   a cell-keyed groupBy: append a salt in [0, n_salts) derived from a
   stable row key (``with_salt``), aggregate partially per (cell, salt),
   then merge per cell — the classic two-phase pattern.

AQE note: joins get runtime skew splitting for free
(spark.sql.adaptive.skewJoin.enabled, session.py); these helpers matter
for aggregations and for static planning at 10^12-row scale where a 2-level
agg avoids one giant hot reducer regardless of AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_cells(df: DataFrame, cell_col: str, factor: float = 16.0) -> DataFrame:
    """Cells whose row count exceeds factor × mean — the skew report the
    north rule's per-partition metrics feed on."""
    counts = df.groupBy(cell_col).agg(F.count("*").alias("n_rows"))
    stats = counts.agg(F.avg("n_rows").alias("_mean"))
    return (counts.crossJoin(F.broadcast(stats))
            .filter(F.col("n_rows") > F.col("_mean") * factor)
            .select(cell_col, "n_rows"))


def with_salt(df: DataFrame, key_col: str, n_salts: int = 16,
              salt_col: str = "salt") -> DataFrame:
    """Deterministic salt from a stable row key (never rand() — resumable
    stages must be replay-identical, per the checkpoint/resume contract)."""
    return df.withColumn(salt_col, F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_salts)))


def salted_agg(df: DataFrame, cell_col: str, key_col: str,
               aggs: dict[str, str], n_salts: int = 16) -> DataFrame:
    """Two-phase aggregate: partial per (cell, salt) → final per cell.

    aggs: {output_col: 'sum(col)' | 'count(*)' | 'max(col)' ...} — only
    algebraic aggregates (re-aggregable partials) are accepted.
    """
    merge_fn = {"sum": F.sum, "count": F.sum, "max": F.max, "min": F.min}
    partial_exprs, final_exprs = [], []
    for out, spec in aggs.items():
        fn_name, _, col = spec.partition("(")
        col = col.rstrip(")")
        fn_name = fn_name.lower()
        if fn_name not in merge_fn:
            raise ValueError(f"non-algebraic aggregate {spec!r} — cannot salt")
        partial = F.count("*") if (fn_name == "count") else getattr(F, fn_name)(col)
        partial_exprs.append(partial.alias(f"_p_{out}"))
        final_exprs.append(merge_fn[fn_name](f"_p_{out}").alias(out))
    salted = with_salt(df, key_col, n_salts)
    part = salted.groupBy(cell_col, "salt").agg(*partial_exprs)
    return part.groupBy(cell_col).agg(*final_exprs)
