"""Bucketed (co-clustered) tables — shuffle-free repeated joins.

The reference's Lucene index (JenaTextConfig.java:45-61) pays an indexing
cost at load time so every later query probes cheaply.  The Spark-native
analogue for the *join* access path is bucketing: pay ONE shuffle at write
time (``bucketBy(n, key)`` + ``sortBy``), and every later equi-join between
tables bucketed on the same key with the same bucket count runs as a
sort-merge join with ZERO Exchange on either side — the decisive layout
move for the 10^12-row image table that is re-joined against the address
table every pipeline run.

At cluster scale the bucket count is sized to target-partition-bytes
(~128-256 MB per bucket per the 100 TB design point); locally the tests
use small counts.  ``assert_no_shuffle_join`` is the plan-audit helper —
tests and tools/plan_audit.py use it to prove the Exchange really
disappeared rather than trusting the config.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int) -> None:
    """Persist ``df`` bucketed + sorted by ``key`` (one-time shuffle).

    Drops any previous incarnation first: with a session-local (in-memory)
    catalog a table from an earlier process isn't registered but its
    warehouse directory survives, and saveAsTable refuses to create over
    an existing location."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    loc = os.path.join(wh.removeprefix("file:"), table)
    if loc.startswith("/") and os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)
    (df.write.mode("overwrite").format("parquet")
       .bucketBy(buckets, key).sortBy(key)
       .saveAsTable(table))  # managed: lives under spark.sql.warehouse.dir


def bucketed_equi_join(spark: SparkSession, left_table: str,
                       right_table: str, key: str,
                       how: str = "inner") -> DataFrame:
    """Equi-join two co-bucketed tables on their bucket key.

    With matching bucket counts Catalyst plans SortMergeJoin with no
    Exchange; broadcast is disabled for this plan so the bucketing (not a
    small-side special case) is what's exercised."""
    left, right = spark.table(left_table), spark.table(right_table)
    return left.hint("merge").join(right, key, how)


def plan_has_shuffle(df: DataFrame) -> bool:
    """True if the physical plan contains any Exchange operator."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange" in plan


def assert_no_shuffle_join(df: DataFrame) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        raise AssertionError(f"expected shuffle-free bucketed join, got:\n{plan}")
