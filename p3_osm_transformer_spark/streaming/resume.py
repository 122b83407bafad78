"""Resumable stage runs: idempotent snapshot writes + anti-join restart,
with per-partition lineage and row-count/latency metrics (north rule).

The reference's persistence story is `store()` — serialize everything to a
temp file and reload (OsmRdfTransformer.java:235-244) — and its cache is
broken (SURVEY.md §2 S8).  The engine replaces both with a real contract:

* a stage writes its output as an immutable catalog snapshot (Iceberg-
  analogue commit, sources/catalog.py);
* on restart, `resume_run` anti-joins the input's key column against the
  already-committed output, so only unprocessed keys are recomputed —
  the processed set is never touched (idempotent, exactly-once per key);
* every run records an observe()-based metrics row (row counts in/out,
  wall latency, rows per written file from the snapshot's manifest) next
  to the snapshot.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from p3_osm_transformer_spark.sources.catalog import Catalog


def resume_run(
    spark: SparkSession,
    catalog: Catalog,
    table: str,
    inputs: DataFrame,
    key_col: str,
    transform: Callable[[DataFrame], DataFrame],
    partition_by: list[str] | None = None,
) -> dict:
    """Run ``transform`` over only the not-yet-processed input rows, append
    the result as a new snapshot, record metrics. Returns the metrics dict.
    """
    t0 = time.perf_counter()
    if catalog.exists(table):
        # the processed set is the UNION of all committed snapshots — each
        # snapshot holds only its own run's new rows, so anti-joining the
        # latest snapshot alone would re-process every key from runs ≥ 2
        # back (r3 fix; the logical-table read, Iceberg semantics)
        done = full_table(spark, catalog, table).select(key_col).distinct()
        todo = inputs.join(done, key_col, "left_anti")
        resumed = True
    else:
        todo, resumed = inputs, False

    obs_in = Observation()
    todo = todo.observe(obs_in, F.count(F.lit(1)).alias("rows_in"))
    out = transform(todo)
    obs_out = Observation()
    out = out.observe(obs_out, F.count(F.lit(1)).alias("rows_out"))

    snap = catalog.write_snapshot(out, table, partition_by=partition_by)
    wall = time.perf_counter() - t0
    metrics = {
        "table": table,
        "snapshot": snap,
        "resumed": resumed,
        "rows_in": int(obs_in.get["rows_in"]),
        "rows_out": int(obs_out.get["rows_out"]),
        "wall_sec": round(wall, 3),
        "partition_rows": [n for e in catalog.manifest_of(table, snap).values()
                           for n in e["file_rows"]],
    }
    mpath = os.path.join(catalog.root, table, f"snap-{snap}.metrics.json")
    with open(mpath, "w") as f:
        json.dump(metrics, f)
    return metrics


def full_table(spark: SparkSession, catalog: Catalog, table: str) -> DataFrame:
    """Union of the LIVE snapshot chain = the logical table content
    (after a compaction, the base snapshot + everything since — see
    Catalog.live_snapshots; replaced-but-unexpired snapshots are
    time-travel surface, not part of the logical table)."""
    dfs = [catalog.read(spark, table, s)
           for s in catalog.live_snapshots(table)]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out
