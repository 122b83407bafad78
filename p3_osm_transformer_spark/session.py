"""SparkSession factory.

One place to set the engine's execution knobs so every entry point (tests,
bench, driver contract) runs with the same scale-oriented defaults:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (all pandas-UDF traffic is Arrow-batched)
- UTC session timezone (deterministic timestamp semantics vs the DuckDB oracle)
- shuffle partitions sized to local cores (overridable for the 1000-executor
  deployment via spark-submit --conf)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Knobs that matter at 100 TB and are safe defaults at sf0.1:
_ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Binary image payloads: keep Arrow batches bounded so a batch of
    # bytes columns fits comfortably in executor memory.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.parquet.compression.codec": "zstd",
    # localCheckpoint blocks (dedup_near signatures, knn_ring rounds) are
    # freed by ContextCleaner only after the driver JVM GCs the RDD
    # handle; with a 48g heap that can take the default 30min, so long
    # sessions accrete ~70MB of dead checkpoint blocks per pipeline call
    # (measured: 4 dedup_near calls → 4 live RDDs, 278MB).  A 2min
    # periodic System.gc() bounds that without measurable pause cost.
    "spark.cleaner.periodicGC.interval": "2min",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}

# Bucketed tables (sources/bucketed.py) go through saveAsTable; keep the
# warehouse out of the repo checkout.  User+PID-scoped so concurrent runs
# (or different users on a shared host) never rmtree each other's bucketed
# tables mid-test.
import getpass  # noqa: E402
import tempfile  # noqa: E402

try:
    _USER = getpass.getuser()
except (KeyError, OSError):
    _USER = "anon"
_ENGINE_CONFS["spark.sql.warehouse.dir"] = os.path.join(
    tempfile.gettempdir(), f"spark_graft_warehouse_{_USER}_{os.getpid()}")


def get_spark(
    app_name: str = "p3_osm_transformer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the bench harness can run the identical job at two parallelism levels.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    n_threads = 32
    if master.startswith("local[") and master[6:-1].isdigit():
        n_threads = int(master[6:-1])
    if shuffle_partitions is None:
        shuffle_partitions = max(n_threads, 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.default.parallelism", str(max(n_threads, 8)))
    # local mode: driver memory is the only memory knob.
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    for k, v in _ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

