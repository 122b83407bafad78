"""SparkSession factory.

One place to set the engine's execution knobs so every entry point (tests,
bench, driver contract) runs with the same scale-oriented defaults:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (all pandas-UDF traffic is Arrow-batched)
- UTC session timezone (deterministic timestamp semantics vs the DuckDB oracle)
- shuffle partitions sized to local cores (overridable for the 1000-executor
  deployment via spark-submit --conf)
- a generated-class cache (``spark.sql.codegen.cache.maxEntries``) above
  the engine's working set, so a query run again in the same JVM reuses
  its compiled classes instead of recompiling (and re-JITting) them.  The
  conf is static: the first session in a JVM fixes it.
- on ``local[...]`` masters, the Python worker daemon of ``pyworker.py``,
  which spares each UDF task a re-read of every zip on the workers' import
  path (``worker_confs``).  Only local masters: the daemon is loaded from
  the driver's copy of the package, which only there is on the workers'
  filesystem; other masters keep Spark's default daemon.
- on ``local[...]`` masters, ``file:`` paths through
  ``jvm/NioLocalFileSystem.java`` (``local_fs_confs``): without Hadoop's
  native library the stock local filesystem forks a ``chmod`` from the
  driver JVM for every directory and file a write creates.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import tempfile

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
    # Generated-class cache (static: the first session in a JVM sets it).
    # Spark's default of 100 entries is below the engine's working set:
    # one perfbench spatial_dedup_ann job compiles 97 entries and its
    # whole process 124 (264 class files, ~0.57 MB of bytecode), so with
    # 100 each repeat of the job recompiled 30-40 of them and the JIT
    # compiled those again.  At 1000 a repeat compiles none.
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}

# Bucketed tables (sources/bucketed.py) go through saveAsTable; keep the
# warehouse out of the repo checkout.  User+PID-scoped so concurrent runs
# (or different users on a shared host) never rmtree each other's bucketed
# tables mid-test.
_ENGINE_CONFS["spark.sql.warehouse.dir"] = os.path.join(
    tempfile.gettempdir(), f"spark_graft_warehouse_{os.getuid()}_{os.getpid()}")


_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_confs(master: str, pythonpath: str | None = None) -> dict[str, str]:
    """Python worker settings for ``master``: on a local master, the
    ``pyworker`` daemon, with the package's parent (the checkout, or the
    --py-files zip the package came from) first on the workers' PYTHONPATH,
    ahead of the caller's ``pythonpath``.  Empty for any other master."""
    if master != "local" and not master.startswith("local["):
        return {}
    path = os.pathsep.join(p for p in (_PKG_PARENT, pythonpath) if p)
    return {"spark.python.daemon.module": "p3_osm_transformer_spark.pyworker",
            "spark.executorEnv.PYTHONPATH": path}


_LOCAL_FS = "p3_osm_transformer_spark.jvm.NioLocalFileSystem"


def local_fs_confs(master: str, classpath: str | None = None) -> dict[str, str]:
    """``file:`` paths through ``_LOCAL_FS`` on a local master, compiled by
    javac on first use into the temp directory, ahead of the driver
    ``classpath``.  Empty for other masters, without javac, and once a
    driver JVM runs: its classpath is fixed, and a JVM these confs
    launched keeps them for every later SparkContext."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home
    if (master != "local" and not master.startswith("local[")
            or SparkContext._jvm is not None or "PYSPARK_GATEWAY_PORT" in os.environ):
        return {}
    src = os.path.join(os.path.dirname(__file__), "jvm", "NioLocalFileSystem.java")
    out = os.path.join(tempfile.gettempdir(), f"p3osm_jvm_{os.stat(src).st_mtime_ns}")
    if not os.path.isdir(out):              # compile, then rename into place
        jars = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-*.jar"))
        tmp = tempfile.mkdtemp(prefix="p3osm_jvm_build_")
        try:
            subprocess.run(["javac", "-nowarn", "-cp", os.pathsep.join(jars),
                            "-d", tmp, src], check=True, capture_output=True)
            os.rename(tmp, out)
        except (OSError, subprocess.CalledProcessError):   # or lost a race
            shutil.rmtree(tmp, ignore_errors=True)
    if not os.path.isdir(out):
        return {}
    return {"spark.hadoop.fs.file.impl": _LOCAL_FS,
            "spark.driver.extraClassPath": os.pathsep.join(
                p for p in (out, classpath) if p)}


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
    confs = {**_ENGINE_CONFS, **(extra_confs or {})}
    confs.update(worker_confs(master, confs.get("spark.executorEnv.PYTHONPATH")))
    confs.update(local_fs_confs(master, confs.get("spark.driver.extraClassPath")))
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

