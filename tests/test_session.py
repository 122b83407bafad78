"""Engine session settings that outlive one query: the generated-class
cache holds a query's working set, the package's pandas UDFs follow the
SparkContext they run in, and local writes fork no ``chmod``."""

from __future__ import annotations

import os
import stat
import subprocess
import sys
import textwrap

import numpy as np
from pyspark.sql import functions as F

from p3_osm_transformer_spark.operators import dedup, pip, simsearch
from p3_osm_transformer_spark.operators.tile_assign import assign_tiles
from p3_osm_transformer_spark.sources import fixtures as fx

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _composite(spark) -> list:
    """pip_join + assign_tiles aggregate, dedup_near and cosine_topk_lsh
    on tiny inputs, each built afresh and collected."""
    pts = fx.osm_nodes(spark, 400).filter("id > 0") \
        .selectExpr("id as point_id", "lon", "lat")
    tiled = assign_tiles(pip.pip_join(pts, fx.admin_polygons(spark, 16)))
    cols = ["cell_r7", "cell_r8", "cell_r9", "cell_r10", "tile_z12", "tile_z15"]
    agg = tiled.groupBy("polygon_id").agg(
        F.count(F.lit(1)).alias("n"), *[F.sum(c).alias(c) for c in cols])
    texts = ["the quick brown fox jumps over the lazy dog number %d" % i
             for i in range(40)]
    docs = spark.createDataFrame(
        list(enumerate(texts + [t + "!" for t in texts[:10]])),
        "doc_id long, text string")
    rng = np.random.RandomState(3)
    vecs = rng.randn(60, 8)
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    q = emb.filter("vec_id < 8").selectExpr("vec_id as query_id", "embedding")
    c = emb.selectExpr("vec_id as neighbor_id", "embedding")
    return [sorted(df.collect()) for df in (
        agg, dedup.dedup_near(docs, threshold=0.7),
        simsearch.cosine_topk_lsh(q, c, k=3, prefix_bits=2))]


def test_repeated_query_compiles_no_class(spark):
    # The composite compiles about 120 classes, above Spark's default cache
    # of 100, so a second run recompiled about 95 of them.  AQE is off here:
    # it numbers codegen stages in the order its query stages finish, so
    # a rerun under AQE may legitimately compile a renamed class.
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    confs = {"spark.sql.adaptive.enabled": "false",
             "spark.sql.shuffle.partitions": "2"}
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        first = _composite(spark)
        n0 = compiles.getCount()
        second = _composite(spark)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert second == first
    assert compiles.getCount() - n0 == 0


_SECOND_SESSION = textwrap.dedent("""
    from pyspark.sql import functions as F
    from p3_osm_transformer_spark.functions.hexcell import hex_cellid
    from p3_osm_transformer_spark.functions.s2cell import s2_cellid
    from p3_osm_transformer_spark.session import get_spark

    def encode(spark):
        df = spark.range(0, 64, 1, 2).select(
            (F.col("id") / 10.0).alias("lon"), (F.col("id") / 20.0).alias("lat"))
        return df.select(s2_cellid("lon", "lat", 12).alias("s"),
                         hex_cellid("lon", "lat", 7).alias("h"))

    spark = get_spark(master="local[1]")
    encode(spark)          # a UDF binds its JVM function when applied
    spark.stop()
    spark = get_spark(master="local[1]")
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    assert len(encode(spark).collect()) == 64
    spark.profile.show(type="perf")
    spark.stop()
""")


def test_udfs_report_to_a_later_session():
    # a pandas UDF built once per process kept the first SparkContext's
    # accumulator: each of its tasks in a later session failed to report
    path = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    out = subprocess.run([sys.executable, "-c", _SECOND_SESSION],
                         capture_output=True, text=True, timeout=300,
                         cwd=ROOT, env={**os.environ, "PYTHONPATH": path})
    assert out.returncode == 0, out.stderr[-3000:]
    assert "Failed to update accumulator" not in out.stderr
    assert "(_s2_cellid_udf)" in out.stdout
    assert "(_hex_cellid_udf)" in out.stdout


def test_local_fs_sets_permissions_without_chmod(spark, tmp_path):
    # the session's file: filesystem maps each permission bit as chmod did
    from p3_osm_transformer_spark.session import _LOCAL_FS
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == _LOCAL_FS
    for mode in ("750", "604", "777", "000", "421"):
        d = tmp_path / f"d{mode}"
        f = tmp_path / f"f{mode}"
        assert fs.mkdirs(jvm.org.apache.hadoop.fs.Path(str(d)))
        fs.create(jvm.org.apache.hadoop.fs.Path(str(f))).close()
        for p in (d, f):
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)),
                             jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
            assert stat.S_IMODE(os.stat(p).st_mode) == int(mode, 8), (p, mode)


_LOGGED_CHMOD = textwrap.dedent("""
    import os, stat, sys
    from p3_osm_transformer_spark.session import get_spark
    for run in ("t", "u"):      # a second session in the same JVM too
        spark = get_spark(master="local[2]")
        out = os.path.join(sys.argv[1], run)
        spark.range(100).repartition(3).write.parquet(out)
        assert spark.read.parquet(out).count() == 100
        spark.stop()
    for dp, ds, fs in os.walk(os.path.join(sys.argv[1], "u")):
        for n in ds + fs:
            mode = stat.S_IMODE(os.stat(os.path.join(dp, n)).st_mode)
            print(oct(mode), n)
""")


def test_local_write_forks_no_chmod(tmp_path):
    # Without Hadoop's native library the stock local filesystem forked a
    # chmod from the driver JVM per directory and file a write created (34
    # per perfbench enrich_full job).  A chmod first on PATH logs any call.
    shim = tmp_path / "bin"
    shim.mkdir()
    log = tmp_path / "chmod.log"
    real = subprocess.run(["sh", "-c", "command -v chmod"], capture_output=True,
                          text=True).stdout.strip()
    (shim / "chmod").write_text(f'#!/bin/sh\necho "$@" >> {log}\nexec {real} "$@"\n')
    os.chmod(shim / "chmod", 0o755)
    path = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    env = {**os.environ, "PYTHONPATH": path,
           "PATH": f"{shim}{os.pathsep}{os.environ['PATH']}"}
    out = subprocess.run([sys.executable, "-c", _LOGGED_CHMOD, str(tmp_path)],
                         capture_output=True, text=True, timeout=300,
                         cwd=ROOT, env=env)
    assert out.returncode == 0, out.stderr[-3000:]
    assert not log.exists(), log.read_text()[:2000]
    modes = dict(line.split(" ", 1)[::-1] for line in out.stdout.splitlines())
    assert modes["_SUCCESS"] == "0o644" and modes["._SUCCESS.crc"] == "0o644"
    parts = [n for n in modes if n.startswith("part-")]
    assert len(parts) == 3 and all(modes[n] == "0o644" for n in parts)
    assert all(("." + n + ".crc") in modes for n in parts)
