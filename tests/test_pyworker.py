"""The Python worker daemon (pyworker.py): a worker keeps the directory of
an unchanged zip across tasks, and its invalidate_caches still makes new
and rewritten modules importable."""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import zipfile

import pyarrow as pa
from pyspark.sql import functions as F

from p3_osm_transformer_spark import pyworker


def test_worker_keeps_pyspark_zip_directory_across_tasks(spark):
    @F.arrow_udf("string")
    def probe(x: pa.Array) -> pa.Array:
        key = os.path.join("pyspark.zip", "pyspark")
        imp = next(f for k, f in sys.path_importer_cache.items()
                   if k.endswith(key))
        return pa.array([f"{os.getpid()} {id(imp._files)}"] * len(x))

    # the pool may hold more idle workers than one job has tasks, and each
    # task takes the next idle one: rerun until some worker ran 2+ tasks
    ids: dict[str, list[str]] = {}     # worker pid -> files-dict id per task
    for _ in range(8):
        for r in (spark.range(0, 1600, 1, 16)
                  .select(probe("id").alias("p"),
                          F.spark_partition_id().alias("task"))
                  .distinct().collect()):
            pid, files_id = r["p"].split()
            ids.setdefault(pid, []).append(files_id)
        if max(map(len, ids.values())) > 1:
            break
    assert max(map(len, ids.values())) > 1
    assert all(len(set(v)) == 1 for v in ids.values()), ids


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_keeps_unchanged_zip_and_sees_new_modules(
        tmp_path, monkeypatch):
    arc = str(tmp_path / "mods.zip")
    plain = tmp_path / "plain"
    plain.mkdir()
    _write_zip(arc, {"pyw_zip_a": "V = 1\n"})
    monkeypatch.syspath_prepend(str(plain))
    monkeypatch.syspath_prepend(arc)
    for m in ("pyw_zip_a", "pyw_zip_b", "pyw_plain_c"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    try:
        assert importlib.import_module("pyw_zip_a").V == 1
        imp = sys.path_importer_cache[arc]
        pyworker.invalidate_caches()            # first call reads, stamps
        files = imp._files
        pyworker.invalidate_caches()
        assert sys.path_importer_cache[arc] is imp and imp._files is files

        _write_zip(arc, {"pyw_zip_a": "V = 1\n", "pyw_zip_b": "V = 2\n"})
        pyworker.invalidate_caches()
        assert imp._files is not files
        assert importlib.import_module("pyw_zip_b").V == 2

        assert importlib.util.find_spec("pyw_plain_c") is None
        (plain / "pyw_plain_c.py").write_text("V = 3\n")
        pyworker.invalidate_caches()
        assert importlib.import_module("pyw_plain_c").V == 3
    finally:
        for p in (arc, str(plain)):
            sys.path_importer_cache.pop(p, None)
        pyworker._read_at.pop(arc, None)


def test_worker_confs_local_masters_only():
    from p3_osm_transformer_spark.session import _PKG_PARENT, worker_confs
    for master in ("local", "local[4]", "local[*]"):
        c = worker_confs(master, "/extra")
        assert c["spark.python.daemon.module"] == pyworker.__name__
        assert c["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
            (_PKG_PARENT, "/extra"))
    assert worker_confs("local[2]")["spark.executorEnv.PYTHONPATH"] == _PKG_PARENT
    for master in ("yarn", "spark://h:7077", "k8s://h", "local-cluster[2,1,1024]"):
        assert worker_confs(master, "/extra") == {}
