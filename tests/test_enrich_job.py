"""End-to-end spark-submit launch of the flagship job (north rule launch
mode): package zipped via --py-files, fresh JVM, resume on second run."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.path.dirname(sys.executable), "spark-submit")


def _submit(zip_path: str, job_args: list[str], cwd: str) -> dict:
    cmd = [SPARK_SUBMIT, "--master", "local[4]",
           "--conf", "spark.ui.enabled=false",
           "--conf", "spark.ui.showConsoleProgress=false",
           "--conf", "spark.sql.shuffle.partitions=4",
           "--py-files", zip_path,
           os.path.join(REPO, "p3_osm_transformer_spark/jobs/enrich_job.py"),
           ] + job_args
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)   # the zip, not the checkout, must supply the pkg
    # run outside the checkout, so that the Python worker daemon cannot
    # pick the package up from its working directory either
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                         env=env, cwd=cwd)
    assert out.returncode == 0, f"spark-submit failed:\n{out.stdout}\n{out.stderr}"
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise AssertionError(f"no metrics JSON in output:\n{out.stdout}")


@pytest.fixture(scope="module")
def pkg_zip(tmp_path_factory):
    d = tmp_path_factory.mktemp("pkg")
    return shutil.make_archive(str(d / "p3_osm_transformer_spark"), "zip",
                               root_dir=REPO,
                               base_dir="p3_osm_transformer_spark")


def test_spark_submit_enrich_and_resume(spark, pkg_zip, tmp_path):
    from p3_osm_transformer_spark.operators.osm import build_addresses
    from p3_osm_transformer_spark.sources import fixtures as fx

    images_dir = str(tmp_path / "images")
    addr_dir = str(tmp_path / "addresses")
    cat_root = str(tmp_path / "warehouse")
    fx.images_table(spark, 300).write.parquet(images_dir)
    build_addresses(fx.osm_nodes(spark, 2000),
                    fx.osm_ways(spark, 300, 2000)).write.parquet(addr_dir)
    n_images = spark.read.parquet(images_dir).count()

    args = ["--images", images_dir, "--addresses", addr_dir,
            "--catalog-root", cat_root, "--table", "enriched",
            "--knn-strategy", "brute"]
    m1 = _submit(pkg_zip, args, str(tmp_path))
    assert m1["rows_in"] == n_images and not m1["resumed"]
    assert m1["rows_out"] >= n_images            # kNN enrich keeps every image
    assert m1["partition_rows"] and sum(m1["partition_rows"]) == m1["rows_out"]

    out = spark.read.parquet(os.path.join(cat_root, "enriched", "snap-1"))
    assert {"image_id", "caption", "nearest_addr_id"} <= set(out.columns)
    assert out.count() == m1["rows_out"]

    # second run, same inputs: everything already committed → no-op snapshot
    m2 = _submit(pkg_zip, args, str(tmp_path))
    assert m2["resumed"] and m2["rows_in"] == 0 and m2["snapshot"] == 2
