"""Catalog snapshots, resumable runs, skew helpers."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from p3_osm_transformer_spark.operators import skew
from p3_osm_transformer_spark.sources.catalog import Catalog
from p3_osm_transformer_spark.streaming.resume import full_table, resume_run


def test_catalog_snapshot_commit(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    s1 = cat.write_snapshot(df1, "t")
    assert s1 == 1 and cat.latest_snapshot("t") == 1
    s2 = cat.write_snapshot(spark.range(10, 15).withColumnRenamed("id", "k"), "t")
    assert s2 == 2
    assert cat.read(spark, "t").count() == 5          # latest only
    assert cat.read(spark, "t", 1).count() == 10      # time travel
    assert cat.snapshots("t") == [1, 2]


def test_resume_processes_only_new_keys(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    inputs1 = spark.range(0, 100).select(F.col("id").alias("k"))

    def transform(df):
        return df.withColumn("v", F.col("k") * 2)

    m1 = resume_run(spark, cat, "out", inputs1, "k", transform)
    assert (m1["rows_in"], m1["rows_out"], m1["resumed"]) == (100, 100, False)
    # one entry per written file, summing to the rows written
    files = [f for f in os.listdir(os.path.join(str(tmp_path), "out", "snap-1"))
             if f.endswith(".parquet")]
    assert len(m1["partition_rows"]) == len(files) > 1
    assert sum(m1["partition_rows"]) == m1["rows_out"] == 100

    # second run: 50 old + 50 new keys → only the 50 new are processed
    inputs2 = spark.range(50, 200).select(F.col("id").alias("k"))
    m2 = resume_run(spark, cat, "out", inputs2, "k", transform)
    assert m2["resumed"] is True
    assert (m2["rows_in"], m2["rows_out"]) == (100, 100)   # keys 100..199
    total = full_table(spark, cat, "out")
    assert total.count() == 200
    assert total.select("k").distinct().count() == 200

    # third run re-presenting the FIRST batch's keys: the processed set is
    # the union of ALL snapshots, not just the latest — nothing to redo
    # (regression: anti-join against latest-only re-processed run-1 keys)
    m3 = resume_run(spark, cat, "out", inputs1, "k", transform)
    assert m3["resumed"] is True and (m3["rows_in"], m3["rows_out"]) == (0, 0)
    total = full_table(spark, cat, "out")
    assert total.count() == 200 and total.select("k").distinct().count() == 200


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_write_and_fresh_resume_run_one_job(spark, tmp_path):
    """Catalog bookkeeping never adds a Spark job: the manifest (row counts
    and stats) comes from parquet footers and resume_run's per-file rows
    from the manifest, so the write is the only job."""
    cat = Catalog(str(tmp_path))
    df = spark.range(200).select(F.col("id").alias("k"),
                                 (F.col("id") % 7).alias("v"))
    spec = {"t": {"transform": "truncate[50]", "source": ["k"]}}
    assert _jobs_run_by(spark, lambda: cat.write_snapshot(
        df, "pts", partition_spec=spec, stats_cols=["v"])) == 1
    assert cat.row_count("pts") == 200
    assert _jobs_run_by(spark, lambda: resume_run(
        spark, cat, "out", df, "k",
        lambda d: d.withColumn("w", F.col("v") * 2))) == 1


def test_hot_cells_and_salted_agg(spark):
    # 1 hot cell (10k rows) + 100 cold cells (10 rows each)
    hot = spark.range(0, 10000).select(F.lit(7).alias("cell"), F.col("id").alias("k"))
    cold = spark.range(0, 1000).select(
        (F.col("id") % 100 + 100).alias("cell"), F.col("id").alias("k"))
    df = hot.unionByName(cold)
    hc = skew.hot_cells(df, "cell", factor=10.0).collect()
    assert [r["cell"] for r in hc] == [7]

    salted = skew.salted_agg(df, "cell", "k",
                             {"n": "count(*)", "sk": "sum(k)", "mx": "max(k)"},
                             n_salts=8)
    got = {r["cell"]: r for r in salted.collect()}
    assert got[7]["n"] == 10000
    assert got[7]["sk"] == sum(range(10000))
    assert got[7]["mx"] == 9999
    assert got[100]["n"] == 10
    with pytest.raises(ValueError):
        skew.salted_agg(df, "cell", "k", {"bad": "avg(k)"})


def test_salt_is_deterministic(spark):
    df = spark.range(0, 50).select(F.col("id").alias("k"))
    a = {(r["k"], r["salt"]) for r in skew.with_salt(df, "k").collect()}
    b = {(r["k"], r["salt"]) for r in skew.with_salt(df, "k").collect()}
    assert a == b                          # replay-identical (resume contract)
