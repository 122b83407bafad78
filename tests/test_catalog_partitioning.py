"""Iceberg-seam fidelity: hidden partitioning, partition evolution, and
manifest/metadata pruning on the snapshot catalog (VERDICT r1 gap #3).

The assertions are on *files actually handed to the scan* (df.inputFiles())
— pruning that doesn't shrink the file list is not pruning.
"""

from __future__ import annotations

import math
import os
from datetime import datetime

from pyspark.sql import functions as F

from p3_osm_transformer_spark.sources.catalog import (
    Catalog,
    geocell_bbox_cover,
)


def _pts(spark, n=400):
    # deterministic points spread over 4 lat bands / 4 lon bands
    return spark.range(n).select(
        F.col("id").alias("pid"),
        ((F.col("id") % 16) * 20.0 - 160.0).alias("lon"),
        ((F.col("id") % 8) * 20.0 - 75.0).alias("lat"),
        (F.col("id") * 3 % 1000).alias("v"))


def test_hidden_partitioning_prunes_and_hides(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    df = _pts(spark)
    spec = {"cell": {"transform": "geocell[2]", "source": ["lat", "lon"]}}
    cat.write_snapshot(df, "pts", partition_spec=spec)

    full = cat.read(spark, "pts")
    # the derived partition column is hidden from readers
    assert "_p_cell" not in full.columns
    assert full.count() == 400
    n_all = len(full.inputFiles())

    # bbox pruning expressed on SOURCE lat/lon — never names _p_cell
    pruned = cat.read(spark, "pts", bbox={"cell": (0.0, 0.0, 19.0, 19.0)})
    assert len(pruned.inputFiles()) < n_all
    # pruned result == brute filter on the cells the bbox covers
    cover = set(geocell_bbox_cover(2, 0.0, 0.0, 19.0, 19.0))
    from p3_osm_transformer_spark.functions.geocell import cell_id
    brute = (full.withColumn("_c", cell_id(F.col("lon"), F.col("lat"), 2))
             .filter(F.col("_c").isin(list(cover))))
    assert {r.pid for r in pruned.collect()} == {r.pid for r in brute.collect()}


def test_where_eq_bucket_transform(spark, tmp_path):
    """Equality projection works for hash-bucket transforms too — the
    literal goes through the same Catalyst xxhash64, so the reader lists
    only the one matching bucket directory."""
    cat = Catalog(str(tmp_path))
    df = _pts(spark)
    spec = {"b": {"transform": "bucket[8]", "source": ["pid"]}}
    cat.write_snapshot(df, "pts", partition_spec=spec)
    full = cat.read(spark, "pts")
    one = cat.read(spark, "pts", where_eq={"b": (123,)})
    assert len(one.inputFiles()) < len(full.inputFiles())
    assert one.filter("pid = 123").count() == 1


def test_partition_evolution(spark, tmp_path):
    """Each snapshot carries its own spec: rewriting with a different
    layout leaves the old snapshot readable AND pruned under its old
    spec."""
    cat = Catalog(str(tmp_path))
    df = _pts(spark)
    s1 = cat.write_snapshot(df, "pts", partition_spec={
        "cell": {"transform": "geocell[1]", "source": ["lat", "lon"]}})
    s2 = cat.write_snapshot(df, "pts", partition_spec={
        "t": {"transform": "truncate[100]", "source": ["pid"]}})
    assert cat.spec_of("pts", s1) != cat.spec_of("pts", s2)

    old = cat.read(spark, "pts", snapshot=s1,
                   bbox={"cell": (0.0, 0.0, 19.0, 19.0)})
    new = cat.read(spark, "pts", snapshot=s2, where_eq={"t": (150,)})
    assert old.count() > 0
    # truncate[100] of 150 → partition 100 → pids 100..199
    pids = {r.pid for r in new.collect()}
    assert pids == set(range(100, 200))
    # neither reader sees a partition column
    assert not [c for c in old.columns if c.startswith("_p_")]
    assert not [c for c in new.columns if c.startswith("_p_")]


def test_manifest_stats_pruning(spark, tmp_path):
    """Driver-side manifest pruning: partitions whose recorded [min,max]
    misses the range are never handed to spark.read at all."""
    cat = Catalog(str(tmp_path))
    df = _pts(spark)
    spec = {"t": {"transform": "truncate[100]", "source": ["pid"]}}
    cat.write_snapshot(df, "pts", partition_spec=spec, stats_cols=["v"])
    m = cat.manifest_of("pts", 1)
    assert m and all("v" in e["stats"] and "rows" in e for e in m.values())

    full = cat.read(spark, "pts")
    # v = pid*3 % 1000; restrict to a narrow v range → some partitions'
    # [min,max] windows miss it entirely
    pruned = cat.read(spark, "pts", stats_range={"v": (0, 3)})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    got = {r.pid for r in pruned.filter("v <= 3").collect()}
    want = {r.pid for r in full.filter("v <= 3").collect()}
    assert got == want

    # a range outside every partition's stats → zero files, empty result,
    # schema preserved
    none = cat.read(spark, "pts", stats_range={"v": (5000, 6000)})
    assert none.count() == 0 and "pid" in none.columns

    # footer stats merge: one partition written as two files, a NaN in one
    # of them (Spark orders NaN above every number), and a timestamp column
    # (INT96: no footer min/max → no stats entry, never pruned)
    two = spark.range(0, 8, 1, numPartitions=2).select(
        F.col("id").alias("pid"), F.lit(0).alias("g"),
        F.when(F.col("id") == 1, float("nan"))
         .otherwise(F.col("id") - 5.0).alias("v"),
        F.timestamp_seconds(F.col("id") * 86400).alias("ts"))
    cat.write_snapshot(two, "two", partition_by=["g"], stats_cols=["v", "ts"])
    m = cat.manifest_of("two", 1)
    assert list(m) == ["g=0"] and m["g=0"]["file_rows"] == [4, 4]
    back = cat.read(spark, "two")
    want = back.agg(F.min("v"), F.max("v")).first()
    mn, mx = m["g=0"]["stats"]["v"]
    assert mn == want[0] == -5.0 and math.isnan(mx) and math.isnan(want[1])
    assert "ts" not in m["g=0"]["stats"]
    far = cat.read(spark, "two", stats_range={
        "ts": (datetime(1990, 1, 1), datetime(1990, 1, 2))})
    assert sorted(far.inputFiles()) == sorted(back.inputFiles())
    assert len(back.inputFiles()) == 2


def test_manifest_keys_match_written_dirs_and_missing_entry_keeps(spark, tmp_path):
    """Manifest keys must be the partitions' ACTUAL directory names (write
    path: special characters, Spark's partition-path escaping) and a
    partition with no manifest entry must be KEPT, not pruned (ADVICE r2:
    pruning is an optimization, never a filter)."""
    import json
    import os
    cat = Catalog(str(tmp_path))
    # string partition values with URL-escaped characters + a float col
    df = spark.createDataFrame(
        [(i, ["a b", "c:d", "e/f", "g%h"][i % 4], float(i)) for i in range(40)],
        "pid long, grp string, v double")
    spec = {"g": {"transform": "identity", "source": ["grp"]}}
    cat.write_snapshot(df, "esc", partition_spec=spec, stats_cols=["v"])

    # every manifest key is a directory that really exists on disk
    m = cat.manifest_of("esc", 1)
    snapdir = os.path.join(str(tmp_path), "esc", "snap-1")
    assert m and all(os.path.isdir(os.path.join(snapdir, k)) for k in m)
    assert sum(e["rows"] for e in m.values()) == 40

    # stats pruning over the escaped layout loses no rows
    got = cat.read(spark, "esc", stats_range={"v": (0, 10)})
    assert {r.pid for r in got.filter("v <= 10").collect()} == set(range(11))

    # remove one manifest entry → that partition must still be read
    k0 = sorted(m)[0]
    del m[k0]
    with open(os.path.join(snapdir, "_manifest.json"), "w") as f:
        json.dump(m, f)
    kept = cat.read(spark, "esc", stats_range={"v": (0, 1000)})
    assert kept.count() == 40


def test_row_count_from_manifest(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.write_snapshot(_pts(spark), "pts", partition_by=["lat"],
                       stats_cols=["v"])
    assert cat.row_count("pts") == 400            # no scan: manifest sum
    assert cat.live_row_count("pts") == 400
    # unpartitioned write also records rows (single "" key)
    cat.write_snapshot(_pts(spark, 50), "flat")
    assert cat.row_count("flat") == 50
    # a snapshot without _manifest.json is counted from its parquet footers
    os.remove(os.path.join(str(tmp_path), "flat", "snap-1", "_manifest.json"))
    assert cat.row_count("flat") == 50 and cat.live_row_count("flat") == 50


def test_vacuum_compact_expire_lifecycle(spark, tmp_path):
    """Crashed-write vacuum + compact-then-expire: the logical table is
    unchanged at every step and replaced snapshots are only removable
    once a base snapshot carries their rows."""
    import os
    import shutil
    from p3_osm_transformer_spark.streaming.resume import full_table
    cat = Catalog(str(tmp_path))
    cat.write_snapshot(spark.range(0, 100).select(F.col("id").alias("k")), "t")
    cat.write_snapshot(spark.range(100, 150).select(F.col("id").alias("k")), "t")

    # simulate a crashed write: snap dir present, _latest never committed
    dangling = os.path.join(str(tmp_path), "t", "snap-9")
    os.makedirs(dangling)
    assert cat.vacuum("t") == [9] and not os.path.exists(dangling)

    assert full_table(spark, cat, "t").count() == 150
    # nothing is expirable before a compaction base exists
    assert cat.expire_snapshots("t") == []

    snap = cat.compact(spark, "t")
    assert snap == 3 and cat.live_snapshots("t") == [3]
    assert full_table(spark, cat, "t").count() == 150          # unchanged

    # appends after the base join the live chain
    cat.write_snapshot(spark.range(150, 160).select(F.col("id").alias("k")), "t")
    assert cat.live_snapshots("t") == [3, 4]
    assert full_table(spark, cat, "t").count() == 160

    assert cat.expire_snapshots("t") == [1, 2]
    assert cat.snapshots("t") == [3, 4]
    assert full_table(spark, cat, "t").count() == 160          # still intact
    shutil.rmtree(str(tmp_path), ignore_errors=True)


# ------------------------------------------------- schema evolution (r4)

def test_add_column_null_fills_old_snapshots(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.write_snapshot(spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")), "t")
    cat.write_snapshot(spark.range(5, 8).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
        F.lit("x").alias("tag")), "t")
    # old snapshot presents the CURRENT schema: tag exists, NULL, typed
    s1 = cat.read(spark, "t", 1)
    assert set(s1.columns) == {"k", "v", "tag"}
    assert dict(s1.dtypes)["tag"] == "string"
    assert all(r.tag is None for r in s1.collect())
    # logical-table union across the schema change just works
    both = s1.unionByName(cat.read(spark, "t", 2))
    assert both.count() == 8
    assert both.filter(F.col("tag").isNotNull()).count() == 3


def test_rename_is_metadata_only_and_reaches_every_snapshot(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.write_snapshot(spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") + 10).alias("v")), "t")
    cat.rename_column("t", "v", "value")
    # past snapshot reads under the new name, data intact, files untouched
    s1 = cat.read(spark, "t", 1)
    assert set(s1.columns) == {"k", "value"}
    assert sorted(r.value for r in s1.collect()) == [10, 11, 12, 13]
    # a future write using the new name REUSES the field id (no new field)
    cat.write_snapshot(spark.range(4, 6).select(
        F.col("id").alias("k"), (F.col("id") + 10).alias("value")), "t")
    id_v = cat.schema_of("t", 1)["v"]["id"]
    id_value = cat.schema_of("t", 2)["value"]["id"]
    assert id_v == id_value
    # time-travel of the SCHEMA too: physical names as written
    assert set(cat.read(spark, "t", 1,
                        use_snapshot_schema=True).columns) == {"k", "v"}


def test_drop_column_hides_without_rewrite(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.write_snapshot(spark.range(3).select(
        F.col("id").alias("k"), F.lit("secret").alias("s")), "t")
    cat.drop_column("t", "s")
    assert set(cat.read(spark, "t", 1).columns) == {"k"}
    # re-adding the same NAME is a NEW field — old data does not resurrect
    cat.write_snapshot(spark.range(3, 5).select(
        F.col("id").alias("k"), F.lit("fresh").alias("s")), "t")
    s1 = cat.read(spark, "t", 1)
    assert set(s1.columns) == {"k", "s"}
    assert all(r.s is None for r in s1.collect())          # NULL, not 'secret'
    assert {r.s for r in cat.read(spark, "t", 2).collect()} == {"fresh"}


def test_schema_evolution_resume_unaffected(spark, tmp_path):
    """The resume anti-join keys on a stable column across BOTH an
    add-column and a rename (U1 twin: the Jena store grows schema-lessly;
    resume state survives schema changes)."""
    from p3_osm_transformer_spark.streaming.resume import (
        full_table, resume_run)
    cat = Catalog(str(tmp_path))
    run1_in = spark.range(6).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v"))
    resume_run(spark, cat, "t", run1_in, "k", lambda d: d)
    # run 2: schema evolved — transform emits an extra column AND the
    # value column was renamed between runs
    cat.rename_column("t", "v", "value")
    run2_in = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("value"),
        F.lit("new").alias("tag"))
    m = resume_run(spark, cat, "t", run2_in, "k", lambda d: d)
    assert m["resumed"] and m["rows_in"] == 4 and m["rows_out"] == 4
    logical = full_table(spark, cat, "t")
    assert set(logical.columns) == {"k", "value", "tag"}
    rows = {r.k: (r.value, r.tag) for r in logical.collect()}
    assert len(rows) == 10
    assert rows[2] == (14, None) and rows[8] == (56, "new")


def test_s2_and_hexcell_partition_transforms(spark, tmp_path):
    """The north star's cell families as Iceberg-style layout keys: write
    partitioned by s2[4] / hexcell[3], prune via where_eq on SOURCE
    lat/lon (exact literal evaluation), never naming a _p_ column."""
    cat = Catalog(str(tmp_path))
    df = _pts(spark)
    for tname, table in (("s2[4]", "pts_s2"), ("hexcell[3]", "pts_hex")):
        spec = {"cell": {"transform": tname, "source": ["lat", "lon"]}}
        cat.write_snapshot(df, table, partition_spec=spec)
        full = cat.read(spark, table)
        assert "_p_cell" not in full.columns and full.count() == 400
        # (lat, lon) = (-55, 20): the id%16==9 stripe of the fixture grid
        pruned = cat.read(spark, table, where_eq={"cell": (-55.0, 20.0)})
        assert len(pruned.inputFiles()) < len(full.inputFiles())
        want = {r.pid for r in full.collect()
                if (r.lat, r.lon) == (-55.0, 20.0)}
        got = {r.pid for r in pruned.filter(
            (F.col("lat") == -55.0) & (F.col("lon") == 20.0)).collect()}
        assert want and want == got


def test_null_coordinates_partition_as_null(spark, tmp_path):
    """A row with NULL lat/lon writes under an s2[4] or hexcell[3] spec:
    the write succeeds, the read-back keeps every row, and the NULL row's
    partition value is NULL (not a bogus face-2 cell, not a failed
    task)."""
    cat = Catalog(str(tmp_path))
    df = _pts(spark, 40).unionByName(spark.createDataFrame(
        [(-1, None, None, 0)], "pid long, lon double, lat double, v long"))
    for tname, table in (("s2[4]", "null_s2"), ("hexcell[3]", "null_hex")):
        spec = {"cell": {"transform": tname, "source": ["lat", "lon"]}}
        snap = cat.write_snapshot(df, table, partition_spec=spec)
        assert cat.read(spark, table).count() == 41
        raw = spark.read.parquet(os.path.join(str(tmp_path), table,
                                              f"snap-{snap}"))
        cells = {r.pid: r._p_cell for r in raw.collect()}
        assert cells[-1] is None
        assert all(c is not None for p, c in cells.items() if p != -1)
