"""Spatial operators vs slow-but-obvious pure-Python/numpy oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from p3_osm_transformer_spark.functions import geocell, s2z, tiles
from p3_osm_transformer_spark.operators import knn, pip
from p3_osm_transformer_spark.sources import fixtures as fx


def test_cell_encode_matches_numpy(spark):
    df = spark.range(1, 500).select(
        (F.col("id") % 360 - 180 + 0.25).alias("lon"),
        (F.col("id") % 180 - 90 + 0.25).alias("lat"))
    for g in (15, 16, 18, 19):
        got = df.select(geocell.cell_id(F.col("lon"), F.col("lat"), g).alias("c")) \
                .toPandas()["c"].to_numpy()
        pdf = df.toPandas()
        want = geocell.np_cell_id(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), g)
        assert (got == want).all()


def test_cell_edges_and_poles(spark):
    df = spark.createDataFrame(
        [(180.0, 90.0), (-180.0, -90.0), (0.0, 0.0), (179.999999, 89.999999)],
        "lon double, lat double")
    g = 15
    n = 2**g
    vals = [r["c"] for r in
            df.select(geocell.cell_id(F.col("lon"), F.col("lat"), g).alias("c")).collect()]
    assert vals[0] == (n - 1) * n + (n - 1)   # clamped, not overflowed
    assert vals[1] == 0
    assert all(0 <= v < n * n for v in vals)


def test_tile_id_matches_numpy(spark):
    rng = np.random.RandomState(7)
    lon = rng.uniform(-179.9, 179.9, 300)
    lat = rng.uniform(-84.9, 84.9, 300)
    df = spark.createDataFrame(list(zip(lon.tolist(), lat.tolist())),
                               "lon double, lat double")
    got = df.select(tiles.tile_id(F.col("lon"), F.col("lat"), 12).alias("t")) \
            .toPandas()["t"].to_numpy()
    want = tiles.np_tile_id(lon, lat, 12)
    assert (got == want).all()


def test_null_coordinate_gives_null_cell_and_tile(spark):
    """A NULL lon or lat gives a NULL geocell and tile id, in Catalyst and
    in the DuckDB SQL twins alike — not the clamped corner cell (``least``
    and ``greatest`` skip NULLs in both engines)."""
    import duckdb
    rows = [(1, None, 10.0), (2, 10.0, None), (3, 10.0, 20.0)]
    df = spark.createDataFrame(rows, "id long, lon double, lat double")
    out = {r.id: r for r in geocell.with_cells(df).select(
        "id", "cell_r7", "cell_r10",
        geocell.cell_id(F.col("lon"), F.col("lat"), 15).alias("c"),
        tiles.tile_id(F.col("lon"), F.col("lat"), 12).alias("t")).collect()}
    sql = duckdb.sql(
        f"SELECT id, {geocell.cell_id_sql('lon', 'lat', 15)} AS c, "
        f"{tiles.tile_id_sql('lon', 'lat', 12)} AS t FROM (VALUES "
        "(1, NULL::DOUBLE, 10.0::DOUBLE), (2, 10.0, NULL), (3, 10.0, 20.0)) "
        "v(id, lon, lat) ORDER BY id").fetchall()
    for rid in (1, 2):
        assert (out[rid].cell_r7, out[rid].cell_r10, out[rid].c,
                out[rid].t) == (None,) * 4
        assert sql[rid - 1][1:] == (None, None)
    lon, lat = np.array([10.0]), np.array([20.0])
    want = (int(geocell.np_cell_id(lon, lat, 15)[0]),
            int(tiles.np_tile_id(lon, lat, 12)[0]))
    assert (out[3].c, out[3].t) == want == sql[2][1:]


def test_haversine_sanity(spark):
    # Paris → Berlin ≈ 877 km (public reference value)
    df = spark.createDataFrame([(2.3522, 48.8566, 13.4050, 52.5200)],
                               "lon1 double, lat1 double, lon2 double, lat2 double")
    d = df.select(geocell.haversine_m(
        F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("d")) \
        .collect()[0]["d"]
    assert abs(d - 877_460) < 2_000


def test_s2z_cells_separate_hemispheres():
    lon = np.array([0.0, 90.0, 179.0, -90.0, 0.0, 0.0])
    lat = np.array([0.0, 0.0, 0.0, 0.0, 89.0, -89.0])
    cells = s2z.np_s2z_cell(lon, lat, 16)
    assert len(set(cells.tolist())) == 6          # all on distinct faces/cells
    faces = cells >> 58
    assert len(set(faces.tolist())) >= 5          # ≥5 distinct cube faces
    # nearby points share a parent at coarser level
    c1 = s2z.np_s2z_cell(np.array([10.0]), np.array([50.0]), 8)
    c2 = s2z.np_s2z_cell(np.array([10.001]), np.array([50.001]), 8)
    assert c1[0] == c2[0]


def test_ring_expansion_covers_neighbors(spark):
    g = 15
    n = 2**g
    df = spark.createDataFrame([(1, 10.0, 50.0)], "point_id long, lon double, lat double")
    df = df.withColumn("cell", geocell.cell_id(F.col("lon"), F.col("lat"), g))
    base = df.collect()[0]["cell"]
    probes = {r["probe_cell"] for r in
              geocell.expand_ring(df, "cell", g, 2).collect()}
    assert len(probes) == 25
    cy, cx = divmod(base, n)
    for dy in (-2, -1, 0, 1, 2):
        for dx in (-2, -1, 0, 1, 2):
            assert ((cy + dy) * n + (cx + dx)) in probes


def test_pip_against_bruteforce(spark):
    polys = fx.admin_polygons(spark, 48)
    pts = fx.osm_nodes(spark, 800).filter("id > 0") \
        .selectExpr("id as point_id", "lon", "lat")
    got = {(r["point_id"], r["polygon_id"])
           for r in pip.pip_join(pts, polys).collect()}
    # oracle: exhaustive numpy ray cast over every (point, polygon) pair
    ppdf = polys.toPandas()
    tpdf = pts.toPandas()
    want = set()
    for _, prow in ppdf.iterrows():
        ring = pip.parse_wkt_polygon(prow["wkt"])
        mask = pip.np_points_in_polygon(
            tpdf["lon"].to_numpy(), tpdf["lat"].to_numpy(), ring)
        for pid in tpdf.loc[mask, "point_id"]:
            want.add((int(pid), int(prow["polygon_id"])))
    assert got == want
    assert len(want) > 0


def test_pip_boundary_rule(spark):
    # point exactly on an edge counts as inside (covers semantics)
    polys = spark.createDataFrame(
        [(1, "POLYGON ((0.0 0.0, 10.0 0.0, 10.0 10.0, 0.0 10.0, 0.0 0.0))",
          0.0, 0.0, 10.0, 10.0)],
        "polygon_id long, wkt string, bbox_lon0 double, bbox_lat0 double, "
        "bbox_lon1 double, bbox_lat1 double")
    pts = spark.createDataFrame(
        [(1, 5.0, 0.0), (2, 0.0, 5.0), (3, 10.0, 10.0), (4, 5.0, 5.0), (5, 10.1, 5.0)],
        "point_id long, lon double, lat double")
    got = {r["point_id"] for r in pip.pip_join(pts, polys).collect()}
    assert got == {1, 2, 3, 4}


def test_ring_expansion_dedupes_on_clamp(spark):
    # tiny grid: clamping/wraparound maps several offsets onto one cell —
    # regression for duplicate candidates corrupting k>1 ranks
    g = 3
    df = spark.createDataFrame([(1, -170.0, -85.0)],
                               "point_id long, lon double, lat double")
    df = df.withColumn("cell", geocell.cell_id(F.col("lon"), F.col("lat"), g))
    probes = [r["probe_cell"] for r in geocell.expand_ring(df, "cell", g, 3).collect()]
    assert len(probes) == len(set(probes))


def test_knn_ring_high_latitude_regression(spark):
    # at |lat|≈80° the lon cell edge shrinks with cos(lat): the ring
    # termination bound must shrink too (regression: wrong rank-3 picks)
    rng = range(200)
    addrs = spark.createDataFrame(
        [(f"a-{i}", -170 + (i * 37 % 340) * 1.0, 75.0 + (i * 13 % 140) / 10.0)
         for i in rng], "addr_id string, lon double, lat double")
    pts = spark.createDataFrame(
        [(i, -170 + (i * 53 % 340) * 1.0, 76.0 + (i * 7 % 130) / 10.0)
         for i in range(60)], "point_id long, lon double, lat double")
    ring = {(r["point_id"], r["addr_id"], r["knn_rank"])
            for r in knn.knn_ring(pts, addrs, k=3, g=6, start_ring=2,
                                  max_rounds=2).collect()}
    brute = {(r["point_id"], r["addr_id"], r["knn_rank"])
             for r in knn.knn_bruteforce(pts, addrs, k=3).collect()}
    assert ring == brute


def _far_points(spark):
    """Points whose probe box holds no address: mid-ocean (South Pacific)
    and beyond 75° latitude — each keeps one ``_n = 0`` row per round."""
    return spark.createDataFrame(
        [(10_000_000 + i, -150.0 + 7.3 * i, -48.0 + 1.9 * i) for i in range(6)]
        + [(10_000_100 + i, -175.0 + 61.0 * i, 75.5 + 2.3 * i) for i in range(6)],
        "point_id long, lon double, lat double")


@pytest.mark.parametrize("k", [1, 3])
def test_knn_ring_equals_bruteforce(spark, k):
    addrs = fx.osm_nodes(spark, 1500).filter("id > 0") \
        .selectExpr("concat('a-', id) as addr_id", "lon", "lat")
    pts = fx.osm_nodes(spark, 3000).filter("id > 0 and id % 7 = 0") \
        .selectExpr("id as point_id", "lon + 0.001 as lon", "lat - 0.001 as lat") \
        .unionByName(_far_points(spark))
    ring = {(r["point_id"], r["addr_id"], r["knn_rank"])
            for r in knn.knn_ring(pts, addrs, k=k, g=15).collect()}
    brute = {(r["point_id"], r["addr_id"], r["knn_rank"])
             for r in knn.knn_bruteforce(pts, addrs, k=k).collect()}
    assert ring == brute
    assert len(brute) > 0


@pytest.mark.parametrize("k", [1, 2])
def test_knn_ring_bounded_tail_equals_bruteforce(spark, k):
    """Force the bounded-brute tail: one tiny ring round over a sparse
    polar corpus resolves (almost) nothing — the tail must still produce
    exactly the brute result.  The tail's dist<=upper-bound prefilter uses
    each point's best ring candidate; correctness requires the bound be
    inclusive (ties survive) and absent for points with no candidates."""
    addrs = spark.createDataFrame(
        [(f"a-{i}", -170 + (i * 37 % 340) * 1.0,
          -88.0 + (i * 13 % 1760) / 10.0) for i in range(80)],
        "addr_id string, lon double, lat double")
    pts = spark.createDataFrame(
        [(i, -170 + (i * 53 % 340) * 1.0, 80.0 + (i * 7 % 99) / 10.0)
         for i in range(50)], "point_id long, lon double, lat double")
    ring = {(r["point_id"], r["addr_id"], r["knn_rank"])
            for r in knn.knn_ring(pts, addrs, k=k, g=8, start_ring=1,
                                  max_rounds=1).collect()}
    brute = {(r["point_id"], r["addr_id"], r["knn_rank"])
             for r in knn.knn_bruteforce(pts, addrs, k=k).collect()}
    assert ring == brute and len(brute) == 50 * k


def test_knn_ring_zero_rounds_falls_back_to_brute(spark):
    """max_rounds=0 must degrade to plain brute force (regression: the
    tail referenced the ring loop's bound table → NameError)."""
    addrs = spark.createDataFrame(
        [(f"a-{i}", float(i), float(i % 50)) for i in range(30)],
        "addr_id string, lon double, lat double")
    pts = spark.createDataFrame(
        [(i, float(i) + 0.3, float(i % 50) - 0.2) for i in range(10)],
        "point_id long, lon double, lat double")
    ring = {(r["point_id"], r["addr_id"], r["knn_rank"])
            for r in knn.knn_ring(pts, addrs, k=2, g=8, max_rounds=0).collect()}
    brute = {(r["point_id"], r["addr_id"], r["knn_rank"])
             for r in knn.knn_bruteforce(pts, addrs, k=2).collect()}
    assert ring == brute and len(brute) == 20


def _last_execution_id(spark) -> int:
    """Id of the latest SQL execution (every Spark action is one)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return ex.apply(ex.size() - 1).executionId() if ex.size() else -1


def test_knn_ring_one_action_per_round(spark):
    """Each ring round is ONE Spark action — its checkpoint, the counts
    riding it as an Observation — and the brute tail is one more.  Fixed
    input: round 0 resolves the points on the address patch, round 1 the
    points ~1.6° west of it (so no zero-progress exit); the mid-ocean and
    polar points (empty probe boxes) go to the tail."""
    addrs = spark.createDataFrame(
        [(f"a-{i}-{j}", i * 0.5, 40.0 + j * 0.5)
         for i in range(21) for j in range(21)],
        "addr_id string, lon double, lat double")
    pts = spark.createDataFrame(
        [(i, (i * 37 % 200) / 20.0, 40.0 + (i * 13 % 200) / 20.0)
         for i in range(40)]
        + [(100 + i, -1.5 - i * 0.04, 42.0 + i * 0.5) for i in range(10)],
        "point_id long, lon double, lat double").unionByName(_far_points(spark))
    for k in (1, 3):
        before = _last_execution_id(spark)
        out = knn.knn_ring(pts, addrs, k=k, g=8, start_ring=1, max_rounds=2)
        assert _last_execution_id(spark) - before == 2 + 1
        ring = {(r["point_id"], r["addr_id"], r["knn_rank"])
                for r in out.collect()}
        brute = {(r["point_id"], r["addr_id"], r["knn_rank"])
                 for r in knn.knn_bruteforce(pts, addrs, k=k).collect()}
        assert ring == brute and len(brute) == 62 * k


# ------------------------------------------------ hexcell kNN access path

@pytest.mark.parametrize("k", [1, 3])
def test_knn_hex_equals_bruteforce(spark, k):
    """knn_hex's resolve-margin rule is sound: output == brute force on a
    mixed-density corpus (dense fixture nodes resolve via the hex probe;
    sparse stragglers take the brute tail)."""
    addrs = fx.osm_nodes(spark, 1200).filter("id > 0") \
        .selectExpr("concat('a-', id) as addr_id", "lon", "lat")
    pts = fx.osm_nodes(spark, 2400).filter("id > 0 and id % 9 = 0") \
        .selectExpr("id as point_id", "lon + 0.001 as lon", "lat - 0.001 as lat") \
        .unionByName(_far_points(spark))
    hexed = {(r["point_id"], r["addr_id"], r["knn_rank"])
             for r in knn.knn_hex(pts, addrs, k=k, res=9).collect()}
    brute = {(r["point_id"], r["addr_id"], r["knn_rank"])
             for r in knn.knn_bruteforce(pts, addrs, k=k).collect()}
    assert hexed == brute
    assert len(brute) > 0


def test_knn_hex_exact_across_face_seams(spark):
    """Global scatter guarantees points near icosahedron face seams (the
    r3 gap: rings truncated there); the seam-aware ring + margin rule must
    still reproduce brute force exactly."""
    addrs = spark.createDataFrame(
        [(f"a-{i}", -180 + (i * 37 % 360) * 1.0, -84.0 + (i * 13 % 1680) / 10.0)
         for i in range(600)], "addr_id string, lon double, lat double")
    pts = spark.createDataFrame(
        [(i, -180 + (i * 53 % 360) + 0.4321, -83.0 + (i * 7 % 1660) / 10.0)
         for i in range(150)], "point_id long, lon double, lat double")
    hexed = {(r["point_id"], r["addr_id"])
             for r in knn.knn_hex(pts, addrs, k=1, res=4).collect()}
    brute = {(r["point_id"], r["addr_id"])
             for r in knn.knn_bruteforce(pts, addrs, k=1).collect()}
    assert hexed == brute


def test_knn_hex_sparse_resolves_via_expanded_rings_not_brute(spark):
    """r4 verdict #5: on a SPARSE address table (density mismatched to
    ``res``) the iterative disk-doubling must do the work — most points
    resolve through an expanded ring round, not the brute-force tail.

    Fixture geometry: addresses on a ~1° grid (nearest other address
    ≥ ~85 km), each point offset ~8 km from its grid address.  At res=7
    the round-0 resolve margin is ~4.4 km < 8 km, so round 0 provably
    resolves NOTHING (kNN distance exceeds the 1-disk margin); the
    disk-2/disk-4 rounds (margins ~13.2 / ~30.8 km) must pick the points
    up.  Output must still equal brute force exactly."""
    addrs = spark.createDataFrame(
        [(f"a-{ix}-{iy}", -40.0 + ix * 1.0, -40.0 + iy * 1.0)
         for ix in range(20) for iy in range(20)],
        "addr_id string, lon double, lat double")
    pts = spark.createDataFrame(
        [(i, -40.0 + (i * 7 % 20) * 1.0,
          -40.0 + (i * 3 % 20) * 1.0 + 0.072)      # ~8.0 km north
         for i in range(100)],
        "point_id long, lon double, lat double")
    stats: list = []
    hexed = {(r["point_id"], r["addr_id"])
             for r in knn.knn_hex(pts, addrs, k=1, res=7,
                                  probe_stats=stats).collect()}
    brute = {(r["point_id"], r["addr_id"])
             for r in knn.knn_bruteforce(pts, addrs, k=1).collect()}
    assert hexed == brute
    rounds = [s for s in stats if "round" in s]
    assert rounds and rounds[0]["n_done"] == 0      # 8 km > 4.4 km margin
    n_pts = pts.count()
    ring_resolved = sum(s["n_done"] for s in rounds)
    tail = next((s["brute_tail_points"] for s in stats
                 if "brute_tail_points" in s), 0)
    assert ring_resolved >= 0.8 * n_pts, (stats, ring_resolved)
    assert tail <= 0.2 * n_pts, stats
