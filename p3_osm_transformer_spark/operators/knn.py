"""kNN reverse geocode — cell-probe rounds + exact top-k (SURVEY.md §2 J-ext).

Candidates come from a cell probe (explode each point's probe cells, join
the address table's cell column); the k nearest are picked by
``(haversine, addr_id)`` — the addr_id tie-break makes the pick
deterministic (SURVEY.md §7 stage 4).

Completeness: a probe guarantees the true top-k only if the kth candidate
is closer than anything outside the probed cells.  One driver loop
(``_knn_rounds``) serves both cell families — the square geocell grid
(``knn_ring``) and the seam-aware hexcell grid (``knn_hex``).  Each round
doubles the probe radius for the points still in play and is exactly ONE
Spark action: the eager localCheckpoint of its marked top-k rows.  The
round's counts ride that action as an Observation, and the next round's
points are read straight off the checkpoint.  After ``max_rounds`` the
leftovers are brute-forced, each pair beyond the point's known kth
candidate dropped inside the join (SURVEY.md §4 custom item 3).

``knn_bruteforce`` is the oracle twin (exhaustive cross join + top-k) —
also the correct plan when one side is tiny.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from p3_osm_transformer_spark.functions.geocell import (
    cell_id,
    expand_ring,
    haversine_m,
)



def _rank_topk(cand: DataFrame, point_id: str, k: int,
               carry: tuple[str, ...] = ()) -> DataFrame:
    """Deterministic top-k per point, ordered by (dist, addr_id).

    k == 1 takes the aggregate path: ``min(struct(dist, addr_id))`` is
    partial-aggregable, so when candidates are produced by a broadcast
    probe join (the common plan) the map-side combine collapses them to
    one row per point per partition BEFORE the shuffle — the window
    variant shuffles every candidate pair.  Same tie-break (struct
    comparison is lexicographic), same output, ~10× less shuffle.
    (Struct-buffer min plans as a two-phase SortAggregate — Spark's
    HashAggregate only takes mutable primitive buffers — but the partial
    phase still runs below the Exchange, which is the part that matters.)

    A row with a null ``dist_m`` (an empty probe cell, from the round's
    left join) is not a candidate: it never outranks one, and a point
    with no candidate keeps exactly one such row (knn_rank 1).

    ``carry`` names extra per-point columns (functionally dependent on
    point_id, e.g. the point's lat/lon) to keep on the output rows — the
    round loop needs them for its per-point termination bound and its
    next round without a self-join back to the points table."""
    is_cand = F.col("dist_m").isNotNull()
    if k == 1:
        best = F.min(F.when(is_cand, F.struct(F.col("dist_m"), F.col("addr_id"))))
        return (cand.groupBy(point_id, *carry).agg(best.alias("_b"))
                    .select(point_id, *carry,
                            F.col("_b.addr_id").alias("addr_id"),
                            F.col("_b.dist_m").alias("dist_m"),
                            F.lit(1).alias("knn_rank")))
    # general k: analytic window (SURVEY.md §2 W-ext)
    order = [F.col("dist_m").asc_nulls_last(), F.col("addr_id").asc_nulls_last()]
    w = Window.partitionBy(point_id).orderBy(*order)
    return (cand.withColumn("knn_rank", F.row_number().over(w))
                .filter((F.col("knn_rank") <= k)
                        & (is_cand | (F.col("knn_rank") == 1)))
                .select(point_id, *carry, "addr_id", "dist_m", "knn_rank"))


def _union(dfs: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, dfs)


def knn_bruteforce(points: DataFrame, addresses: DataFrame,
                   point_id: str = "point_id", k: int = 1) -> DataFrame:
    """Exhaustive kNN: cross join + haversine + top-k.  O(P×A) — the
    oracle / small-side plan."""
    a = addresses.select(
        "addr_id", F.col("lat").alias("a_lat"), F.col("lon").alias("a_lon"))
    cand = (points.crossJoin(a)
            .withColumn("dist_m", haversine_m(
                F.col("lon"), F.col("lat"), F.col("a_lon"), F.col("a_lat"))))
    return _rank_topk(cand, point_id, k)


def pick_resolution(n_addresses: int) -> int:
    """Density heuristic: choose g so one ring-probe region holds O(k)
    addresses — 4^g ≈ n_addresses (uniform case), i.e. g ≈ log4(n).
    Clamped to [3, 19]; skewed tables resolve hot areas in round 1 and
    sparse areas through ring doubling / the brute-force tail."""
    import math
    return max(3, min(19, round(math.log2(max(n_addresses, 2)) / 2)))


def _knn_rounds(points: DataFrame, addresses: DataFrame, point_id: str,
                k: int, max_rounds: int,
                encode: Callable[[Column, Column], Column],
                probe: Callable[[DataFrame, int], DataFrame],
                margin: Callable[[int], Column],
                stop_on_no_progress: bool,
                plan_probe: list | None = None,
                stats: list | None = None) -> DataFrame:
    """The kNN driver loop every cell family shares.

    A cell family is four parts: ``encode(lon, lat)``, the cell Column;
    ``probe(df, r)``, which explodes df's ``_cell`` into round r's probe
    cells ``probe_cell``; ``margin(r)``, a Column of the distance within
    which a point's kth candidate proves round r's probe held its true
    top-k; and ``stop_on_no_progress``, whether a round that resolved
    nothing sends the points straight to the brute tail.

    Each round is exactly ONE Spark action, the eager localCheckpoint of
    the marked top-k rows.  The probe LEFT-joins the addresses, so every
    point in play keeps a row (an empty probe box gives one row with
    ``_n = 0``); the points in play and the resolved points are counted
    by an Observation on that same action.  The next round's points —
    lon/lat, best-known kth distance ``_ub`` and candidate count ``_nc``
    carried — are the unresolved rank-1 rows read off the checkpoint:
    no count, no cache, no anti-join, flat lineage.  The brute tail
    reads ``_ub``/``_nc`` from those same rows and drops every pair
    farther than ``_ub`` inside its join, before the top-k.

    ``plan_probe`` receives each round's DataFrame (the exact one its
    checkpoint executes); ``stats`` receives one dict per round (round,
    n_done, n_residual) and a final ``brute_tail_points``, all read from
    the Observations — no extra Spark job."""
    a = addresses.select(
        "addr_id", F.col("lat").alias("a_lat"), F.col("lon").alias("a_lon"),
        encode(F.col("lon"), F.col("lat")).alias("a_cell")).cache()
    live = points.select(point_id, "lon", "lat",
                         F.lit(None).cast("double").alias("_ub"),
                         F.lit(0).alias("_nc"))
    first = F.col("knn_rank") == 1      # exactly one row per point in play
    resolved: list[DataFrame] = []
    for r in range(max_rounds):
        cells = live.select(point_id, "lon", "lat").withColumn(
            "_cell", encode(F.col("lon"), F.col("lat")))
        cand = (probe(cells, r).drop("_cell")
                .join(a, F.col("probe_cell") == F.col("a_cell"), "left")
                .withColumn("dist_m", haversine_m(
                    F.col("lon"), F.col("lat"), F.col("a_lon"), F.col("a_lat"))))
        # lat/lon carried through the top-k: the termination test and the
        # next round are per-row expressions over its output
        topk = _rank_topk(cand, point_id, k, carry=("lat", "lon"))
        if k == 1:
            # aggregate path: one row per point — count/kth are per-row
            n, kth = F.col("dist_m").isNotNull().cast("int"), F.col("dist_m")
        else:
            # windows on the partitioning the rank already established —
            # no extra shuffle
            wp = Window.partitionBy(point_id)
            n, kth = F.count("dist_m").over(wp), F.max("dist_m").over(wp)
        done = (F.col("_n") >= k) & (F.col("_kth") <= margin(r))
        obs = Observation()
        final = (topk.withColumn("_n", n).withColumn("_kth", kth)
                 .withColumn("_done", done)
                 .observe(obs, F.count(F.when(first, 1)).alias("n_in"),
                          F.count(F.when(first & F.col("_done"), 1))
                          .alias("n_done")))
        if plan_probe is not None:
            plan_probe.append(final)
        marked = final.localCheckpoint(eager=True)   # THE action of round r
        n_in, n_done = obs.get["n_in"], obs.get["n_done"]
        if stats is not None:
            stats.append({"round": r, "n_done": n_done,
                          "n_residual": n_in - n_done})
        resolved.append(marked.filter("_done").select(
            point_id, "addr_id", "dist_m", "knn_rank"))
        live = marked.filter(~F.col("_done") & first).select(
            point_id, "lon", "lat", F.col("_kth").alias("_ub"),
            F.col("_n").alias("_nc"))
        if n_done == n_in:
            a.unpersist()
            return _union(resolved)
        if stop_on_no_progress and n_done == 0:
            break

    # Bounded brute tail: an unresolved point's kth candidate distance
    # bounds its true kth-nearest distance from above, so every farther
    # pair is dropped in the join, before the top-k.  Points that never
    # had k candidates (_nc < k) keep every pair.
    b = addresses.select(
        "addr_id", F.col("lat").alias("a_lat"), F.col("lon").alias("a_lon"))
    tail = (live.crossJoin(b)
            .withColumn("dist_m", haversine_m(
                F.col("lon"), F.col("lat"), F.col("a_lon"), F.col("a_lat")))
            .filter((F.col("_nc") < k) | (F.col("dist_m") <= F.col("_ub"))))
    obs = Observation()
    leftovers = (_rank_topk(tail, point_id, k)
                 .observe(obs, F.count(F.when(first, 1)).alias("n"))
                 .localCheckpoint(eager=True))
    if stats is not None:
        stats.append({"brute_tail_points": obs.get["n"]})
    a.unpersist()
    return _union(resolved + [leftovers])


def knn_ring(points: DataFrame, addresses: DataFrame,
             point_id: str = "point_id", k: int = 1, g: int | None = 15,
             start_ring: int = 1, max_rounds: int = 3,
             plan_probe: list | None = None,
             n_addresses: int | None = None) -> DataFrame:
    """Scale-path kNN via iterative square-cell ring expansion.

    Round r probes rings of radius ``start_ring * 2^r`` around each point
    still in play; a point is resolved in round r when its kth candidate
    lies within the exact per-point margin of the probed box (candidates
    beyond the box cannot be closer).  A round that resolves nothing ends
    the loop: on this grid the margin argument says a wider ring would
    not beat the (cos-collapsed polar) margin either.  After
    ``max_rounds`` the leftovers are brute-forced (at planet scale the
    ocean-photo tail — tiny).

    Each round is one Spark action (its eager localCheckpoint), its
    counts read from an Observation on it; the brute tail is one more —
    see ``_knn_rounds``.
    """
    # g=None → density-picked resolution; pass n_addresses (e.g. from
    # Catalog.row_count manifest metadata) to skip the fallback count()
    # scan — at warehouse scale the address table's size is catalog
    # metadata, not a job (VERDICT r2 #4)
    if g is None:
        g = pick_resolution(n_addresses if n_addresses is not None
                            else addresses.count())
    # Termination bound: a point may stop expanding only if its kth-nearest
    # candidate is provably closer than ANY cell outside the probed box.
    # Exact per-point margin: the probed box spans [c-ring, c+ring+1) in
    # cell units on each axis; the point's fractional cell coordinate gives
    # its true distance-in-cells to each box side (∈ [ring, ring+1], vs the
    # old worst-case ring-1 — one to two full cell edges tighter, which is
    # the difference between resolving ~60% and ~95% of points in round 1).
    # Meters-per-cell uses the haversine sphere radius; the lon axis shrinks
    # with cos φ_band, φ_band = worst |lat| anywhere in the probed band.
    n_cells = 2**g
    lat_cell_deg = 180.0 / n_cells
    deg_m = 111_194.93  # π·R/180 for R = EARTH_RADIUS_M (haversine sphere)
    lat_edge_m = lat_cell_deg * deg_m
    lon_edge_eq_m = 360.0 / n_cells * deg_m

    def margin(r: int) -> Column:
        ring = start_ring * 2**r
        band_lat = F.least(F.abs(F.col("lat")) + F.lit((ring + 1) * lat_cell_deg),
                           F.lit(89.9999))
        cx_f = (F.col("lon") + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n_cells))
        cy_f = (F.col("lat") + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n_cells))
        cx = F.greatest(F.least(F.floor(cx_f), F.lit(n_cells - 1)), F.lit(0))
        cy = F.greatest(F.least(F.floor(cy_f), F.lit(n_cells - 1)), F.lit(0))
        margin_x = F.least(cx_f - (cx - F.lit(ring)), (cx + F.lit(ring + 1)) - cx_f)
        margin_y = F.least(cy_f - (cy - F.lit(ring)), (cy + F.lit(ring + 1)) - cy_f)
        return F.lit(0.999) * F.least(
            margin_x * F.lit(lon_edge_eq_m) * F.cos(F.radians(band_lat)),
            margin_y * F.lit(lat_edge_m))

    return _knn_rounds(
        points, addresses, point_id, k, max_rounds,
        encode=lambda lon, lat: cell_id(lon, lat, g),
        probe=lambda df, r: expand_ring(df, "_cell", g, start_ring * 2**r),
        margin=margin, stop_on_no_progress=True, plan_probe=plan_probe)


def hex_resolve_margin_m(res: int, ring_k: int = 1) -> float:
    """Conservative meters bound: an address NOT in the probed seam-aware
    ``ring_k``-disk of a point's hexcell is at least this far away, so a
    kth candidate within the margin proves the disk contained the true
    top-k (knn_ring's termination rule, hex edition).

    Derivation: plane inradius of a res-r hex is S0·(√3/2)/√7^r gnomonic
    units; reaching an unprobed cell crosses ≥ (2·ring_k − 1) inradii of
    plane distance; the gnomonic plane→sphere map contracts distances by
    at most cos²θ_v (θ_v = face-vertex angle, the projection's outer
    edge); scale by the haversine sphere radius."""
    import math

    from p3_osm_transformer_spark.functions.geocell import EARTH_RADIUS_M
    from p3_osm_transformer_spark.functions.hexcell import S0
    tan_v = S0 * math.sqrt(3.0) / (2.0 * 1.3)    # S0 = tanθv·(2/√3)·1.3
    cos2 = 1.0 / (1.0 + tan_v * tan_v)
    inradius_plane = S0 * (math.sqrt(3.0) / 2.0) / (7.0 ** (res / 2.0))
    return (2 * ring_k - 1) * inradius_plane * cos2 * EARTH_RADIUS_M


def knn_hex(points: DataFrame, addresses: DataFrame,
            point_id: str = "point_id", k: int = 1, res: int = 9,
            ring_k: int = 1, max_rounds: int = 3,
            probe_stats: list | None = None) -> DataFrame:
    """Iterative hexcell kNN — knn_ring's driver loop on the seam-aware
    hexagonal access path (r4 verdict #5).

    Round r probes each residual point's ``ring_k · 2^r``-disk; a point is
    resolved in that round ONLY if its kth candidate lies within
    ``hex_resolve_margin_m(res, disk_r)`` — closer than anything outside
    the probed disk can possibly be, so the pick is provably the true
    top-k (same soundness rule as knn_ring's margin, hex edition; the
    margin is a per-round constant because every hex disk of a given
    radius shares the same inradius bound, vs the square grid's per-point
    fractional margins).  On a sparse address table (density ≪ res) the
    doubling disks resolve points in later rounds instead of dumping the
    whole table on the brute tail — the r4 single-round shape's failure
    mode.  NO zero-progress early exit: the hex margin is (2·disk−1)
    inradii — it GROWS with the disk, so a round that resolved nothing
    says nothing about the next; ``max_rounds`` bounds the loop.

    Each round is one Spark action (its eager localCheckpoint), its
    counts read from an Observation on it; the brute tail is one more —
    see ``_knn_rounds``.  Output == knn_bruteforce on any input, including
    across icosahedron face seams (property-tested).

    ``probe_stats``: pass a list to receive per-round dicts (round,
    n_done, n_residual) plus a final ``brute_tail_points`` — read from the
    rounds' Observations, no extra Spark job.
    """
    from p3_osm_transformer_spark.functions.hexcell import (
        hex_cellid, hex_kring)
    return _knn_rounds(
        points, addresses, point_id, k, max_rounds,
        encode=lambda lon, lat: hex_cellid(lon, lat, res),
        probe=lambda df, r: df.withColumn("probe_cell", F.explode(
            hex_kring(F.col("_cell"), ring_k * 2**r, res))),
        margin=lambda r: F.lit(hex_resolve_margin_m(res, ring_k * 2**r)),
        stop_on_no_progress=False, stats=probe_stats)
