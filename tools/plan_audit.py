"""Physical-plan audit: assert the plans are the ones we want at scale.

For each audited operator: capture `.explain("formatted")`, assert plan
properties (pushdown reached the scan, broadcast where intended, no
cartesian product outside the explicit brute-force paths, codegen spans),
and write a human-readable digest to PLANS.md.

Run: python tools/plan_audit.py
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from p3_osm_transformer_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VOLATILE = re.compile(r"#\d+|plan_id=\d+")


def plan_of(df) -> str:
    """The formatted physical plan, without the tokens that change from
    run to run (expression ids ``#NNN``, ``plan_id=NNN``), so PLANS.md
    regenerates byte-for-byte."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return VOLATILE.sub("", buf.getvalue())


def main() -> None:
    spark = get_spark(app_name="plan-audit")
    checks: list[tuple[str, str, list[str], list[str]]] = []

    def audit(name: str, df, must: list[str], must_not: list[str]) -> None:
        p = plan_of(df)
        ok = all(m in p for m in must) and not any(m in p for m in must_not)
        checks.append((name, p, must, must_not))
        status = "OK" if ok else "VIOLATION"
        print(f"{name}: {status}")
        if status == "VIOLATION":
            missing = [m for m in must if m not in p]
            present = [m for m in must_not if m in p]
            print(f"  missing={missing} forbidden-present={present}")

    li = spark.read.parquet(f"{SF}/lineitem.parquet")

    # 1. filter+project must push to the scan
    audit("q01 scan pushdown",
          li.filter((F.col("l_quantity") > 45.0) & (F.col("l_returnflag") == "R"))
            .select("l_orderkey", "l_quantity"),
          must=["PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_returnflag), "
                "GreaterThan(l_quantity,45.0), EqualTo(l_returnflag,R)",
                "[codegen id :"],
          must_not=["CartesianProduct"])

    # 2. dim-join chain goes broadcast, scan reads only needed columns
    import p3_osm_transformer_spark.contract as C
    audit("q03 broadcast dims", C.QUERIES["q03_broadcast_dim_join"](spark, SF),
          must=["BroadcastHashJoin"], must_not=["SortMergeJoin", "CartesianProduct"])

    # 3. PIP: broadcast candidate join, no cartesian, Python only in refine
    from p3_osm_transformer_spark.operators.pip import pip_join
    from p3_osm_transformer_spark.sources.fixtures import admin_polygons, osm_nodes
    pts = osm_nodes(spark, 500).filter("id>0").selectExpr("id as point_id", "lon", "lat")
    audit("pip filter-refine", pip_join(pts, admin_polygons(spark, 32)),
          must=["BroadcastHashJoin", "MapInPandas"],
          must_not=["CartesianProduct", "BroadcastNestedLoopJoin"])

    # 4. geocode token-join: hash joins on composite keys, single distinct
    from p3_osm_transformer_spark.contract_ext import QUERIES as Q2
    audit("geocode token-join", Q2["q35_geocode_tokens"](spark, SF),
          must=["HashAggregate"], must_not=["CartesianProduct",
                                            "BroadcastNestedLoopJoin"])

    # 5. salted agg: two HashAggregate phases, no extra shuffle beyond them
    audit("salted two-phase agg", Q2["q32_salted_agg"](spark, SF),
          must=["HashAggregate"], must_not=["CartesianProduct"])

    # 5b. headline spatial enrich: the rect containment test is
    # inequality-only, but the RIGHT plan is NOT the BroadcastNestedLoop
    # join Spark would pick for it — BNLJ does not participate in
    # whole-stage codegen, so every input row materializes an UnsafeRow
    # at the join boundary (~130GB of memory traffic on the 1.23B-row
    # headline; 1.34× executor-CPU inflation measured at local[32]).
    # pip_join_rect therefore plans the same filter-refine shape as the
    # polygon path: cover-cell broadcast HASH equi-join + codegen'd bbox
    # residual filter, one codegen span from range to partial aggregate.
    # Only one shuffle: the final partial->final aggregate. No Python in
    # the loop. (AQE hides [codegen id] annotations pre-execution, so
    # codegen is asserted on the non-adaptive audits above.)
    from p3_osm_transformer_spark.contract import point_cols
    from p3_osm_transformer_spark.operators.pip import pip_join_rect
    from p3_osm_transformer_spark.operators.tile_assign import assign_tiles
    nat = spark.read.parquet(f"{SF}/nation.parquet")
    key = F.col("id") + 1
    lon, lat = point_cols(key)
    hpts = spark.range(0, 100000).select(
        key.alias("point_id"), lon.alias("lon"), lat.alias("lat"))
    rects = nat.select(
        "n_nationkey",
        ((((F.col("n_nationkey") * 131) % 340) - 170.0)).alias("bbox_lon0"),
        ((((F.col("n_nationkey") * 89) % 150) - 75.0)).alias("bbox_lat0")) \
        .withColumn("bbox_lon1", F.col("bbox_lon0") + 30.0) \
        .withColumn("bbox_lat1", F.col("bbox_lat0") + 20.0)
    htiled = assign_tiles(hpts, zooms=(12, 15), cell_resolutions=(7, 8, 9, 10))
    hagg = (pip_join_rect(htiled, F.broadcast(rects))
            .groupBy("n_nationkey")
            .agg(F.count("*").alias("n_pts"), F.sum("tile_z15").alias("cs")))
    audit("headline spatial enrich + tile agg", hagg,
          must=["BroadcastHashJoin", "HashAggregate", "BroadcastExchange"],
          must_not=["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
                    "BroadcastNestedLoopJoin"])

    # 6. kNN k=1: the agg path must plan as partial-aggregable HashAggregate
    # (map-side combine before the shuffle) with NO analytic Window, and the
    # small address side must broadcast into the probe join.
    from p3_osm_transformer_spark.operators.knn import knn_ring
    supp = spark.read.parquet(f"{SF}/supplier.parquet")
    kpts = osm_nodes(spark, 2000).filter("id>0") \
        .selectExpr("id as point_id", "lon", "lat")
    kaddrs = supp.selectExpr("cast(s_suppkey as string) as addr_id") \
        .withColumn("lon", (F.col("addr_id").cast("long") * 37 % 360 - 180.0)) \
        .withColumn("lat", (F.col("addr_id").cast("long") * 17 % 170 - 85.0))
    # the ring loop executes eagerly per round (one checkpointed action,
    # its counts an Observation on it); plan_probe hands back the exact
    # per-round DataFrame the action ran
    probe: list = []
    knn_ring(kpts, kaddrs, k=1, g=6, start_ring=1, max_rounds=1,
             plan_probe=probe)
    # struct-buffer min → two-phase SortAggregate (partial below the
    # Exchange = map-side combine); the probe join (a left join: empty
    # probe boxes keep their point) must broadcast; never a Window (that
    # would shuffle every candidate pair)
    audit("knn k=1 agg path (round-1 plan)", probe[0],
          must=["SortAggregate", "BroadcastHashJoin", "Exchange"],
          must_not=["Window", "CartesianProduct"])

    # 6b. flagship geotag: caption+exif composition must scan the images
    # table ONCE — caption regexp as a projection, one Arrow pass for the
    # EXIF fill, both consumer branches (geo / no-geo) reading the persisted
    # tagged table (InMemoryTableScan), never a second scan+MapInPandas.
    from p3_osm_transformer_spark.plans.pipeline import enrich_images
    from p3_osm_transformer_spark.sources.fixtures import images_table
    fimgs = images_table(spark, 300)
    fout = enrich_images(fimgs, kaddrs.selectExpr(
        "addr_id", "'x' as street_address", "lat", "lon"),
        knn_strategy="brute", geotag="caption+exif")
    fplan = plan_of(fout)
    # every MapInPandas occurrence must be the SAME plan node (one geotag
    # pass), re-printed only inside the InMemoryRelation each branch reads
    mip_ids = set(re.findall(r"MapInPandas \((\d+)\)", fplan))
    n_imts = fplan.count("InMemoryTableScan (")
    ok = len(mip_ids) <= 1 and n_imts >= 2 and "InMemoryRelation" in fplan
    checks.append(("flagship single-scan geotag", fplan,
                   ["exactly one MapInPandas plan node (the single geotag "
                    "pass), cached; >=2 InMemoryTableScan consumers"],
                   ["a second MapInPandas node id (geotag re-run per "
                    "branch)"]))
    print(f"flagship single-scan geotag: {'OK' if ok else 'VIOLATION'} "
          f"(distinct MapInPandas nodes={len(mip_ids)}, "
          f"InMemoryTableScan={n_imts})")

    # 7. way geometries: posexplode+join+agg, shuffles bounded
    from p3_osm_transformer_spark.operators.osm import way_geometries
    from p3_osm_transformer_spark.sources.fixtures import osm_ways
    audit("way geometry assembly",
          way_geometries(osm_ways(spark, 200, 1000), osm_nodes(spark, 1000)),
          must=["Generate", "HashAggregate"], must_not=["CartesianProduct"])

    # 8. dedup_near: the signature pass is ONE Arrow MapInArrow map (the
    # record-batch form; a MapInPandas here would mean the per-row pandas
    # round trip is back) — no aggregate, no Exchange at all (the JVM
    # construction burned 4× the CPU at 32 cores under whole-host
    # /proc/stat profiling; see operators/dedup.py _doc_signatures).  The
    # candidates→verify plan the caller executes reads the CHECKPOINTED
    # signature blocks from every side — no cartesian.
    from p3_osm_transformer_spark.operators.dedup import (
        _doc_signatures, dedup_near)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    audit("dedup signature pass (one Arrow map, zero exchanges)",
          _doc_signatures(docs, "doc_id", "text", 8, 2, 3),
          must=["MapInArrow"],
          must_not=["MapInPandas", "Exchange", "HashAggregate",
                    "CartesianProduct", "BatchEvalPython"])
    # The verify projection is ONE vectorized ArrowEvalPython arrow_udf
    # (the flat-batch numpy Jaccard — the boxed array_intersect form
    # burned 7-16× the CPU at 32 cores); still no row-at-a-time Python,
    # no cartesian, and the candidates+verify plan reads the checkpointed
    # signature RDD, never re-tokenizes.  The band buckets are capped and
    # paired from one grouping (dedup.kept_buckets): no Window count per
    # self-join side.
    dn = dedup_near(docs.limit(2000), threshold=0.7)
    dn_plan = plan_of(dn)
    audit("dedup_near candidates+verify (reads checkpointed signatures)", dn,
          must=["Scan ExistingRDD", "ArrowEvalPython"],
          must_not=["CartesianProduct", "BatchEvalPython", "MapInPandas",
                    "Window"])
    # formatted explain prints each node once in the tree and once as a
    # "(N) ArrowEvalPython" detail header — count the headers.  Exactly
    # ONE: Catalyst would otherwise duplicate the verify UDF below the
    # threshold filter (the full per-pair exchange run twice) — see the
    # asNondeterministic evaluate-once barrier in _jaccard_arrow.
    n_arrow = len(re.findall(r"\(\d+\) ArrowEvalPython", dn_plan))
    print(f"  (dedup_near ArrowEvalPython nodes = {n_arrow}; must be 1)")
    assert n_arrow == 1, f"expected exactly 1 Arrow verify node, got {n_arrow}"

    # 9. ANN LSH, shuffled plan: candidate dedup on bare (id, long-bucket)
    # pairs, embeddings re-joined for the exact re-rank.  Python appears
    # ONLY as the LSH kernel's three scalar Arrow UDFs (ArrowEvalPython):
    # the corpus bucket (_sk), the query probes (_sk_probes) and the pair
    # cosine (_cos) — never row-at-a-time BatchEvalPython, never
    # MapInPandas, never a cartesian/BNLJ, and never the one-pass plan's
    # MapInArrow.  All 500 vectors as queries: more than the one-pass
    # plan takes here (292 at prefix_bits=6).
    from p3_osm_transformer_spark.operators.simsearch import cosine_topk_lsh
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    aq = emb.filter("vec_id < 50").selectExpr("vec_id as query_id", "embedding")
    ac = emb.selectExpr("vec_id as neighbor_id", "embedding")
    audit("ann lsh bucket join + exact re-rank (large query side)",
          cosine_topk_lsh(emb.selectExpr("vec_id as query_id", "embedding"),
                          ac, k=5, prefix_bits=6),
          must=["Window", "ArrowEvalPython"],
          must_not=["CartesianProduct", "BroadcastNestedLoopJoin",
                    "BatchEvalPython", "MapInPandas", "MapInArrow"])

    # 9b. ANN LSH with a small query side (50): the one-pass plan.  The
    # queries' probe map travels with one MapInArrow over the corpus
    # scan, which buckets, probes and scores there; only the scored
    # pairs reach the cap and top-k windows.  No exchange on the corpus
    # id, no join of any kind (the shuffled form fetched both embeddings
    # through two), no per-row or pandas Python.
    audit("ann lsh one pass over the corpus (small query side)",
          cosine_topk_lsh(aq, ac, k=5, prefix_bits=6),
          must=["MapInArrow", "Window"],
          must_not=["hashpartitioning(neighbor_id", "Join",
                    "CartesianProduct", "BatchEvalPython", "MapInPandas"])

    # 10. cell encodes: each S2/hexcell encode and the hexcell k-ring is
    # a scalar Arrow UDF (ArrowEvalPython eval type 250, not the pandas
    # 200) over its coordinate or cell columns only — level, res and k
    # are constants of the UDF, never literal columns shipped per row.
    from p3_osm_transformer_spark.functions.hexcell import (
        hex_cellid, hex_kring)
    hexed = kpts.withColumn("_cell", hex_cellid(F.col("lon"), F.col("lat"), 9))
    for name, df, calls in (
            ("assign_tiles s2/hex encodes (scalar Arrow UDFs)",
             assign_tiles(kpts, s2_levels=(12,), hex_resolutions=(9,)),
             ["_s2_cellid_udf(lon, lat)", "_hex_cellid_udf(lon, lat)"]),
            ("knn_hex round probe (scalar Arrow UDFs)",
             hexed.withColumn("probe_cell", F.explode(
                 hex_kring(F.col("_cell"), 1, 9))),
             ["_hex_cellid_udf(lon, lat)", "_hex_kring_udf(_cell"])):
        p = plan_of(df)
        args = re.findall(r"\(\d+\) ArrowEvalPython\n.*\nArguments: (.*), (\d+)\n",
                          p)
        udf_args = re.findall(r"_udf\(([^()]*)\)", " ".join(a for a, _ in args))
        ok = (bool(args) and all(t == "250" for _, t in args)
              and all(c in p for c in calls)
              and not any(re.search(r"\b\d", a) for a in udf_args))
        checks.append((name, p, ["ArrowEvalPython eval type 250"] + calls,
                       ["eval type 200 (pandas)", "a literal UDF argument"]))
        print(f"{name}: {'OK' if ok else 'VIOLATION'} "
              f"(ArrowEvalPython eval types={[t for _, t in args]})")

    # write PLANS.md digest
    out = ["# PLANS.md — audited physical plans",
           "",
           "Generated by tools/plan_audit.py. Each section: the assertion set",
           "and the formatted physical plan actually produced.", ""]
    for name, p, must, must_not in checks:
        out += [f"## {name}", "",
                f"must contain: `{must}`  ",
                f"must NOT contain: `{must_not}`", "",
                "```", p.strip()[:4000], "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
