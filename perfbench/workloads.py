"""The workloads: inputs, the timed job, and the output check.

Each workload runs one job at a time (a closed loop with one client)
through the package's public entry points.  ``prepare`` builds or loads
the seeded inputs and is not timed; ``reset`` restores the starting
state of one job and is not timed; ``run`` is the timed job, from input
read to a complete, committed result; ``check`` compares that result
with numpy references and returns the problems it found.

``tr`` is the tracer of ``perfbench/layers.py``: ``tr.span(layer)`` marks
a call into a layer of the package.  The untraced run passes a tracer
whose spans do nothing.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from perfbench import inputs as inp

TABLE = "enriched_images"


class Enrich:
    """``jobs/enrich_job.py``'s job: ``resume_run`` of
    ``enrich_images(geotag="caption+exif", knn_strategy="ring")`` into a
    catalog.  ``resume=False`` starts from an empty catalog; ``resume=True``
    starts from a catalog that already holds every image except a ~1 %
    delta."""

    def __init__(self, resume: bool):
        self.resume = resume

    def prepare(self, spark, work: str, cache: str, seed: int) -> None:
        self.spark, self.seed = spark, seed
        self.paths = inp.enrich_inputs(spark, cache, seed)
        self.catalog_dir = os.path.join(work, "catalog")
        self.template = None
        n = spark.read.parquet(self.paths["images"]).count()
        self.rows = n
        if self.resume:
            self.template = os.path.join(cache, f"enrich-s{seed}", "committed")
            if not os.path.exists(os.path.join(self.template, "_READY")):
                self._commit_all_but_delta()
            self.rows = (spark.read.parquet(self.paths["images"])
                         .filter(inp.is_delta(F.col("image_id"), seed)).count())
        self.n_images = n
        addr = spark.read.parquet(self.paths["addresses"]).select(
            "addr_id", "lat", "lon").toPandas()
        self.addr = (addr["lon"].to_numpy(), addr["lat"].to_numpy(),
                     addr["addr_id"].to_numpy())

    def _commit_all_but_delta(self) -> None:
        from p3_osm_transformer_spark.plans.pipeline import (
            enrich_images, release_enrich_cache)
        from p3_osm_transformer_spark.sources.catalog import Catalog
        from p3_osm_transformer_spark.streaming.resume import resume_run
        shutil.rmtree(self.template, ignore_errors=True)
        images = self.spark.read.parquet(self.paths["images"]).filter(
            ~inp.is_delta(F.col("image_id"), self.seed))
        addresses = self.spark.read.parquet(self.paths["addresses"])
        resume_run(self.spark, Catalog(self.template), TABLE, images,
                   "image_id", lambda todo: enrich_images(
                       todo, addresses, knn_strategy="ring",
                       geotag="caption+exif"))
        release_enrich_cache()
        open(os.path.join(self.template, "_READY"), "w").close()

    def reset(self) -> None:
        shutil.rmtree(self.catalog_dir, ignore_errors=True)
        if self.template:
            shutil.copytree(self.template, self.catalog_dir)

    def run(self, spark, tr) -> dict:
        from p3_osm_transformer_spark.plans.pipeline import (
            enrich_images, release_enrich_cache)
        from p3_osm_transformer_spark.streaming.resume import resume_run
        images = spark.read.parquet(self.paths["images"])
        addresses = spark.read.parquet(self.paths["addresses"])
        catalog = tr.catalog(self.catalog_dir)

        def transform(todo):
            with tr.span("plans.pipeline"):
                return enrich_images(todo, addresses, knn_strategy="ring",
                                     geotag="caption+exif")
        with tr.span("streaming.resume"):
            metrics = resume_run(spark, catalog, TABLE, images, "image_id",
                                 transform)
        tr.note_storage(spark)
        release_enrich_cache()
        return metrics

    def _snapshots(self) -> list[str]:
        tdir = os.path.join(self.catalog_dir, TABLE)
        snaps = [d for d in os.listdir(tdir) if d.startswith("snap-")
                 and os.path.isdir(os.path.join(tdir, d))]
        return [os.path.join(tdir, d)
                for d in sorted(snaps, key=lambda d: int(d.split("-")[1]))]

    def out_bytes(self) -> int:
        """Parquet bytes of the snapshot the last job committed."""
        return sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, fs in os.walk(self._snapshots()[-1])
                   for f in fs if f.endswith(".parquet"))

    def check(self, spark, metrics: dict) -> list[str]:
        """Reads the committed files with pyarrow, so the check runs no
        Spark job: row counts, no address for untagged images, and on a
        seeded sample of the new rows the numpy nearest address (addr_id
        breaks ties) and cell, tile, S2 and hexcell ids."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from p3_osm_transformer_spark.functions.geocell import (
            H3_ALIAS, np_cell_id, np_haversine_m)
        from p3_osm_transformer_spark.functions.hexcell import np_hex_cellid
        from p3_osm_transformer_spark.functions.s2cell import np_s2_cellid
        from p3_osm_transformer_spark.functions.tiles import np_tile_id
        errs = []
        if metrics["rows_out"] != self.rows or metrics["rows_in"] != self.rows:
            errs.append(f"rows in/out {metrics['rows_in']}/{metrics['rows_out']}"
                        f" != {self.rows}")
        snaps = [pq.read_table(d) for d in self._snapshots()]
        table = pa.concat_tables(snaps)
        n_ids = len(pc.unique(table["image_id"]))
        if table.num_rows != self.n_images or n_ids != self.n_images:
            errs.append(f"table holds {table.num_rows} rows of {n_ids} images,"
                        f" expected {self.n_images}")
        if pc.sum(pc.and_(pc.is_null(table["lat"]),
                          pc.is_valid(table["nearest_addr_id"]))).as_py():
            errs.append("untagged image got an address")
        new = snaps[-1]
        geo = new.filter(pc.is_valid(new["lat"]))
        if geo.num_rows < 0.8 * new.num_rows:
            errs.append(f"{geo.num_rows} of {new.num_rows} new rows have a geotag")
        pick = np.random.default_rng(self.seed).choice(
            geo.num_rows, min(300, geo.num_rows), replace=False)
        geo = geo.take(pa.array(np.sort(pick))).to_pandas()
        alon, alat, aid = self.addr
        for r in geo.itertuples():
            # the pick must be nearest up to float rounding, and the
            # smallest addr_id among addresses at exactly its distance
            d = np_haversine_m(r.lon, r.lat, alon, alat)
            best = d.min()
            mine = d[aid == r.nearest_addr_id]    # an id can repeat
            if (not len(mine) or mine.min() > best + 1e-6
                    or aid[d == mine.min()].min() != r.nearest_addr_id
                    or abs(r.nearest_dist_m - best) > 1e-3):
                errs.append(f"{r.image_id}: nearest {r.nearest_addr_id} "
                            f"({r.nearest_dist_m} m), numpy nearest "
                            f"{aid[d.argmin()]} ({best} m)")
                break
        lon, lat = geo["lon"].to_numpy(), geo["lat"].to_numpy()
        want = {f"cell_r{r}": np_cell_id(lon, lat, g) for r, g in H3_ALIAS.items()}
        want.update({f"tile_z{z}": np_tile_id(lon, lat, z) for z in (12, 15)})
        want["s2_12"] = np_s2_cellid(lon, lat, 12)
        want["hex_9"] = np_hex_cellid(lon, lat, 9)
        for col, ref in want.items():
            if not np.array_equal(geo[col].to_numpy(np.int64), ref):
                errs.append(f"{col} differs from numpy on the sample")
        return errs


    def layer_counts(self, spark, metrics: dict) -> dict:
        """Counts the traced run divides by, read from the new snapshot."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        new = pq.read_table(self._snapshots()[-1],
                            columns=["caption", "lat"])
        geo = pc.is_valid(new["lat"])
        untagged = pc.invert(pc.match_substring(new["caption"], "geo:"))
        return {"geo_points": pc.sum(geo).as_py() or 0,
                "exif_fixes": pc.sum(pc.and_(geo, untagged)).as_py() or 0,
                "rows_out": metrics["rows_out"], "out_bytes": self.out_bytes()}


class SpatialJoin:
    """Points → ``pip_join`` against ``admin_polygons(64)`` →
    ``assign_tiles`` on the matched rows → per-polygon aggregate of every
    column, collected."""

    def prepare(self, spark, work: str, cache: str, seed: int) -> None:
        from p3_osm_transformer_spark.sources import fixtures as fx
        self.path = inp.spatial_points(spark, cache, seed)
        self.polygons = fx.admin_polygons(spark, inp.SPATIAL_POLYGONS).cache()
        self.polygons.count()
        self.rows = inp.SPATIAL_POINTS

    def reset(self) -> None:
        pass

    def run(self, spark, tr):
        from p3_osm_transformer_spark.operators.pip import pip_join
        from p3_osm_transformer_spark.operators.tile_assign import assign_tiles
        pts = spark.read.parquet(self.path)
        with tr.span("operators.pip"):
            hits = pip_join(pts, self.polygons)
        with tr.span("operators.tile_assign"):
            tiled = assign_tiles(hits)
        cols = ["cell_r7", "cell_r8", "cell_r9", "cell_r10", "tile_z12", "tile_z15"]
        agg = tiled.groupBy("polygon_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("point_id").alias("point_id"),
            *[F.sum(c).alias(c) for c in cols])
        with tr.span("bench.sink"):
            return {r["polygon_id"]: r.asDict() for r in agg.collect()}

    def check(self, spark, got: dict) -> list[str]:
        import pyarrow.parquet as pq

        from p3_osm_transformer_spark.functions.geocell import H3_ALIAS, np_cell_id
        from p3_osm_transformer_spark.functions.tiles import np_tile_id
        from p3_osm_transformer_spark.operators.pip import (
            np_points_in_polygon, parse_wkt_polygon)
        t = pq.read_table(self.path, columns=["point_id", "lon", "lat"])
        pid = t["point_id"].to_numpy()
        lon, lat = t["lon"].to_numpy(), t["lat"].to_numpy()
        errs = []
        for p in self.polygons.collect():
            box = ((lon >= p.bbox_lon0) & (lon <= p.bbox_lon1)
                   & (lat >= p.bbox_lat0) & (lat <= p.bbox_lat1))
            idx = np.flatnonzero(box)
            inside = idx[np_points_in_polygon(lon[idx], lat[idx],
                                              parse_wkt_polygon(p.wkt))]
            want = {"n": len(inside), "point_id": int(pid[inside].sum())}
            x, y = lon[inside], lat[inside]
            want.update({f"cell_r{r}": int(np_cell_id(x, y, g).sum())
                         for r, g in H3_ALIAS.items()})
            want.update({f"tile_z{z}": int(np_tile_id(x, y, z).sum())
                         for z in (12, 15)})
            row = got.get(p.polygon_id, {"n": 0})
            for k, v in want.items():
                if (row.get(k) or 0) != v:
                    errs.append(f"polygon {p.polygon_id} {k}: {row.get(k)} != {v}")
                    break
        return errs

    def layer_counts(self, spark, got) -> dict:
        return {}


class DedupAnn:
    """``dedup_near(threshold=0.7)`` over documents with planted
    near-duplicates, then ``cosine_topk_lsh(k=10, prefix_bits=None)`` for
    queries that copy corpus vectors exactly."""

    def prepare(self, spark, work: str, cache: str, seed: int) -> None:
        self.seed = seed
        self.docs = inp.dedup_docs(spark, cache, seed)
        self.ann = inp.ann_vectors(spark, cache, seed)
        self.rows = (inp.DEDUP_BASE + inp.DEDUP_PLANTED + inp.ANN_CORPUS
                     + inp.ANN_QUERIES)

    def reset(self) -> None:
        pass

    def run(self, spark, tr):
        from p3_osm_transformer_spark.operators.dedup import dedup_near
        from p3_osm_transformer_spark.operators.simsearch import cosine_topk_lsh
        docs = spark.read.parquet(self.docs)
        with tr.span("operators.dedup"):
            pairs = dedup_near(docs, threshold=0.7).collect()
        corpus = spark.read.parquet(self.ann["corpus"])
        queries = spark.read.parquet(self.ann["queries"])
        with tr.span("operators.simsearch"):
            top = cosine_topk_lsh(queries, corpus, k=10, prefix_bits=None,
                                  n_corpus=inp.ANN_CORPUS, dim=inp.ANN_DIM,
                                  n_queries=inp.ANN_QUERIES).collect()
        return {"pairs": pairs, "top": top}

    def check(self, spark, got: dict) -> list[str]:
        off = inp.key_offset(self.seed)
        found = {(r.id_a, r.id_b) for r in got["pairs"]}
        planted = {(off + i, off + i + 1_000_000_000)
                   for i in range(inp.DEDUP_PLANTED)}
        errs = []
        recall = len(found & planted) / len(planted)
        if recall < 0.9:
            errs.append(f"near-dup recall {recall:.3f} < 0.9")
        first = {r.query_id: r.neighbor_id for r in got["top"] if r.rank == 1}
        hit = sum(first.get(q) == inp.planted_id(q, self.seed)
                  for q in range(10_000_000, 10_000_000 + inp.ANN_QUERIES))
        if hit != inp.ANN_QUERIES:
            errs.append(f"ANN copy recall {hit}/{inp.ANN_QUERIES} < 1.0")
        return errs

    def layer_counts(self, spark, got) -> dict:
        return {"dedup_pairs": len(got["pairs"]), "ann_queries": inp.ANN_QUERIES}


class Sequence:
    """Several workloads' jobs run back to back as one job."""

    def __init__(self, *parts):
        self.parts = parts

    def prepare(self, spark, work: str, cache: str, seed: int) -> None:
        for p in self.parts:
            p.prepare(spark, work, cache, seed)
        self.rows = sum(p.rows for p in self.parts)

    def reset(self) -> None:
        for p in self.parts:
            p.reset()

    def run(self, spark, tr) -> list:
        return [p.run(spark, tr) for p in self.parts]

    def check(self, spark, outs: list) -> list[str]:
        return [e for p, o in zip(self.parts, outs) for e in p.check(spark, o)]

    def layer_counts(self, spark, outs: list) -> dict:
        return {k: v for p, o in zip(self.parts, outs)
                for k, v in p.layer_counts(spark, o).items()}


# BENCHMARK.json runs enrich_full and spatial_dedup_ann; the others run
# by name for work on one layer.
WORKLOADS = {
    "enrich_full": lambda: Enrich(resume=False),
    "enrich_resume": lambda: Enrich(resume=True),
    "spatial_join": SpatialJoin,
    "train_dedup_ann": DedupAnn,
    "spatial_dedup_ann": lambda: Sequence(SpatialJoin(), DedupAnn()),
}
