"""spark-submit entry point for the flagship enrichment job (north rule:
"launched via spark-submit --py-files on a multi-executor cluster").

    spark-submit --py-files p3_osm_transformer_spark.zip \
        p3_osm_transformer_spark/jobs/enrich_job.py \
        --images /data/images_parquet \
        --addresses /data/addresses_parquet \
        --catalog-root /data/warehouse --table enriched_images \
        [--knn-strategy ring] [--repartition-cells N]

The job is resumable: re-running with the same catalog/table anti-joins
`image_id` against committed snapshots and processes only new rows
(streaming/resume.py), committing a fresh immutable snapshot with a
metrics JSON (rows in/out, wall, rows per written file) beside it.

No master/parallelism is hard-coded here — spark-submit's --master/--conf
own the cluster shape, which is exactly what lets the same artifact run
at N and 4N executors for the scaling measurement.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="image+caption geocode enrichment")
    p.add_argument("--images", required=True,
                   help="parquet dir of image_id/bytes/w/h/fmt/caption/phash")
    p.add_argument("--addresses", required=True,
                   help="parquet dir of addr_id/street_address/lat/lon[/...]")
    p.add_argument("--catalog-root", required=True,
                   help="snapshot catalog root (Iceberg-seam directory)")
    p.add_argument("--table", default="enriched_images")
    p.add_argument("--knn-strategy", choices=["ring", "brute"], default="ring")
    p.add_argument("--geotag", choices=["caption+exif", "caption"],
                   default="caption+exif",
                   help="geotag rule: caption regexp with EXIF GPS fallback "
                        "(the flagship composition, default) or caption-only")
    p.add_argument("--repartition-cells", type=int, default=0,
                   help="if >0, repartition output by coarse cell into this "
                        "many partitions before the snapshot write (cluster "
                        "layout for downstream cell-pruned scans)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    # SparkSession comes from spark-submit's conf; getOrCreate attaches to
    # it, adding only the Python worker settings of a local master.
    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from p3_osm_transformer_spark.plans.pipeline import enrich_images
    from p3_osm_transformer_spark.session import worker_confs
    from p3_osm_transformer_spark.sources.catalog import Catalog
    from p3_osm_transformer_spark.streaming.resume import resume_run

    SparkContext._ensure_initialized()  # SparkConf then reads spark-submit's
    conf = SparkConf()                  # --master and --conf
    builder = SparkSession.builder.appName("enrich_job")
    for k, v in worker_confs(conf.get("spark.master", ""),
                             conf.get("spark.executorEnv.PYTHONPATH")).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    images = spark.read.parquet(args.images)
    addresses = spark.read.parquet(args.addresses)
    catalog = Catalog(args.catalog_root)

    def transform(todo):
        out = enrich_images(todo, addresses, knn_strategy=args.knn_strategy,
                            geotag=args.geotag)
        if args.repartition_cells > 0:
            out = out.repartition(args.repartition_cells, F.col("cell_r7"))
        return out

    metrics = resume_run(spark, catalog, args.table, images, "image_id",
                         transform)
    # the snapshot write above materialized the pipeline — release the
    # flagship's branch-point persist (plans/pipeline.py cache contract)
    from p3_osm_transformer_spark.plans.pipeline import release_enrich_cache
    release_enrich_cache()
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
