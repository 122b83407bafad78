"""Seeded inputs for the four workloads, cached per seed as parquet.

Every table is built from the package's own generators
(``sources.fixtures``, ``contract.point_cols``,
``operators.images.synth_image_bytes``, ``operators.exif.exif_jpeg_bytes``).
The seed enters the row keys: it shifts the key range those generators
derive coordinates, captions and payloads from, so two seeds give two
different tables with the same size and the same 30 % hot cluster.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Sizes are also stated in BENCHMARK.json's workload descriptions.
ENRICH_IMAGES = 4_000
ENRICH_NODES = 4_000
ENRICH_WAYS = 800
RESUME_DELTA_PCT = 1          # share of images not yet committed
SPATIAL_POINTS = 300_000
SPATIAL_POLYGONS = 64
DEDUP_BASE = 6_000            # distinct documents
DEDUP_PLANTED = 800           # documents that get one near-duplicate copy
DEDUP_TOKENS = 40
ANN_CORPUS = 30_000
ANN_QUERIES = 32              # each an exact copy of one corpus vector
ANN_DIM = 64

# point_cols/fixtures coordinates repeat with period 1.44M in the key
_KEY_PERIOD = 1_440_000


def key_offset(seed: int) -> int:
    """Key shift for ``seed``: a different place on the coordinate lattice
    for every seed below the lattice period."""
    return (seed * 7_919 + 1) % _KEY_PERIOD


def _cached(path: str, build) -> str:
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        build(path)
    return path


def images(spark: SparkSession, seed: int, n: int = ENRICH_IMAGES) -> DataFrame:
    """image_id/bytes/w/h/fmt/caption/phash in ``__spark_entry__.entry``'s
    mix: 80 % caption geotag, 10 % EXIF-only JPEG, 10 % untagged, with a
    payload on every row."""
    from p3_osm_transformer_spark.contract import point_cols
    from p3_osm_transformer_spark.operators.exif import exif_jpeg_bytes
    from p3_osm_transformer_spark.operators.images import (
        phash_of_bytes, synth_image_bytes)
    key = F.col("id") + F.lit(key_offset(seed))
    lon, lat = point_cols(key)
    kind = F.col("id") % 10          # < 8 caption, 8 EXIF-only, 9 untagged
    text = F.format_string("Snapshot %d near the harbour", key)
    caption = F.when(kind < 8, F.concat(
        text, F.lit(" @ geo:"), F.format_string("%.7f", lat), F.lit(","),
        F.format_string("%.7f", lon))).otherwise(text)
    return (spark.range(0, n, 1, 8).select(
        F.format_string("img-%012d", key).alias("image_id"),
        F.lit(64).alias("w"), F.lit(64).alias("h"),
        F.when(F.col("id") % 2 == 0, "png").otherwise("jpeg").alias("fmt"),
        caption.alias("caption"), key.alias("_seed"),
        (kind == 8).alias("_exif"), lat.alias("_lat"), lon.alias("_lon"))
        .withColumn("bytes", F.when(
            F.col("_exif"), exif_jpeg_bytes("_lat", "_lon")).otherwise(
            synth_image_bytes("_seed", "w", "h", "fmt")))
        .withColumn("phash", phash_of_bytes("bytes"))
        .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash"))


def addresses(spark: SparkSession, seed: int, n_nodes: int = ENRICH_NODES,
              n_ways: int = ENRICH_WAYS) -> DataFrame:
    """``build_addresses(osm_nodes, osm_ways)`` over fixture nodes whose
    coordinates come from a seed-shifted key range; node ids are shifted
    back to 1..n so the fixture ways' refs still resolve."""
    from p3_osm_transformer_spark.operators.osm import build_addresses
    from p3_osm_transformer_spark.sources import fixtures as fx
    off = key_offset(seed) % 100_000      # bounds the rows generated here
    nodes = (fx.osm_nodes(spark, off + n_nodes)
             .filter(F.abs("id") > off)
             .withColumn("id", F.col("id") - F.signum("id").cast("long") * off))
    ways = fx.osm_ways(spark, n_ways, n_nodes)
    return build_addresses(nodes, ways)


def enrich_inputs(spark: SparkSession, root: str, seed: int) -> dict[str, str]:
    """Parquet paths of the images and address tables for ``seed``."""
    d = os.path.join(root, f"enrich-s{seed}")
    return {
        "images": _cached(os.path.join(d, "images"), lambda p: images(
            spark, seed).write.parquet(p)),
        "addresses": _cached(os.path.join(d, "addresses"), lambda p: addresses(
            spark, seed).coalesce(4).write.parquet(p)),
    }


def is_delta(image_id: F.Column, seed: int) -> F.Column:
    """The ~RESUME_DELTA_PCT % of images a resumed run still has to do."""
    return F.pmod(F.xxhash64(image_id, F.lit(seed)), F.lit(100)) < RESUME_DELTA_PCT


def spatial_points(spark: SparkSession, root: str, seed: int) -> str:
    """point_id/lon/lat with ``contract.point_cols``' distribution."""
    from p3_osm_transformer_spark.contract import point_cols

    def build(p: str) -> None:
        key = F.col("id") + F.lit(key_offset(seed))
        lon, lat = point_cols(key)
        spark.range(0, SPATIAL_POINTS, 1, 8).select(
            key.alias("point_id"), lon.alias("lon"), lat.alias("lat")
        ).write.parquet(p)
    return _cached(os.path.join(root, f"spatial-s{seed}", "points"), build)


def dedup_docs(spark: SparkSession, root: str, seed: int) -> str:
    """doc_id/text: DEDUP_BASE documents of DEDUP_TOKENS random tokens;
    the first DEDUP_PLANTED of them also appear a second time with one
    extra token (word-3-shingle Jaccard 38/39, above any threshold used
    here).  Planted copy ids are ``base id + 10^9``."""
    def build(p: str) -> None:
        off = F.lit(key_offset(seed))
        toks = F.transform(
            F.sequence(F.lit(1), F.lit(DEDUP_TOKENS)),
            lambda j: F.conv(F.pmod(F.xxhash64(F.col("id") + off, j),
                                    F.lit(16_777_213)).cast("string"), 10, 36))
        base = spark.range(0, DEDUP_BASE, 1, 8).select(
            (F.col("id") + off).alias("doc_id"),
            F.concat_ws(" ", toks).alias("text"))
        dups = (base.filter(F.col("doc_id") < off + DEDUP_PLANTED)
                .select((F.col("doc_id") + 1_000_000_000).alias("doc_id"),
                        F.concat("text", F.lit(" copy")).alias("text")))
        base.unionByName(dups).repartition(8).write.parquet(p)
    return _cached(os.path.join(root, f"dedup-s{seed}", "docs"), build)


def ann_vectors(spark: SparkSession, root: str, seed: int) -> dict[str, str]:
    """Corpus neighbor_id/embedding of ANN_CORPUS seeded 64-d vectors and
    ANN_QUERIES queries, query i an exact copy of corpus vector
    ``planted_id(i)``."""
    d = os.path.join(root, f"ann-s{seed}")
    off = key_offset(seed)
    vec = F.transform(F.sequence(F.lit(1), F.lit(ANN_DIM)),
                      lambda j: F.hash(F.col("id") + F.lit(off), j) / 2147483648.0)

    def corpus(p: str) -> None:
        spark.range(0, ANN_CORPUS, 1, 8).select(
            F.col("id").alias("neighbor_id"), vec.alias("embedding")
        ).write.parquet(p)

    def queries(p: str) -> None:
        spark.range(0, ANN_QUERIES, 1, 1).select(
            (F.col("id") + 10_000_000).alias("query_id"),
            F.pmod(F.col("id") * 7_919 + off, F.lit(ANN_CORPUS)).alias("id")
        ).select("query_id", vec.alias("embedding")).write.parquet(p)
    return {"corpus": _cached(os.path.join(d, "corpus"), corpus),
            "queries": _cached(os.path.join(d, "queries"), queries)}


def planted_id(query_id: int, seed: int) -> int:
    """Corpus id whose vector query ``query_id`` copies."""
    return ((query_id - 10_000_000) * 7_919 + key_offset(seed)) % ANN_CORPUS
