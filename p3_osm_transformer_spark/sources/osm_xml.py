"""OSM XML ingestion → osm_nodes / osm_ways DataFrames.

The reference DOM-parses a whole OSM file on one thread
(OsmXmlParser.java:48-61); the engine's scale path for OSM planet data is
pre-converted parquet (osmium/ogr2ogr land) or spark-xml.  Neither library
ships in this sandbox, so this module parses with the stdlib incremental
SAX-style reader (iterparse — constant memory, no DOM) and hands Spark an
Arrow-backed DataFrame, one file per call.

Element mapping mirrors FIXTURES.md §2-3:
  <node id lat lon><tag k v/></node>   → (id, lat, lon, tags map)
  <way id><nd ref/>…<tag k v/></way>   → (id, node_refs array, tags map)

ids are kept as int64 including negative JOSM ids — the *filters* drop
them (OsmXmlParser.java:85 semantics), not the scan.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

NODE_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("lat", T.DoubleType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
])
WAY_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("node_refs", T.ArrayType(T.LongType())),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
])


def iter_osm(path: str) -> Iterator[tuple[str, dict]]:
    """Constant-memory iterparse over one OSM XML file."""
    for _event, elem in ET.iterparse(path, events=("end",)):
        tag = elem.tag
        if tag == "node":
            tags = {t.get("k"): t.get("v") for t in elem.findall("tag")}
            yield "node", {
                "id": int(elem.get("id")),
                "lat": float(elem.get("lat", "nan")),
                "lon": float(elem.get("lon", "nan")),
                "tags": tags,
            }
            elem.clear()
        elif tag == "way":
            tags = {t.get("k"): t.get("v") for t in elem.findall("tag")}
            refs = [int(nd.get("ref")) for nd in elem.findall("nd")]
            yield "way", {"id": int(elem.get("id")), "node_refs": refs, "tags": tags}
            elem.clear()
        elif tag in ("bounds", "relation"):
            elem.clear()


def read_osm(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """One file → (osm_nodes, osm_ways).  Single-file parse happens once
    (equivalent to the reference's DOM pass) and lands in Arrow-backed
    DataFrames; everything downstream is distributed."""
    nodes, ways = [], []
    for kind, row in iter_osm(path):
        (nodes if kind == "node" else ways).append(row)
    ndf = spark.createDataFrame(pd.DataFrame(nodes), NODE_SCHEMA) if nodes \
        else spark.createDataFrame([], NODE_SCHEMA)
    wdf = spark.createDataFrame(pd.DataFrame(ways), WAY_SCHEMA) if ways \
        else spark.createDataFrame([], WAY_SCHEMA)
    return ndf, wdf

