"""Geocode match — the flagship J5 join, re-specified for Spark.

Reference (OsmRdfTransformer.java:251-301): SPARQL combining a Lucene
``text:query`` on schema:streetAddress with exact-match locality/country
patterns.  Lucene's analyzed match is re-specified deterministically
(SURVEY.md §7 risk 1, a spec we own since the reference asserts only
existence): **case-folded alphanumeric tokens, match = non-empty token
intersection**, plus locality/country equality (F8), empty-street queries
skipped (F9, OsmRdfTransformer.java:188-189).

Output shape preserves the reference quirk (OsmRdfTransformer.java:284-291):
locality/country are echoed from the QUERY row; street_address and lat/lon
come from the MATCHED address.

Physical strategy: the naive form is an arrays_overlap theta-join (no
equi-key on street).  At scale that nested-loops, so the engine runs the
classic IR decomposition instead — explode both sides to (token, locality,
country) and equi-join on all three, then semi-join back — which Catalyst
executes as a shuffled hash join on a composite key.  Both forms are
exposed; tests assert they agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def street_tokens(c: F.Column) -> F.Column:
    """Case-folded alphanumeric tokens — the engine's 'Lucene analyzer'."""
    return F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda t: t != "")


def geocode(queries: DataFrame, addresses: DataFrame,
            strategy: str = "token-join") -> DataFrame:
    """J5: queries × addresses on token-overlap(street) ∧ locality ∧ country.

    strategy='token-join' (default, scale path): explode tokens, equi-join
    on (token, locality, country), distinct pairs.  strategy='overlap'
    (naive reference-shaped form): arrays_overlap predicate join.
    """
    q = (queries
         .filter(F.length("street_address") > 0)            # F9
         .select(F.col("query_id"),
                 F.col("street_address").alias("q_street"),
                 F.col("locality").alias("q_locality"),
                 F.col("country").alias("q_country"),
                 street_tokens(F.col("street_address")).alias("q_tokens")))
    # addr_id ("urn:osm:uuid:"+id) is NOT unique across node/way sources —
    # reference quirk (osm-addresses.xsl:44,66 mint the same prefix for
    # both).  see_also (…openstreetmap.org/{node|way}/<id>) is the engine's
    # unique internal key.
    a = addresses.select(
        "addr_id", "see_also", "street_address", "locality", "country", "lat", "lon",
        street_tokens(F.col("street_address")).alias("a_tokens"))

    if strategy == "overlap":
        pairs = q.join(
            a,
            F.arrays_overlap(q.q_tokens, a.a_tokens)
            & (q.q_locality == a.locality) & (q.q_country == a.country),
            "inner")
    else:
        qt = q.select("query_id", F.explode("q_tokens").alias("tok"),
                      "q_locality", "q_country")
        at = a.select("see_also", F.col("locality").alias("a_loc"),
                      F.col("country").alias("a_cc"), F.explode("a_tokens").alias("tok"))
        hits = (qt.join(at, (qt.tok == at.tok) & (qt.q_locality == at.a_loc)
                        & (qt.q_country == at.a_cc), "inner")
                  .select("query_id", "see_also").distinct())
        pairs = (hits.join(q.drop("q_tokens"), "query_id")
                     .join(a.drop("a_tokens"), "see_also"))

    # Output contract of OsmRdfTransformer.java:284-291: matched subject +
    # matched street + QUERY locality/country + matched lat/lon.
    return pairs.select(
        "query_id", "addr_id",
        F.col("street_address").alias("matched_street"),
        F.col("q_locality").alias("locality"),
        F.col("q_country").alias("country"),
        "lat", "lon")
