"""Contract queries, part 2: training-data ops + remaining spatial plans.

Registered into the same QUERIES/ORACLES dicts as contract.py (imported by
__spark_entry__ via contract).  Construction rules are identical: portable
determinism, identical aliases, rounding on any float output.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from p3_osm_transformer_spark.contract import ORACLES, QUERIES, _t, point_cols, point_sql, q
from p3_osm_transformer_spark.functions.geocell import cell_id, cell_id_sql

# shared SQL fragments ---------------------------------------------------
_TOKS = ("list_filter(string_split_regex(lower({c}), '[^a-z0-9]+'), t -> t != '')")


def _toks(c: str) -> str:
    return _TOKS.format(c=c)


_CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text || ' extra tail words here' AS text
  FROM documents WHERE doc_id % 5 = 0)
"""


def _corpus_df(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    near = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" extra tail words here")).alias("text"))
    return d.unionByName(near)


# ---------------------------------------------------------- q24 dedup map
@q("q24_dedup_pairs", """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, upper(text) AS text       -- case variant
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 300000 AS doc_id, text FROM documents WHERE doc_id % 4 = 0),
h AS (SELECT doc_id, md5(lower(text)) AS ch FROM corpus),
canon AS (SELECT ch, MIN(doc_id) AS canonical_id FROM h GROUP BY ch)
SELECT h.doc_id AS member_id, canon.canonical_id
FROM h JOIN canon USING (ch) WHERE h.doc_id != canon.canonical_id
""")
def q24(spark, sf_dir):
    from p3_osm_transformer_spark.operators.dedup import dedup_exact_pairs
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    case_var = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.upper("text").alias("text"))
    copy = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text")
    # normalize_text casefolds + collapses whitespace; documents are single-
    # spaced so md5(lower(text)) in SQL is the exact twin.
    return dedup_exact_pairs(d.unionByName(case_var).unionByName(copy))


# ------------------------------------------------- q25 minhash LSH + jaccard
# Replays dedup.py's universal-hash minhash bit-exact: base = 15-hex-char
# md5 prefix (60-bit int) mod p, h_i = (A_i*base + B_i) mod p, p = 2^31-1.
# The (A_i, B_i) literals are interpolated from the SAME minhash_consts()
# the engine uses — one source of truth for both engines.
from p3_osm_transformer_spark.operators.dedup import (  # noqa: E402
    P_MINHASH as _MH_P,
    minhash_consts as _mh_consts,
)

_MH_A, _MH_B = _mh_consts(8)


def _mh_sql(i: int) -> str:
    sh = ("CASE WHEN len(toks) >= 3 THEN "
          "list_transform(generate_series(1, len(toks) - 2),"
          " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
          " ELSE [array_to_string(toks, ' ')] END")
    base = f"(CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {_MH_P})"
    return (f"list_aggregate(list_transform({sh}, "
            f"s -> ({_MH_A[i]} * {base} + {_MH_B[i]}) % {_MH_P}), 'min')")


_Q25_SQL = f"""
WITH {_CORPUS_SQL},
tk AS (SELECT doc_id, {_toks('text')} AS toks FROM corpus),
sig AS (SELECT doc_id, {', '.join(f'{_mh_sql(i)} AS mh_{i}' for i in range(8))} FROM tk),
bands AS (
  {' UNION ALL '.join(
      f"SELECT doc_id, {b} AS band_idx, "
      f"concat_ws(':', CAST(mh_{2*b} AS VARCHAR), CAST(mh_{2*b+1} AS VARCHAR))"
      f" AS band_key FROM sig"
      for b in range(4))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
sh AS (SELECT doc_id,
  -- the engine verifies Jaccard over the FULL 60-bit base hashes of the
  -- shingles (dedup.py _doc_signatures: un-modded md5 prefix, ~1e-12
  -- per-pair collision odds; the mod-p reduction lives only inside the
  -- minhash family above); replay the identical hashed sets here
  list_distinct(list_transform(CASE WHEN len(toks) >= 3 THEN
    list_transform(generate_series(1, len(toks) - 2),
                   i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
    ELSE [array_to_string(toks, ' ')] END,
    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS s FROM tk)
SELECT id_a, id_b,
  ROUND(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 6) AS jaccard
FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
      / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.7
"""


@q("q25_near_dup_jaccard", _Q25_SQL)
def q25(spark, sf_dir):
    from p3_osm_transformer_spark.operators.dedup import dedup_near
    return dedup_near(_corpus_df(spark, sf_dir), threshold=0.7,
                      n_hashes=8, band_size=2, shingle_n=3, max_bucket=10**9)


# ---------------------------------------------------------- q26 simhash16
def _simhash_sql_bit(i: int) -> str:
    return (f"CASE WHEN list_aggregate(list_transform(toks, t -> CASE WHEN "
            f"substring(md5(t), {i}, 1) IN ('8','9','a','b','c','d','e','f') "
            f"THEN 1 ELSE -1 END), 'sum') > 0 THEN '1' ELSE '0' END")


@q("q26_simhash16", f"""
WITH tk AS (SELECT doc_id, {_toks('text')} AS toks FROM documents)
SELECT doc_id, {" || ".join(_simhash_sql_bit(i) for i in range(1, 17))} AS simhash
FROM tk
""")
def q26(spark, sf_dir):
    from p3_osm_transformer_spark.operators.dedup import simhash16
    return _t(spark, sf_dir, "documents").select(
        "doc_id", simhash16("text").alias("simhash"))


# -------------------------------------------------------- q27 fingerprint
@q("q27_fingerprint", """
WITH n AS (SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t
           FROM documents)
SELECT doc_id,
  list_aggregate(list_transform(
    generate_series(1, GREATEST(length(t) - 11, 1)),
    i -> md5(substring(t, i, 12))), 'min') AS fingerprint
FROM n
""")
def q27(spark, sf_dir):
    from p3_osm_transformer_spark.operators.text import with_fingerprint
    return with_fingerprint(_t(spark, sf_dir, "documents")) \
        .select("doc_id", "fingerprint")


# ------------------------------------------------------------ q28 quality
@q("q28_quality", r"""
WITH base AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS BIGINT) AS n_tokens,
    length(text) AS n_chars,
    len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
    len(regexp_extract_all(lower(text),
        '\b(the|a|of|and|is|to|in|it|that|for)\b')) AS n_stop
  FROM documents),
r AS (
  SELECT doc_id, n_tokens,
    ROUND(n_punct / GREATEST(n_chars, 1), 6) AS punct_ratio,
    ROUND(n_stop / CAST(GREATEST(n_tokens, 1) AS DOUBLE), 6) AS stopword_ratio
  FROM base)
SELECT doc_id, n_tokens, punct_ratio, stopword_ratio,
  ROUND(LEAST(n_tokens / 20.0, 1.0)
        * (1.0 - LEAST(punct_ratio * 5.0, 1.0))
        * LEAST(stopword_ratio * 4.0 + 0.2, 1.0), 6) AS quality
FROM r
""")
def q28(spark, sf_dir):
    from p3_osm_transformer_spark.operators.text import with_quality
    return with_quality(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "punct_ratio", "stopword_ratio", "quality")


# ----------------------------------------------------- q29 token counting
@q("q29_token_subword", r"""
SELECT doc_id,
  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS BIGINT)
    AS n_words,
  GREATEST(
    CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS BIGINT),
    CAST(CEIL(length(text) / 3.2) AS BIGINT)) AS n_subword_est
FROM documents
""")
def q29(spark, sf_dir):
    from p3_osm_transformer_spark.operators.text import with_token_counts
    return with_token_counts(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_words", "n_subword_est")


# --------------------------------------------------------- q30 kNN (k=3)
_LON_C, _LAT_C = point_sql("c_custkey")
_LON_S, _LAT_S = point_sql("s_suppkey * 7 + 3")
from p3_osm_transformer_spark.functions.geocell import haversine_m_sql  # noqa: E402

_KNN3_ORACLE = f"""
SELECT c_custkey, s_suppkey, knn_rank, ROUND(dist_m, 1) AS dist_m FROM (
  SELECT c.c_custkey, s.s_suppkey,
         {haversine_m_sql(_LON_C, _LAT_C, _LON_S, _LAT_S)} AS dist_m,
         ROW_NUMBER() OVER (PARTITION BY c.c_custkey
             ORDER BY {haversine_m_sql(_LON_C, _LAT_C, _LON_S, _LAT_S)}, s.s_suppkey)
           AS knn_rank
  FROM customer c CROSS JOIN supplier s) WHERE knn_rank <= 3
"""


@q("q30_knn3_ring", _KNN3_ORACLE)
def q30(spark, sf_dir):
    from p3_osm_transformer_spark.contract import _knn_inputs
    from p3_osm_transformer_spark.operators.knn import knn_ring
    pts, addrs = _knn_inputs(spark, sf_dir)
    nn = knn_ring(pts, addrs, k=3, g=None, start_ring=2, max_rounds=2)
    return nn.select(F.col("point_id").alias("c_custkey"),
                     F.col("addr_id").alias("s_suppkey"), "knn_rank",
                     F.round("dist_m", 1).alias("dist_m"))


# --------------------------------------------------------- q31 ANN (LSH)
# Oracle-checkable ANN: plant 5 EXACT copies of every query vector in the
# corpus (ids +10000j).  An identical vector gets an identical sign sketch,
# so the copies land in the query's own probe bucket — recall for the true
# top-5 is provably 1.0 and the ANN output must equal the brute-force SQL
# twin exactly (cos 1.0 ties broken by neighbor_id in both engines).  The
# statistical recall on non-planted corpora stays pytest-gated
# (test_training_ops.py); this row proves the bucket-join + re-rank + rank
# window machinery end-to-end against DuckDB.
_ANN_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id < 20),
c AS (
  SELECT vec_id AS neighbor_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 * j AS neighbor_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings, generate_series(1, 5) gs(j) WHERE vec_id < 20),
sims AS (
  SELECT q.query_id, c.neighbor_id,
         (SELECT SUM(q.e[g] * c.e[g]) FROM generate_series(1, 64) gs(g)) /
         (sqrt(list_aggregate(list_transform(q.e, x -> x * x), 'sum')) *
          sqrt(list_aggregate(list_transform(c.e, x -> x * x), 'sum'))) AS s
  FROM q CROSS JOIN c WHERE q.query_id != c.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY s DESC, neighbor_id) AS rank
  FROM sims)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
"""


def _ann_planted_inputs(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding")
    copies = (e.filter(F.col("vec_id") < 20)
              .crossJoin(spark.range(1, 6).select(F.col("id").alias("_j")))
              .select((F.col("vec_id") + 10000 * F.col("_j"))
                      .alias("neighbor_id"), "embedding"))
    cv = (e.select(F.col("vec_id").alias("neighbor_id"), "embedding")
          .unionByName(copies))
    return qv, cv


@q("q31_ann_lsh", _ANN_ORACLE)
def q31(spark, sf_dir):
    from p3_osm_transformer_spark.operators.simsearch import cosine_topk_lsh
    qv, cv = _ann_planted_inputs(spark, sf_dir)
    # prefix_bits=None → corpus-size-derived bucket count (the scale path)
    out = cosine_topk_lsh(qv, cv, k=5, prefix_bits=None)
    return out.select("query_id", "neighbor_id", "rank")


# --------------------------------------------------------- q32 salted agg
@q("q32_salted_agg", f"""
SELECT cell, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sk, MAX(k) AS mx FROM (
  SELECT {cell_id_sql(point_sql('l_orderkey * 8 + l_linenumber')[0],
                      point_sql('l_orderkey * 8 + l_linenumber')[1], 12)} AS cell,
         l_orderkey * 8 + l_linenumber AS k
  FROM lineitem) GROUP BY cell
""")
def q32(spark, sf_dir):
    from p3_osm_transformer_spark.operators.skew import salted_agg
    li = _t(spark, sf_dir, "lineitem")
    key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    lon, lat = point_cols(key)
    pts = li.select(cell_id(lon, lat, 12).alias("cell"), key.alias("k"))
    out = salted_agg(pts, "cell", "k",
                     {"n": "count(*)", "sk": "sum(k)", "mx": "max(k)"}, n_salts=8)
    return out.select("cell", F.col("n").cast("bigint").alias("n"), "sk", "mx")


# ---------------------------------------------------------- q33 hot cells
@q("q33_hot_cells", f"""
WITH counts AS (
  SELECT {cell_id_sql(point_sql('l_orderkey * 8 + l_linenumber')[0],
                      point_sql('l_orderkey * 8 + l_linenumber')[1], 10)} AS cell,
         COUNT(*) AS n_rows
  FROM lineitem GROUP BY 1)
SELECT cell, n_rows FROM counts, (SELECT AVG(n_rows) AS m FROM counts)
WHERE n_rows > m * 16.0
""")
def q33(spark, sf_dir):
    from p3_osm_transformer_spark.operators.skew import hot_cells
    li = _t(spark, sf_dir, "lineitem")
    key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    lon, lat = point_cols(key)
    pts = li.select(cell_id(lon, lat, 10).alias("cell"))
    return hot_cells(pts, "cell", factor=16.0)


# ------------------------------------------------- q34 L-shaped PIP (exact)
# L polygon = rect [9,13]×[41,43] ∪ rect [9,11]×[43,45]; oracle = two BETWEENs
_Q34_SQL = f"""
SELECT c_custkey FROM customer
WHERE ({_LON_C} BETWEEN 9.0 AND 13.0 AND {_LAT_C} BETWEEN 41.0 AND 43.0)
   OR ({_LON_C} BETWEEN 9.0 AND 11.0 AND {_LAT_C} BETWEEN 43.0 AND 45.0)
"""


@q("q34_pip_lshape", _Q34_SQL)
def q34(spark, sf_dir):
    from p3_osm_transformer_spark.operators.pip import pip_join
    c = _t(spark, sf_dir, "customer")
    lon, lat = point_cols(F.col("c_custkey"))
    pts = c.select(F.col("c_custkey").alias("point_id"),
                   lon.alias("lon"), lat.alias("lat"))
    poly = spark.createDataFrame(
        [(1, "POLYGON ((9.0 41.0, 13.0 41.0, 13.0 43.0, 11.0 43.0, 11.0 45.0, "
             "9.0 45.0, 9.0 41.0))", 9.0, 41.0, 13.0, 45.0)],
        "polygon_id long, wkt string, bbox_lon0 double, bbox_lat0 double, "
        "bbox_lon1 double, bbox_lat1 double")
    return pip_join(pts, poly, point_id="point_id") \
        .select(F.col("point_id").alias("c_custkey"))


# -------------------------------------------- q35 geocode vs naive SQL twin
_Q35_SQL = f"""
WITH addrs AS (
  SELECT 'urn:osm:uuid:' || p_partkey AS addr_id, p_name AS street_address,
         p_brand AS locality, substring(p_type, 1, 8) AS country,
         {point_sql('p_partkey + 11')[1]} AS lat, {point_sql('p_partkey + 11')[0]} AS lon
  FROM part),
qs AS (
  SELECT 'q-' || p_partkey AS query_id, p_name AS street_address,
         CASE WHEN p_partkey % 3 = 0 THEN 'NOMATCH' ELSE p_brand END AS locality,
         substring(p_type, 1, 8) AS country
  FROM part WHERE p_partkey % 9 = 1)
SELECT q.query_id, a.addr_id, a.street_address AS matched_street,
       q.locality, q.country, a.lat, a.lon
FROM qs q JOIN addrs a
  ON list_has_any({_toks('q.street_address')}, {_toks('a.street_address')})
 AND q.locality = a.locality AND q.country = a.country
WHERE length(q.street_address) > 0
"""


@q("q35_geocode_tokens", _Q35_SQL)
def q35(spark, sf_dir):
    from p3_osm_transformer_spark.operators.geocode import geocode
    p = _t(spark, sf_dir, "part")
    lon, lat = point_cols(F.col("p_partkey") + 11)
    addrs = p.select(
        F.concat(F.lit("urn:osm:uuid:"), F.col("p_partkey").cast("string")).alias("addr_id"),
        F.col("p_name").alias("street_address"),
        F.col("p_brand").alias("locality"),
        F.substring("p_type", 1, 8).alias("country"),
        lat.alias("lat"), lon.alias("lon"),
        # unique internal key (geocode joins back on see_also)
        F.concat(F.lit("x/"), F.col("p_partkey").cast("string")).alias("see_also"))
    qs = p.filter(F.col("p_partkey") % 9 == 1).select(
        F.concat(F.lit("q-"), F.col("p_partkey").cast("string")).alias("query_id"),
        F.col("p_name").alias("street_address"),
        F.when(F.col("p_partkey") % 3 == 0, "NOMATCH")
         .otherwise(F.col("p_brand")).alias("locality"),
        F.substring("p_type", 1, 8).alias("country"))
    return geocode(qs, addrs, strategy="token-join")


# =============================================================== part 3

# F5-analogue over typed JSON props (reference POI filters are categorical
# predicates; events.props is the testdata's semi-structured column)
@q("q36_json_props", """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events WHERE event_type IN ('click', 'view')
GROUP BY event_type
""")
def q36(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.filter(F.col("event_type").isin("click", "view"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.get_json_object("props", "$.k").cast("bigint"))
                  .alias("sum_k")))


# grouping-sets family (engine extension; reference has plain group-by only)
@q("q37_rollup", """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
""")
def q37(spark, sf_dir):
    return (_t(spark, sf_dir, "lineitem")
            .rollup("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("l_quantity"), 2).alias("sum_qty")))


def _s2_ij_ctes(lon: str, lat: str, n: int, tie: str) -> str:
    """The S2 projection the s2z and true-S2 replays share, as DuckDB CTEs:
    lon/lat → unit XYZ → cube face (+3 for a negative major axis; ``tie``
    compares the axes: S2's strict ``>``, s2z's ``>=``) → per-face (u, v)
    → quadratic st → (i, j) on an n × n face grid."""
    return f"""
xyz AS (
  SELECT *, cos(radians({lat})) * cos(radians({lon})) AS x,
            cos(radians({lat})) * sin(radians({lon})) AS y,
            sin(radians({lat})) AS z
  FROM pts),
faced AS (
  SELECT *, CASE WHEN abs(x) {tie} abs(y)
                 THEN CASE WHEN abs(x) {tie} abs(z) THEN 0 ELSE 2 END
                 ELSE CASE WHEN abs(y) {tie} abs(z) THEN 1 ELSE 2 END END AS f0
  FROM xyz),
faced2 AS (
  SELECT *, CASE WHEN (CASE f0 WHEN 0 THEN x WHEN 1 THEN y ELSE z END) < 0
                 THEN f0 + 3 ELSE f0 END AS face
  FROM faced),
uv AS (
  SELECT *, CASE face WHEN 0 THEN y / x WHEN 1 THEN -x / y WHEN 2 THEN -x / z
                      WHEN 3 THEN z / x WHEN 4 THEN z / y ELSE -y / z END AS u,
            CASE face WHEN 0 THEN z / x WHEN 1 THEN z / y WHEN 2 THEN -y / z
                      WHEN 3 THEN y / x WHEN 4 THEN -x / y ELSE -x / z END AS v
  FROM faced2),
st AS (
  SELECT *, CASE WHEN u >= 0 THEN 0.5 * sqrt(greatest(1 + 3 * u, 0))
                 ELSE 1 - 0.5 * sqrt(greatest(1 - 3 * u, 0)) END AS su,
            CASE WHEN v >= 0 THEN 0.5 * sqrt(greatest(1 + 3 * v, 0))
                 ELSE 1 - 0.5 * sqrt(greatest(1 - 3 * v, 0)) END AS sv
  FROM uv),
ij AS (
  SELECT *, GREATEST(LEAST(CAST(FLOOR(su * {n}) AS BIGINT), {n - 1}), 0) AS i,
            GREATEST(LEAST(CAST(FLOOR(sv * {n}) AS BIGINT), {n - 1}), 0) AS j
  FROM st)"""


# S2-style cube-face cells (functions/s2z.py, a scalar Arrow UDF)
def _s2z_cte(lon: str, lat: str, level: int) -> str:
    """DuckDB CTE chain replaying functions/s2z.py exactly: ``_s2_ij_ctes``
    with s2z's ``>=`` face tie, then Morton interleave → packed id."""
    n = 1 << level
    morton = " + ".join(
        f"(((i >> {b}) & 1) * {1 << (2 * b + 1)}) + (((j >> {b}) & 1) * {1 << (2 * b)})"
        for b in range(level))
    return f"""
{_s2_ij_ctes(lon, lat, n, '>=')},
cells AS (
  SELECT *, CAST(face AS BIGINT) * {1 << 58} + ({morton}) * 32 + {level} AS s2z
  FROM ij)
"""


# (the former q38_s2z_cells — per-face point counts — was UNREGISTERED in
# round 4: q48_s2z_ids checks the same s2z pipeline value-exact per point,
# which strictly subsumes the face rollup.  The driver gate caps at 50
# queries; the freed slot lets q51_hexcell land in the official artifact.)


# full packed s2z id per point — proves the whole numpy pipeline (face,
# quadratic st, Morton interleave, bit packing) value-for-value against
# the generated-SQL replay
@q("q48_s2z_ids", f"""
WITH pts AS (
  SELECT c_custkey, {point_sql('c_custkey')[0]} AS lon,
         {point_sql('c_custkey')[1]} AS lat FROM customer),
{_s2z_cte('lon', 'lat', 12)}
SELECT c_custkey, s2z FROM cells
""")
def q48(spark, sf_dir):
    from p3_osm_transformer_spark.functions.s2z import s2z_cell
    c = _t(spark, sf_dir, "customer")
    lon, lat = point_cols(F.col("c_custkey"))
    return c.select("c_custkey", s2z_cell(lon, lat, 12).alias("s2z"))


# running analytic window (frame clause) over the events stream table
@q("q39_running_window", """
SELECT event_id, user_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
FROM events
""")
def q39(spark, sf_dir):
    from pyspark.sql import Window
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return _t(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"))


# pivot (conditional aggregation twin)
@q("q40_pivot", """
SELECT l_returnflag,
       ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_O,
       ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_F
FROM lineitem GROUP BY l_returnflag
""")
def q40(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = (li.groupBy("l_returnflag").pivot("l_linestatus", ["O", "F"])
         .agg(F.round(F.sum("l_quantity"), 2)))
    return p.select("l_returnflag", F.col("O").alias("qty_O"),
                    F.col("F").alias("qty_F"))


# exact distinct counting (A-family; approx_count_distinct is engine-local)
@q("q41_count_distinct", """
SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem GROUP BY l_returnflag
""")
def q41(spark, sf_dir):
    return (_t(spark, sf_dir, "lineitem").groupBy("l_returnflag")
            .agg(F.countDistinct("l_orderkey").alias("n_orders"),
                 F.countDistinct("l_partkey").alias("n_parts")))


# cell hierarchy: child g=12 → parent g=10 rollup (parent_cell arithmetic)
@q("q42_cell_parent_rollup", f"""
WITH child AS (
  SELECT {cell_id_sql(point_sql('l_orderkey * 8 + l_linenumber')[0],
                      point_sql('l_orderkey * 8 + l_linenumber')[1], 12)} AS cell
  FROM lineitem)
SELECT ((cell // 4096) // 4) * 1024 + ((cell % 4096) // 4) AS parent_cell,
       COUNT(*) AS n
FROM child GROUP BY 1
""")
def q42(spark, sf_dir):
    from p3_osm_transformer_spark.functions.geocell import parent_cell
    li = _t(spark, sf_dir, "lineitem")
    key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    lon, lat = point_cols(key)
    child = li.select(cell_id(lon, lat, 12).alias("cell"))
    return (child.select(parent_cell(F.col("cell"), 12, 2).alias("parent_cell"))
            .groupBy("parent_cell").agg(F.count("*").alias("n")))


# U1 incremental-union text-hit semantics (JenaTextConfigTest twin: load →
# 1 hit, load increment → 2 hits, scaled up)
@q("q43_union_text_hits", f"""
WITH base AS (SELECT p_partkey AS k, p_name AS street FROM part),
increment AS (SELECT p_partkey + 500000 AS k, p_name AS street
              FROM part WHERE p_partkey % 2 = 0),
hit AS (SELECT 'base' AS stage, COUNT(*) AS n_hits FROM base
        WHERE list_has_any({_toks('street')}, ['red'])
        UNION ALL
        SELECT 'after_union' AS stage, COUNT(*) AS n_hits FROM (
          SELECT * FROM base UNION ALL SELECT * FROM increment)
        WHERE list_has_any({_toks('street')}, ['red']))
SELECT stage, n_hits FROM hit
""")
def q43(spark, sf_dir):
    from p3_osm_transformer_spark.operators.geocode import street_tokens
    p = _t(spark, sf_dir, "part")
    base = p.select(F.col("p_partkey").alias("k"), F.col("p_name").alias("street"))
    inc = p.filter(F.col("p_partkey") % 2 == 0).select(
        (F.col("p_partkey") + 500000).alias("k"), F.col("p_name").alias("street"))
    has_red = F.arrays_overlap(street_tokens(F.col("street")),
                               F.array(F.lit("red")))
    b = base.filter(has_red).agg(F.count("*").alias("n_hits")) \
        .select(F.lit("base").alias("stage"), "n_hits")
    u = base.unionByName(inc).filter(has_red) \
        .agg(F.count("*").alias("n_hits")) \
        .select(F.lit("after_union").alias("stage"), "n_hits")
    return b.unionByName(u)


# (the former q44_unit_norm_dot, a unit-norm dot product, was unregistered
# in round 4; its slot went to the end-to-end flagship contract query
# q52_enrich_e2e.)


# 64-bit simhash banded near-dup pairs.  The fingerprint is md5-derived
# (dedup.py simhash64_np: per-token hash = first 8 bytes of md5, big-endian;
# per-bit majority vote), which DuckDB replays EXACTLY via the hex-substring
# cast — so the oracle recomputes every fingerprint from the raw text and
# then applies the same contract the banded plan implements: popcount ≤ 6
# AND ≥1 exact 16-bit band match (hamming ≤ 3 needs no band clause by
# pigeonhole; 4..6 is the documented banded-recall regime, so the band
# predicate IS the spec).  Negative fingerprints (~half of real corpora,
# 183/600 here) exercise the sign-safe band extraction.
@q("q45_simhash64_pairs", r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text || ' extra tail words here' AS text
  FROM documents WHERE doc_id % 5 = 0),
tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                    x -> x != '')) AS w
  FROM corpus),
th AS (
  SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 16)) AS UBIGINT) AS h FROM tok),
votes AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN generate_series(0, 63) gs(b)
  GROUP BY doc_id, b),
fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS UBIGINT) << CAST(b AS INTEGER)
                       ELSE 0 END) AS HUGEINT) AS u
  FROM votes GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(CAST(CASE WHEN a.u >= 9223372036854775808
                               THEN a.u - 18446744073709551616 ELSE a.u END AS BIGINT),
                     CAST(CASE WHEN b.u >= 9223372036854775808
                               THEN b.u - 18446744073709551616 ELSE b.u END AS BIGINT)))
         AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE hamming <= 6
  AND ((CAST(a.u AS HUGEINT) >> 0)  % 65536 = (CAST(b.u AS HUGEINT) >> 0)  % 65536 OR
       (CAST(a.u AS HUGEINT) >> 16) % 65536 = (CAST(b.u AS HUGEINT) >> 16) % 65536 OR
       (CAST(a.u AS HUGEINT) >> 32) % 65536 = (CAST(b.u AS HUGEINT) >> 32) % 65536 OR
       (CAST(a.u AS HUGEINT) >> 48) % 65536 = (CAST(b.u AS HUGEINT) >> 48) % 65536)
""")
def q45(spark, sf_dir):
    from p3_osm_transformer_spark.operators.dedup import simhash_near_pairs
    # the oracle above is UNCAPPED (exhaustive cross join), so the banded
    # plan must run with an unbounded hot-bucket cap; the production
    # default (max_bucket=1000) intentionally drops degenerate buckets and
    # would diverge on corpora where >1000 docs share a 16-bit band value
    return simhash_near_pairs(_corpus_df(spark, sf_dir), max_hamming=6,
                              max_bucket=10**9)


# IVF ANN with the q31 planted-copy oracle: an exact copy is assigned the
# same nearest centroid its query probes first, so the true top-5 are
# always in the probed lists and IVF output == brute SQL twin.  The
# quantizer (n_centroids=None → √n sizing) trains on the deterministic
# bounded sample; the oracle doesn't model centroids at all — it doesn't
# need to, because recall is 1.0 by construction.
@q("q46_ann_ivf", _ANN_ORACLE)
def q46(spark, sf_dir):
    from p3_osm_transformer_spark.operators.simsearch import cosine_topk_ivf
    qv, cv = _ann_planted_inputs(spark, sf_dir)
    out = cosine_topk_ivf(qv, cv, k=5, n_centroids=None, n_probe=4)
    return out.select("query_id", "neighbor_id", "rank")


# ------------------------------------------------- q47 image phash near-dup
# Image near-duplicates over the input_hint table's phash:int64 column.
# The derived phash is pure 64-bit-safe integer math both engines compute
# identically; planted copies flip one bit, so ground truth (the O(n²)
# bit_count cross join, fine at oracle scale) must equal the banded
# pigeonhole plan's output EXACTLY — this oracle proves the 4×16 banding
# misses nothing at hamming ≤ 3.
_PHASH = ("((doc_id * 1103515245 + 12345) % 2147483648) * 2147483648"
          " + ((doc_id * 69069 + 1) % 2147483648)")

# sign-planting: odd doc_ids get bit 63 set (negative int64 phash — half of
# real perceptual-hash corpora) and the planted dup flips bit doc_id % 64
# (INCLUDING bit 63, the sign bit) — regression fixture for the band-0
# sign-extraction bug (a sign-preserving % would miss every pair whose
# only matching band is band 0 across a sign flip).
_SIGN63 = "CAST(-9223372036854775808 AS BIGINT)"
_PHASH_S = (f"xor({_PHASH}, CASE WHEN doc_id % 2 = 1 THEN {_SIGN63} "
            "ELSE CAST(0 AS BIGINT) END)")
_FLIP64 = (f"CASE WHEN doc_id % 64 = 63 THEN {_SIGN63} "
           "ELSE (CAST(1 AS BIGINT) << CAST(doc_id % 64 AS INTEGER)) END")


@q("q47_phash_near_dup", f"""
WITH img AS (
  SELECT doc_id AS image_id, {_PHASH_S} AS phash FROM documents
  UNION ALL
  SELECT doc_id + 400000 AS image_id,
         xor({_PHASH_S}, {_FLIP64}) AS phash
  FROM documents WHERE doc_id % 5 = 0)
SELECT a.image_id AS id_a, b.image_id AS id_b,
       bit_count(xor(a.phash, b.phash)) AS hamming
FROM img a JOIN img b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3
""")
def q47(spark, sf_dir):
    from p3_osm_transformer_spark.operators.dedup import phash_near_pairs
    d = _t(spark, sf_dir, "documents").select("doc_id")
    h1 = (F.col("doc_id") * 1103515245 + 12345) % 2147483648
    h2 = (F.col("doc_id") * 69069 + 1) % 2147483648
    sign = F.when(F.col("doc_id") % 2 == 1,
                  F.expr("shiftleft(cast(1 as bigint), 63)")
                  ).otherwise(F.lit(0).cast("long"))
    phash = (h1 * F.lit(2147483648) + h2).cast("long").bitwiseXOR(sign)
    base = d.select(F.col("doc_id").alias("image_id"), phash.alias("phash"))
    flip = F.expr("shiftleft(cast(1 as bigint), cast(doc_id % 64 as int))")
    dup = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 400000).alias("image_id"),
        phash.bitwiseXOR(flip).alias("phash"))
    # uncapped oracle (exhaustive cross join) → unbounded hot-bucket cap,
    # same rationale as q45
    return phash_near_pairs(base.unionByName(dup), "image_id", "phash",
                            max_hamming=3, max_bucket=10**9)


# ------------------------------------------ q49 embedding-cosine near-dup
# The exact (brute twin) form of cosine_near_dup_pairs is oracle-checkable;
# the LSH-prefiltered scale plan is pytest-verified (planted recall >= 0.9,
# zero false positives) in test_training_ops.py.  Near-dups are planted by
# a constant-shift perturbation — identical float math in both engines.
@q("q49_embed_near_dup", """
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id < 200
  UNION ALL
  SELECT vec_id + 10000 AS vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.03) AS e
  FROM embeddings WHERE vec_id < 200),
n AS (
  SELECT vec_id, list_transform(e, x -> x /
    sqrt(list_aggregate(list_transform(e, y -> y * y), 'sum'))) AS u
  FROM vecs)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE (SELECT SUM(a.u[g] * b.u[g]) FROM generate_series(1, 64) gs(g)) >= 0.95
""")
def q49(spark, sf_dir):
    from p3_osm_transformer_spark.operators.simsearch import (
        cosine_near_dup_brute)
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    base = e.select("vec_id", F.transform(
        "embedding", lambda x: x.cast("double")).alias("embedding"))
    pert = e.select((F.col("vec_id") + 10000).alias("vec_id"), F.transform(
        "embedding", lambda x: x.cast("double") + 0.03).alias("embedding"))
    # pair membership is robust (planted pairs ~0.97 vs threshold 0.95);
    # the displayed cosine is NOT emitted — summation order differs between
    # engines at the 4th decimal, and ids are the semantic output anyway
    pairs = cosine_near_dup_brute(base.unionByName(pert), threshold=0.95)
    return pairs.select("id_a", "id_b")


# true S2 cell ids (functions/s2cell.py) — the full published pipeline
# replayed in generated DuckDB SQL: strict-tie cube face, quadratic ST,
# leaf (i,j) at 2^30, EIGHT lookup-table Hilbert rounds (the 1024-entry
# spec table inlined as data), parent-at-level bit algebra, two's-
# complement signed carrier.  Value-exact or nothing.
def _s2_cellid_cte(level: int) -> str:
    from p3_osm_transformer_spark.functions.s2cell import (
        lookup_pos_sql_literal)
    n = 1 << 30
    lsb = 1 << (2 * (30 - level))
    rounds = []
    prev = "ij"
    for k in range(7, -1, -1):
        bits = "(face & 1)" if k == 7 else f"(v{k + 1} & 3)"
        rounds.append(f"""
h{k} AS (
  SELECT c.*, lu{k}.v AS v{k}
  FROM {prev} c JOIN lu lu{k}
    ON lu{k}.idx = {bits} + ((i >> {4 * k}) & 15) * 64 + ((j >> {4 * k}) & 15) * 4)""")
        prev = f"h{k}"
    pos_sum = " + ".join(
        f"(CAST(v{k} AS HUGEINT) // 4) * {1 << (8 * k)}" for k in range(8))
    return f"""
lu AS (
  SELECT i - 1 AS idx, l[i] AS v
  FROM (SELECT {lookup_pos_sql_literal()} AS l), generate_series(1, 1024) t(i)),
{_s2_ij_ctes('lon', 'lat', n, '>')},{','.join(rounds)},
cells AS (
  SELECT *, (CAST(CAST(face AS BIGINT) * {1 << 60} AS HUGEINT)
             + {pos_sum}) * 2 + 1 AS leaf
  FROM h0),
parents AS (
  SELECT *, (leaf // {2 * lsb}) * {2 * lsb} + {lsb} AS pu FROM cells),
s2cells AS (
  SELECT *, CAST(CASE WHEN pu >= {1 << 63} THEN pu - {(1 << 64)} ELSE pu END
                 AS BIGINT) AS s2id
  FROM parents)
"""


@q("q50_s2_cellid", f"""
WITH pts AS (
  SELECT c_custkey, {point_sql('c_custkey')[0]} AS lon,
         {point_sql('c_custkey')[1]} AS lat FROM customer),
{_s2_cellid_cte(12)}
SELECT c_custkey, s2id FROM s2cells
""")
def q50(spark, sf_dir):
    from p3_osm_transformer_spark.functions.s2cell import s2_cellid
    c = _t(spark, sf_dir, "customer")
    lon, lat = point_cols(F.col("c_custkey"))
    return c.select("c_custkey", s2_cellid(lon, lat, 12).alias("s2id"))


# icosahedral aperture-7 hexcells (functions/hexcell.py) — the whole
# encode replayed in generated DuckDB SQL: 20 face-center dot products +
# argmax CASE, trig-free gnomonic projection, axial hex coordinates,
# float hex rounding once, then NINE exact-integer digit rounds (parent
# division by the aperture matrix on sevenths — no float, no tie) into
# the H3-style packed id.  Value-exact or nothing.
def _hexcell_cte(res: int) -> str:
    from p3_osm_transformer_spark.functions.hexcell import (
        hex_cellid_replay_cte)
    return hex_cellid_replay_cte(res)


@q("q51_hexcell", f"""
WITH pts AS (
  SELECT c_custkey AS _k0, {point_sql('c_custkey')[0]} AS lon,
         {point_sql('c_custkey')[1]} AS lat FROM customer),
{_hexcell_cte(9)}
SELECT _key AS c_custkey, hexid FROM hexcells
""")
def q51(spark, sf_dir):
    from p3_osm_transformer_spark.functions.hexcell import hex_cellid
    c = _t(spark, sf_dir, "customer")
    lon, lat = point_cols(F.col("c_custkey"))
    return c.select("c_custkey", hex_cellid(lon, lat, 9).alias("hexid"))


# ------------------------------------------------ q52 end-to-end flagship
# The E1 composition (SURVEY §3) as ONE driver-checked row: caption geotag
# (regexp) → geocell/tile encode → true-S2 + hexcell columns → kNN reverse
# geocode (brute twin; ring proven plan-equivalent by q16/q30) → no-geo
# union.  Every stage was already individually SQL-replayable (q17, q12,
# q13, q50, q51, q15) — this query replays the whole enrich_images chain,
# closing the "pieces green but composition unchecked" gap from the r3
# verdict.  The DuckDB twin stitches the generated S2 and hexcell CTE
# chains in via shadowed WITH-subqueries so their internal CTE names
# cannot collide.
from p3_osm_transformer_spark.functions.tiles import tile_id_sql  # noqa: E402
from p3_osm_transformer_spark.operators.geotag import geotag_sql  # noqa: E402

_LON_D17, _LAT_D17 = point_sql("doc_id + 17")
_LON_SUP, _LAT_SUP = point_sql("s_suppkey * 7 + 3")
_G_LAT, _G_LON = geotag_sql("caption")

_Q52_ENR_COLS = ("image_id, caption, lat, lon, cell_r7, cell_r8, cell_r9, "
                 "cell_r10, tile_z12, tile_z15, s2_12, hex_9, "
                 "nearest_addr_id, nearest_dist_m")

_Q52_SQL = f"""
WITH imgs AS (
  SELECT printf('img-%08d', doc_id) AS image_id,
         CASE WHEN doc_id % 10 < 8
              THEN substr(text, 1, 60) || ' @ geo:' ||
                   printf('%.7f', {_LAT_D17}) || ',' || printf('%.7f', {_LON_D17})
              ELSE substr(text, 1, 60) END AS caption
  FROM documents),
tagged AS (
  SELECT image_id, caption, {_G_LAT} AS lat, {_G_LON} AS lon FROM imgs),
geo AS (SELECT * FROM tagged WHERE lat IS NOT NULL),
addrs AS (
  SELECT s_suppkey AS addr_id, {_LON_SUP} AS alon, {_LAT_SUP} AS alat
  FROM supplier),
nn AS (
  SELECT image_id, addr_id AS nearest_addr_id,
         ROUND(dist_m, 1) AS nearest_dist_m FROM (
    SELECT g.image_id, a.addr_id,
           {haversine_m_sql('g.lon', 'g.lat', 'a.alon', 'a.alat')} AS dist_m,
           ROW_NUMBER() OVER (PARTITION BY g.image_id
               ORDER BY {haversine_m_sql('g.lon', 'g.lat', 'a.alon', 'a.alat')},
                        a.addr_id) AS rn
    FROM geo g CROSS JOIN addrs a) WHERE rn = 1),
enr AS (
  SELECT g.image_id, g.caption, g.lat, g.lon,
         {cell_id_sql('g.lon', 'g.lat', 15)} AS cell_r7,
         {cell_id_sql('g.lon', 'g.lat', 16)} AS cell_r8,
         {cell_id_sql('g.lon', 'g.lat', 18)} AS cell_r9,
         {cell_id_sql('g.lon', 'g.lat', 19)} AS cell_r10,
         {tile_id_sql('g.lon', 'g.lat', 12)} AS tile_z12,
         {tile_id_sql('g.lon', 'g.lat', 15)} AS tile_z15,
         s.s2_12, h.hex_9, nn.nearest_addr_id, nn.nearest_dist_m
  FROM geo g
  JOIN (WITH pts AS (SELECT image_id, lon, lat FROM geo),
        {_s2_cellid_cte(12)}
        SELECT image_id, s2id AS s2_12 FROM s2cells) s USING (image_id)
  JOIN (WITH pts AS (SELECT image_id AS _k0, lon, lat FROM geo),
        {_hexcell_cte(9)}
        SELECT _key AS image_id, hexid AS hex_9 FROM hexcells) h USING (image_id)
  JOIN nn USING (image_id))
SELECT {_Q52_ENR_COLS} FROM enr
UNION ALL
SELECT image_id, caption, CAST(NULL AS DOUBLE) AS lat,
       CAST(NULL AS DOUBLE) AS lon, CAST(NULL AS BIGINT) AS cell_r7,
       CAST(NULL AS BIGINT) AS cell_r8, CAST(NULL AS BIGINT) AS cell_r9,
       CAST(NULL AS BIGINT) AS cell_r10, CAST(NULL AS BIGINT) AS tile_z12,
       CAST(NULL AS BIGINT) AS tile_z15, CAST(NULL AS BIGINT) AS s2_12,
       CAST(NULL AS BIGINT) AS hex_9, CAST(NULL AS BIGINT) AS nearest_addr_id,
       CAST(NULL AS DOUBLE) AS nearest_dist_m
FROM tagged WHERE lat IS NULL
"""


@q("q52_enrich_e2e", _Q52_SQL)
def q52(spark, sf_dir):
    from p3_osm_transformer_spark.plans.pipeline import enrich_images
    d = _t(spark, sf_dir, "documents")
    lon, lat = point_cols(F.col("doc_id") + 17)
    has_geo = F.col("doc_id") % 10 < 8
    caption = F.when(
        has_geo,
        F.concat(F.substring("text", 1, 60), F.lit(" @ geo:"),
                 F.format_string("%.7f", lat), F.lit(","),
                 F.format_string("%.7f", lon))
    ).otherwise(F.substring("text", 1, 60))
    images = d.select(
        F.format_string("img-%08d", F.col("doc_id")).alias("image_id"),
        caption.alias("caption"))
    s = _t(spark, sf_dir, "supplier")
    slon, slat = point_cols(F.col("s_suppkey") * 7 + 3)
    addresses = s.select(F.col("s_suppkey").alias("addr_id"),
                         F.col("s_name").alias("street_address"),
                         slat.alias("lat"), slon.alias("lon"))
    out = enrich_images(images, addresses, knn_strategy="brute",
                        geotag="caption")
    return out.select(
        "image_id", "caption", "lat", "lon", "cell_r7", "cell_r8", "cell_r9",
        "cell_r10", "tile_z12", "tile_z15", "s2_12", "hex_9",
        "nearest_addr_id", F.round("nearest_dist_m", 1).alias("nearest_dist_m"))
