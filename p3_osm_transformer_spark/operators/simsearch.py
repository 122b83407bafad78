"""Similarity search over embedding columns (array<float>).

Two plans, one contract — (query_id, neighbor_id, cos_sim, rank):

* ``cosine_topk_brute``  — exact: cross join + JVM-side dot product
  (F.aggregate over zip_with; whole-stage codegen, no Python) + window.
  Correct at any scale where |queries| × |corpus| pairs are affordable;
  the oracle for the bucketed plan.

* ``cosine_topk_lsh``    — scale path: random-hyperplane LSH (sign
  sketches from deterministic per-dimension coefficients), candidates =
  sketch-prefix buckets with multi-probe, exact re-rank of candidates
  only.  Recall < 1.0 by construction (reported by ``lsh_recall``); the
  standard ANN trade.  Two value-identical plans over one numpy LSH
  kernel (bucket, multi-probe and pair cosine over flat Arrow blocks): a
  one-pass plan (the collected queries probe a driver-side bucket map
  inside one ``mapInArrow`` over the corpus scan) when the query side and
  its estimated candidate set are small, else a shuffled bucket join
  through the kernel's scalar Arrow UDFs.  ``cosine_near_dup_pairs``
  joins the probes to the capped buckets (``dedup.kept_buckets``, the
  bucket step of the other near-dup operators) through the same UDFs.

* ``cosine_topk_ivf``    — second scale path: IVF (k-means-lite coarse
  quantizer on a bounded deterministic sample) → corpus bucketed by
  nearest centroid → multi-probe bucket join → exact re-rank.  Same
  candidate-join shape as LSH with data-adaptive buckets.
"""

from __future__ import annotations

from collections import Counter
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from p3_osm_transformer_spark.operators.dedup import kept_buckets


def _dot(a: str | F.Column, b: str | F.Column) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: str | F.Column) -> F.Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                              F.lit(0.0), lambda acc, x: acc + x))


def _topk(pairs: DataFrame, k: int, q_id: str, c_id: str) -> DataFrame:
    """Per-query top-k of scored (q_id, c_id, cos_sim) pairs: cosine
    descending, ties by neighbor id, NULL cosines last."""
    w = Window.partitionBy(q_id).orderBy(F.desc("cos_sim"), F.asc(c_id))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, c_id, F.round("cos_sim", 6).alias("cos_sim"), "rank"))


def cosine_topk_brute(queries: DataFrame, corpus: DataFrame, k: int = 10,
                      q_id: str = "query_id", c_id: str = "neighbor_id") -> DataFrame:
    """Exact top-k; queries/corpus carry (id, embedding)."""
    qv = queries.select(F.col(q_id), F.col("embedding").alias("_qe"))
    cv = corpus.select(F.col(c_id), F.col("embedding").alias("_ce"))
    sim = F.try_divide(_dot("_qe", "_ce"), _norm("_qe") * _norm("_ce"))
    pairs = (qv.crossJoin(cv)
             .filter(F.col(q_id) != F.col(c_id))
             .withColumn("cos_sim", sim))
    return _topk(pairs, k, q_id, c_id)


# deterministic pseudo-random hyperplane coefficient for (plane p, dim d):
# md5-derived value in [-1, 1) — same construction replayable anywhere.
def _coef(p: int, d_col: F.Column) -> F.Column:
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"{p}:"),
                                          d_col.cast("string")).cast("binary")), 1, 8),
               16, 10).cast("long")
    return (h % 20001 - 10000) / 10000.0


def _coef_py(p: int, d: int) -> float:
    """Python twin of _coef — bit-identical: first 8 md5 hex chars < 2^32
    so the conv→long→mod arithmetic is the same IEEE double both ways."""
    import hashlib
    h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16)
    return (h % 20001 - 10000) / 10000.0


def _coef_matrix(dim: int, n_planes: int) -> np.ndarray:
    """(dim × n_planes) float64 matrix of ``_coef_py`` values."""
    return np.array([[_coef_py(p, d) for p in range(n_planes)]
                     for d in range(dim)],
                    dtype=np.float64).reshape(dim, n_planes)


def _sign_bits(m: np.ndarray, coefs: np.ndarray) -> np.ndarray:
    """Sketch bits of the rows of the (n × dim) float64 block ``m``:
    projections accumulated in d-ascending order, one rounding per step,
    so each is bit-identical to the Catalyst fold.  NaN >= 0 is False,
    the fold's '0'."""
    acc = np.zeros((m.shape[0], coefs.shape[1]), dtype=np.float64)
    for d in range(coefs.shape[0]):
        acc += m[:, d:d + 1] * coefs[d][None, :]
    return acc >= 0


def sketch_bits(vec_col: str, n_planes: int = 16,
                dim: int | None = None) -> F.Column:
    """Sign sketch: bit_p = 1 iff Σ_d coef(p,d)·v_d ≥ 0 (bit string) — the
    Catalyst spec of the LSH kernel (``_buckets``), which the tests compare
    it against; no plan computes it.

    ``dim`` (the fixed embedding length) selects the literal-matrix form:
    the driver-precomputed coefficient matrix folded in d-ascending order.
    ``dim=None`` derives every coefficient per row with md5 — n_planes
    separate aggregate passes, each hashing per (plane, dim); the two forms
    are bit-identical (tested).

    Edge rows (the literal-matrix form): a shorter vector → all-'0' bits
    (null elements through the fold), a longer or NULL vector → "" (null
    arrays collapse under concat_ws).
    """
    if dim is None:
        dims = F.sequence(F.lit(0), F.size(vec_col) - 1)

        def projector(plane: int):
            return lambda v, d: v.cast("double") * _coef(plane, d)

        bits = []
        for p in range(n_planes):
            proj = F.aggregate(F.zip_with(F.col(vec_col), dims, projector(p)),
                               F.lit(0.0), lambda acc, x: acc + x)
            bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
        return F.concat(*bits)

    contribs = F.zip_with(
        F.col(vec_col), F.lit(_coef_matrix(dim, n_planes).tolist()),
        lambda v, crow: F.transform(crow, lambda c: v.cast("double") * c))
    proj = F.aggregate(
        contribs, F.array_repeat(F.lit(0.0), n_planes),
        lambda acc, row: F.zip_with(acc, row, lambda a, x: a + x))
    return F.concat_ws("", F.transform(
        proj, lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0"))))


# ------------------------------------------------------------ LSH kernel
# Every LSH plan below buckets, probes and scores with these numpy
# functions over flat Arrow blocks (no per-row Python objects): the
# one-pass plan inside its mapInArrow, the shuffled plans through the
# three scalar Arrow UDFs of ``_lsh_udfs``.

class _Flat(NamedTuple):
    """An Arrow list column as numpy (``_flat_block``)."""
    lens: np.ndarray    # row lengths, -1 where NULL
    offs: np.ndarray    # list offsets into vals
    vals: np.ndarray    # float64 values, NULL elements NaN
    pos: np.ndarray     # row → its row of block (rows of length dim)
    block: np.ndarray   # the rows of length dim, (n × dim)
    n2: np.ndarray      # squared norm of each block row


def _flat_block(emb: pa.Array, dim: int) -> _Flat:
    """``emb`` (a list array) as a ``_Flat`` of fixed length ``dim``."""
    lens = pc.fill_null(pc.list_value_length(emb), -1).to_numpy()
    offs = emb.offsets.to_numpy()
    vals = emb.values.to_numpy(zero_copy_only=False).astype(np.float64)
    full = lens == dim
    block = vals[offs[np.flatnonzero(full), None] + np.arange(dim)]
    return _Flat(lens, offs, vals, np.cumsum(full) - 1, block,
                 _row_dot(block, block))


def _buckets(f: _Flat, coefs: np.ndarray) -> np.ndarray:
    """Each row's bucket: the first prefix_bits bits (``coefs``'s columns)
    of its sign sketch as a long, first bit most significant — the
    Catalyst ``sketch_bits`` prefix read as binary.  A shorter row's
    all-'0' sketch is bucket 0.  A NULL or longer row's empty sketch, and
    every row when prefix_bits is 0, has no bucket: -1."""
    dim, bits = coefs.shape
    b = np.full(len(f.lens), -1, dtype=np.int64)
    if bits:
        b[(f.lens >= 0) & (f.lens < dim)] = 0
        b[f.lens == dim] = _sign_bits(f.block, coefs) @ (
            1 << np.arange(bits - 1, -1, -1, dtype=np.int64))
    return b


def _probes(own: np.ndarray, prefix_bits: int,
            empty: int = 1) -> tuple[np.ndarray, np.ndarray]:
    """Multi-probe: (probe bucket, row) pairs in row order.  A row probes
    its own bucket and its prefix_bits single-bit flips; a row with no
    bucket probes only ``empty`` (1 for a top-k query: its sketch prefix
    "" was NULL as a number and every flip of it the string "1")."""
    w = 1 << np.arange(prefix_bits - 1, -1, -1, dtype=np.int64)
    m = np.concatenate([own[:, None], own[:, None] ^ w], axis=1)
    keep = np.repeat(own[:, None] >= 0, prefix_bits + 1, axis=1)
    m[:, 0], keep[:, 0] = np.where(own >= 0, own, empty), True
    row, col = np.nonzero(keep)
    return m[row, col], row


def _pair_cos(q: _Flat, c: _Flat, qi: np.ndarray,
              ci: np.ndarray) -> np.ndarray:
    """Cosine of each pair (row qi[i] of q, row ci[i] of c), bit-identical
    to the Catalyst ``try_divide(_dot, _norm * _norm)``: two rows of
    length dim take the d-ascending dot and norms, two rows of another
    equal length the left fold.  NaN (to be NULL) for a NULL row, a length
    mismatch, a zero norm (NULL in the Catalyst form too) or NaN
    elements."""
    dim = q.block.shape[1]
    ql, cl = q.lens[qi], c.lens[ci]
    cos = np.full(len(qi), np.nan)
    both = (ql == dim) & (cl == dim)
    if both.any():
        qb, cb = q.pos[qi[both]], c.pos[ci[both]]
        cos[both] = _cos_of(_row_dot(q.block[qb], c.block[cb]),
                            q.n2[qb], c.n2[cb])
    for i in np.flatnonzero((ql == cl) & (cl != dim) & (cl >= 0)):
        a, b = q.offs[qi[i]], c.offs[ci[i]]
        cos[i] = _fold_cos(q.vals[a:a + ql[i]], c.vals[b:b + cl[i]])
    return cos


def _row_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise Σ_d a[:, d]·b[:, d] accumulated in d-ascending order (acc =
    acc + x, one rounding per step — numpy mul-then-add equals the JVM's
    fold), so it is bit-identical to ``_dot`` and to ``_norm``'s square."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for d in range(a.shape[1]):
        acc += a[:, d] * b[:, d]
    return acc


def _cos_of(dot: np.ndarray, qn2: np.ndarray, cn2: np.ndarray) -> np.ndarray:
    """dot / (sqrt(qn2) * sqrt(cn2)); NaN (to be NULL) where the
    denominator is 0 (a NaN denominator still divides)."""
    denom = np.sqrt(qn2) * np.sqrt(cn2)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom == 0.0, np.nan, dot / denom)


def _fold_cos(a, b) -> float:
    """Cosine of two equal-length vectors of a non-``dim`` length by the
    Catalyst left fold, one pair at a time; NaN where NULL."""
    import math
    dot = qn2 = cn2 = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
        qn2 += float(x) * float(x)
        cn2 += float(y) * float(y)
    denom = math.sqrt(qn2) * math.sqrt(cn2)
    return math.nan if denom == 0.0 else dot / denom


def _lsh_udfs(dim: int, prefix_bits: int, empty_probe: int = 1):
    """The kernel as three scalar Arrow UDFs, built per call: a vector's
    bucket (long, -1 for none), its probe buckets (array<long>, see
    ``_probes``) and a vector pair's cosine (double, NaN as NULL)."""
    coefs = _coef_matrix(dim, prefix_bits)

    def _sk(emb: pa.Array) -> pa.Array:
        return pa.array(_buckets(_flat_block(emb, dim), coefs))

    def _sk_probes(emb: pa.Array) -> pa.Array:
        own = _buckets(_flat_block(emb, dim), coefs)
        b, row = _probes(own, prefix_bits, empty_probe)
        offs = np.searchsorted(row, np.arange(len(own) + 1)).astype(np.int32)
        return pa.ListArray.from_arrays(pa.array(offs), pa.array(b))

    def _cos(qe: pa.Array, ce: pa.Array) -> pa.Array:
        i = np.arange(len(qe))
        return pa.array(_pair_cos(_flat_block(qe, dim), _flat_block(ce, dim),
                                  i, i), from_pandas=True)

    # Nondeterministic projections are pushdown barriers: without them
    # Catalyst copies a UDF into the join's inferred not-null filter or
    # the threshold filter below it, and each copy runs it again.
    return tuple(F.arrow_udf(f, t).asNondeterministic() for f, t in (
        (_sk, T.LongType()), (_sk_probes, T.ArrayType(T.LongType())),
        (_cos, T.DoubleType())))


def _embedding_dim(df: DataFrame, vec_col: str = "embedding") -> int:
    """Fixed embedding length, read from the first non-NULL row
    (column-pruned scan); 0 for a frame without one, which has no row of
    any length to bucket."""
    row = (df.where(F.col(vec_col).isNotNull())
           .select(F.size(vec_col).alias("n")).head(1))
    return int(row[0]["n"]) if row else 0


def pick_prefix_bits(n_corpus: int, target_bucket: int = 256) -> int:
    """Bucket count must GROW with the corpus or the bucket join degenerates
    toward the cross join it exists to avoid (candidates ≈ n²/2^bits): aim
    for ~target_bucket vectors per bucket, i.e. bits ≈ log2(n/target).
    The bucket count is also the parallelism ceiling of the candidate join,
    so never fewer than 16 buckets (4 bits); capped at 24 bits (16M buckets)
    — beyond that per-bucket occupancy, not bucket count, is the lever."""
    import math
    return max(4, min(24, math.ceil(math.log2(max(n_corpus, 2) / target_bucket))
                      if n_corpus > target_bucket else 4))


# The one-pass plan is taken when the collected query side and its
# estimated candidate pairs stay under this many bytes: 8 MB covers the
# largest input it was measured to win on (bench.py ann_lsh, 200 queries
# × 200k corpus, ≈7 MB of estimated candidates); no larger input was
# measured.
_ONE_PASS_BYTES = 8 << 20
# Candidate pairs gathered and scored at a time inside the pass: a slice
# copies 2 × _PAIR_SLICE × dim doubles (32 MB at dim 64), however many
# queries probe a crowded bucket.
_PAIR_SLICE = 1 << 15


def _one_pass_pairs(qt: pa.Table, q_field: T.StructField, corpus: DataFrame,
                    c_id: str, prefix_bits: int, dim: int) -> DataFrame:
    """(q_id, c_id, _bucket, cos_sim) for every query of the collected
    Arrow table ``qt`` (id, embedding) and every corpus member of a bucket
    it probes, in one ``mapInArrow`` over the corpus.

    The queries' probe buckets form a sorted (bucket, query index) map
    shipped with the function.  Each corpus batch is bucketed, looked up
    in the map with ``searchsorted`` and its matched pairs scored
    ``_PAIR_SLICE`` at a time — the kernel the shuffled plan runs through
    its UDFs, so the values are the same."""
    coefs = _coef_matrix(dim, prefix_bits)
    slice_pairs = _PAIR_SLICE
    qids = qt.column(0).combine_chunks()
    q = _flat_block(qt.column(1).combine_chunks(), dim)
    probe_b, probe_q = _probes(_buckets(q, coefs), prefix_bits)
    order = np.argsort(probe_b, kind="stable")
    probe_b, probe_q = probe_b[order], probe_q[order]

    def score(batches):
        for rb in batches:
            c = _flat_block(rb.column(1), dim)
            own = _buckets(c, coefs)
            rows = np.flatnonzero(own >= 0)
            lo = np.searchsorted(probe_b, own[rows], "left")
            cnt = np.searchsorted(probe_b, own[rows], "right") - lo
            end = np.cumsum(cnt)          # row j's pairs: [end-cnt, end)[j]
            for s in range(0, int(end[-1]) if len(end) else 0, slice_pairs):
                p = np.arange(s, min(s + slice_pairs, int(end[-1])))
                j = np.searchsorted(end, p, "right")
                ri, qi = rows[j], probe_q[lo[j] + p - end[j] + cnt[j]]
                yield pa.RecordBatch.from_arrays(
                    [qids.take(qi), rb.column(0).take(ri), pa.array(own[ri]),
                     pa.array(_pair_cos(q, c, qi, ri), from_pandas=True)],
                    names=[q_field.name, c_id, "_bucket", "cos_sim"])

    schema = T.StructType([q_field, corpus.schema[c_id],
                           T.StructField("_bucket", T.LongType()),
                           T.StructField("cos_sim", T.DoubleType())])
    return corpus.select(c_id, "embedding").mapInArrow(score, schema)


def cosine_topk_lsh(queries: DataFrame, corpus: DataFrame, k: int = 10,
                    q_id: str = "query_id", c_id: str = "neighbor_id",
                    prefix_bits: int | None = None,
                    max_bucket: int = 10_000,
                    n_corpus: int | None = None,
                    dim: int | None = None,
                    n_queries: int | None = None) -> DataFrame:
    """ANN: sketch-prefix buckets (multi-probe: exact prefix plus the
    prefix_bits single-bit-flip neighbors) → exact cosine re-rank.

    ``prefix_bits=None`` (the default, and the only sane setting at scale)
    derives the bucket count from the corpus size via ``pick_prefix_bits``;
    pass ``n_corpus`` (e.g. from Catalog.row_count manifest metadata) to
    skip the fallback count() scan.  ``dim`` is the fixed embedding length
    (read from one corpus row when None); rows of another length keep the
    Catalyst forms' edge semantics (see ``_buckets`` and ``_pair_cos``).
    ``max_bucket`` truncates degenerate hot buckets to their first
    ``max_bucket`` members by id (deterministic): truncation — not
    whole-bucket drop — because for *search* a dropped bucket would zero
    recall for every query hashing into it, while a truncated bucket
    degrades gracefully.

    Two plans over the same LSH kernel, row-identical when the ids of
    each side are unique (tested):

    * one pass (``_one_pass_pairs``) — taken when the query side is small.
      One job collects at most cap + 1 queries, where cap keeps both the
      query vectors (dim doubles each) and the estimated candidate pairs
      ((prefix_bits+1) probes × bucket occupancy per query, 16 B each)
      under ``_ONE_PASS_BYTES``.  Occupancy is min(max_bucket, ⌈n_corpus /
      2**prefix_bits⌉) when n_corpus is known, 256 when it is not, so a
      small prefix_bits over a large corpus is not sized at 256 rows per
      bucket.  One pass over the corpus scan then buckets, probes and
      scores; no corpus exchange, join or per-pair UDF.  The pass emits
      every member of a probed bucket, so a ``dense_rank`` over the
      corpus id per bucket reproduces the ``max_bucket`` cap; it counts
      distinct ids, hence the uniqueness condition.
    * shuffled — otherwise: the corpus's (id, bucket) pairs (``_sk``)
      are capped by a window per bucket, joined to the queries' exploded
      probes (``_sk_probes``) and de-duplicated, and both embeddings are
      joined back for the per-pair cosine (``_cos``).

    ``n_queries`` is accepted from callers that know it and not used: the
    plan is chosen from the query rows themselves.
    """
    if prefix_bits is None:
        if n_corpus is None:
            n_corpus = corpus.count()
        prefix_bits = pick_prefix_bits(n_corpus)
    if dim is None:
        dim = _embedding_dim(corpus)
    if dim:  # 0: an empty corpus, whose queries are not worth collecting
        occupancy = (min(max_bucket, -(-n_corpus // (1 << prefix_bits)))
                     if n_corpus is not None else 256)
        cap = _ONE_PASS_BYTES // max((prefix_bits + 1) * occupancy * 16,
                                     dim * 8)
        qt = queries.select(q_id, "embedding").limit(cap + 1).toArrow()
        if qt.num_rows <= cap:
            pairs = _one_pass_pairs(qt, queries.schema[q_id], corpus, c_id,
                                    prefix_bits, dim)
            wb = Window.partitionBy("_bucket").orderBy(c_id)
            cand = (pairs.withColumn("_bpos", F.dense_rank().over(wb))
                    .filter(F.col("_bpos") <= max_bucket)
                    .filter(F.col(q_id) != F.col(c_id)))
            return _topk(cand, k, q_id, c_id)
    bucket, probes, cos = _lsh_udfs(dim, prefix_bits)
    # Candidate generation runs on (id, bucket) pairs ONLY — the multi-probe
    # duplicate-dedup distinct() and the hot-bucket window shuffle ids, not
    # embeddings, which re-join after the dedup.
    cs = corpus.select(F.col(c_id), bucket("embedding").alias("_bucket"))
    wb = Window.partitionBy("_bucket").orderBy(c_id)
    cs = (cs.withColumn("_bpos", F.row_number().over(wb))
          .filter(F.col("_bpos") <= max_bucket).drop("_bpos"))
    qp = queries.select(F.col(q_id),
                        F.explode(probes("embedding")).alias("_bucket"))
    cand_ids = (qp.join(cs, "_bucket")
                .filter(F.col(q_id) != F.col(c_id))
                .select(q_id, c_id).distinct())
    # Join ORDER matters at scale: fetch corpus embeddings FIRST, against
    # the id-only candidate pairs, THEN attach query embeddings.  The
    # r5.3 order ((cand ⋈ qe) ⋈ ce) pushed BOTH join inputs over the
    # broadcast threshold and hashed them by c_id: at ANN_N=1.5M/32 cores,
    # 653 MB of corpus embeddings + 238 MB of candidate+query rows went
    # through the exchange.  Even in this order AQE demotes the corpus
    # join to a broadcast only after both children's exchanges are
    # written; the one-pass plan has no such exchange.
    qe = queries.select(F.col(q_id), F.col("embedding").alias("_qe"))
    ce = corpus.select(F.col(c_id), F.col("embedding").alias("_ce"))
    cand = (cand_ids.join(ce, c_id).join(qe, q_id)
            .withColumn("cos_sim", cos("_qe", "_ce")))
    return _topk(cand, k, q_id, c_id)


def lsh_recall(exact: DataFrame, approx: DataFrame,
               q_id: str = "query_id", c_id: str = "neighbor_id") -> float:
    """Fraction of exact top-k pairs found by the ANN plan."""
    e = exact.select(q_id, c_id)
    hit = e.join(approx.select(q_id, c_id), [q_id, c_id], "left_semi").count()
    total = e.count()
    return hit / total if total else 1.0


# ------------------------------------------------------------------- IVF

def train_centroids_np(sample_vecs, n_centroids: int = 16,
                       n_iters: int = 8):
    """Deterministic k-means-lite on a bounded driver-side sample (the IVF
    coarse quantizer).  Unit-normalized so assignment = max dot product."""
    x = np.asarray(sample_vecs, dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    # deterministic farthest-point-ish init: evenly strided sample rows
    idx = np.linspace(0, len(x) - 1, n_centroids).astype(int)
    c = x[idx].copy()
    for _ in range(n_iters):
        assign = (x @ c.T).argmax(axis=1)
        for j in range(n_centroids):
            members = x[assign == j]
            if len(members):
                m = members.mean(axis=0)
                c[j] = m / max(np.linalg.norm(m), 1e-12)
    return c


def _centroid_topn_udf(centroids, n_probe: int):
    """Scalar Arrow UDF: embedding → array of its n_probe nearest centroid
    ids; NULL for a NULL row or one of another length than the
    centroids', which so joins no list."""
    c = np.asarray(centroids, dtype=np.float64)

    def probe(emb: pa.Array) -> pa.Array:
        f = _flat_block(emb, c.shape[1])
        m = f.block / np.maximum(
            np.linalg.norm(f.block, axis=1, keepdims=True), 1e-12)
        top = np.argsort(-(m @ c.T), axis=1)[:, :n_probe].astype(np.int32)
        full = f.lens == c.shape[1]
        offs = np.concatenate([[0], np.cumsum(full * top.shape[1])])
        return pa.ListArray.from_arrays(pa.array(offs.astype(np.int32)),
                                        pa.array(top.ravel()),
                                        mask=pa.array(~full))

    return F.arrow_udf(probe, T.ArrayType(T.IntegerType()))


def cosine_topk_ivf(queries: DataFrame, corpus: DataFrame, k: int = 10,
                    q_id: str = "query_id", c_id: str = "neighbor_id",
                    n_centroids: int | None = None, n_probe: int = 4,
                    sample_cap: int = 4096,
                    n_corpus: int | None = None) -> DataFrame:
    """IVF ANN: k-means coarse centroids → corpus bucketed by nearest
    centroid → queries probe n_probe buckets → exact re-rank.

    The quantizer trains on a deterministic bounded sample (first
    ``sample_cap`` rows by id — at planet scale a `TABLESAMPLE` of the
    Iceberg table); training is the only driver-side step and is O(sample ×
    centroids).  Assignment/probing are Arrow-batched; the joins are plain
    equi-joins on centroid id.

    ``n_centroids=None`` derives the list count from the corpus size — the
    standard IVF sizing √n (per-list occupancy and list count grow together)
    clamped to [16, 4096] and to sample_cap/4 so each centroid trains on ≥4
    sample vectors.  A fixed list count would cap both pruning power and
    the bucket join's parallelism as the corpus grows.
    """
    if n_centroids is None:
        import math
        if n_corpus is None:   # catalog metadata (Catalog.row_count) seam
            n_corpus = corpus.count()
        n_centroids = max(16, min(4096, sample_cap // 4,
                                  round(math.sqrt(max(n_corpus, 1)))))
    sample = [r["embedding"] for r in
              corpus.select(F.col(c_id), "embedding")
                    .orderBy(c_id).limit(sample_cap).collect()]
    # train on the sample's most common length: a NULL or other-length
    # row gets no centroid list (the probe UDF gives it NULL)
    lens = Counter(len(v) for v in sample if v is not None)
    dim = lens.most_common(1)[0][0] if lens else 0
    sample = [v for v in sample if v is not None and len(v) == dim]
    cents = train_centroids_np(sample, min(n_centroids, max(len(sample), 1)))

    assign1 = _centroid_topn_udf(cents, 1)
    cs = corpus.select(F.col(c_id), F.col("embedding").alias("_ce"),
                       _norm("embedding").alias("_cn")) \
        .withColumn("_bucket", assign1("_ce")[0])
    probe_n = _centroid_topn_udf(cents, n_probe)
    qs = queries.select(F.col(q_id), F.col("embedding").alias("_qe"),
                        _norm("embedding").alias("_qn")) \
        .withColumn("_bucket", F.explode(probe_n("_qe")))

    # no distinct: each corpus vector lives in exactly ONE list and a query
    # probes n_probe DISTINCT lists, so (q, c) pairs are already unique —
    # the r2 distinct() shuffled every candidate's two 64-dim vectors for
    # nothing.  Norms are per-row, not per-pair (see cosine_topk_lsh).
    sim = F.try_divide(_dot("_qe", "_ce"), F.col("_qn") * F.col("_cn"))
    cand = (qs.join(cs, "_bucket")
            .filter(F.col(q_id) != F.col(c_id))
            .withColumn("cos_sim", sim))
    return _topk(cand, k, q_id, c_id)


def cosine_near_dup_pairs(vectors: DataFrame, threshold: float = 0.95,
                          id_col: str = "vec_id",
                          prefix_bits: int | None = None,
                          max_bucket: int = 10_000,
                          n_corpus: int | None = None,
                          dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the last dedup modality the
    training pipeline needs: (id_a < id_b, cos_sim) for all pairs with
    cosine ≥ threshold, found the way minhash/simhash dedup finds theirs
    (sketch buckets as an LSH prefilter → exact verify on candidates
    only).  Multi-probe (own prefix + 1-bit flips) keeps recall high for
    thresholds ≥ ~0.9; exact verification means zero false positives.

    ``prefix_bits=None`` derives the bucket count from the corpus size
    (``pick_prefix_bits``); ``max_bucket`` drops degenerate hot buckets
    whole (dedup semantics and the same bucket step, ``kept_buckets``, as
    ``dedup_near``'s: the dropped content is near-identical and exact
    dedup collapses it).  The bucket UDF runs once per row: the bucket
    members are collected in one grouping and exploded back to rows.
    Rows with no bucket (NULL or longer than ``dim``) share one bucket of
    their own, so two equal-length longer rows still pair.

    ``cosine_near_dup_brute`` is the oracle twin (exact, O(n²)).
    ``n_corpus``/``dim``: same catalog-metadata / fixed-length seams as
    cosine_topk_lsh."""
    if prefix_bits is None:
        prefix_bits = pick_prefix_bits(
            n_corpus if n_corpus is not None else vectors.count())
    if dim is None:
        dim = _embedding_dim(vectors)
    bucket, probes, cos = _lsh_udfs(dim, prefix_bits, empty_probe=-1)
    # no distinct needed: the b side carries its ONE bucket and the a
    # side's probes are distinct, so each (a, b) pair joins at most once.
    a = vectors.select(F.col(id_col).alias("id_a"),
                       F.col("embedding").alias("_ea"),
                       F.explode(probes("embedding")).alias("_bucket"))
    b = vectors.select(F.col(id_col).alias("id_b"),
                       F.col("embedding").alias("_eb"),
                       bucket("embedding").alias("_bucket"))
    b = kept_buckets(b, ["_bucket"], max_bucket).select(
        "_bucket", F.inline("_m"))
    return (a.join(b, "_bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos_sim", F.round(cos("_ea", "_eb"), 6))
            .filter(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", "cos_sim"))


def cosine_near_dup_brute(vectors: DataFrame, threshold: float = 0.95,
                          id_col: str = "vec_id") -> DataFrame:
    """Exact O(n²) twin of cosine_near_dup_pairs (test oracle)."""
    a = vectors.select(F.col(id_col).alias("id_a"),
                       F.col("embedding").alias("_ea"))
    b = vectors.select(F.col(id_col).alias("id_b"),
                       F.col("embedding").alias("_eb"))
    sim = F.try_divide(_dot("_ea", "_eb"), _norm("_ea") * _norm("_eb"))
    return (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos_sim", F.round(sim, 6))
            .filter(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", "cos_sim"))
