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
  standard ANN trade.  Two value-identical plans: a one-pass plan (the
  collected queries probe a driver-side bucket map inside one
  ``mapInArrow`` over the corpus scan) when the query side and its
  estimated candidate set are small, else a shuffled bucket join.

* ``cosine_topk_ivf``    — second scale path: IVF (k-means-lite coarse
  quantizer on a bounded deterministic sample) → corpus bucketed by
  nearest centroid → multi-probe bucket join → exact re-rank.  Same
  candidate-join shape as LSH with data-adaptive buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a: str | F.Column, b: str | F.Column) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: str | F.Column) -> F.Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                              F.lit(0.0), lambda acc, x: acc + x))


def with_unit_norm(df: DataFrame, vec_col: str = "embedding",
                   out_col: str = "unit_vec") -> DataFrame:
    """Pre-normalize once at write time — cosine becomes a plain dot."""
    n = _norm(vec_col)
    return df.withColumn(out_col, F.transform(
        vec_col, lambda x: x.cast("double") / n))


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
    sim = _dot("_qe", "_ce") / (_norm("_qe") * _norm("_ce"))
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
                     for d in range(dim)], dtype=np.float64)


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
                dim: int | None = None, impl: str = "arrow") -> F.Column:
    """Sign sketch: bit_p = 1 iff Σ_d coef(p,d)·v_d ≥ 0 (bit string).

    ``dim`` (the fixed embedding length) selects the production form; the
    ``dim=None`` fallback derives every coefficient per row with md5 —
    n_planes separate aggregate passes, each hashing per (plane, dim):
    measured ~770 interpreted md5 calls per 64-dim row, the whole cost
    of the r2 ann_lsh stage (VERDICT r2 #3).  Keep ragged corpora on
    the fallback path.

    With ``dim`` known, ``impl`` picks between two value-identical forms
    (same driver-precomputed coefficient matrix, same d-ascending float
    summation order — parity-tested):

    * ``"arrow"`` (default, the scale path): one vectorized pandas_udf —
      a (batch × dim) float64 block accumulated against the (dim ×
      n_planes) matrix in d-ascending order.  Chosen in r5 after the
      same /proc/stat profiling that caught dedup_near: the Catalyst
      literal-matrix form is an interpreted zip_with→transform→aggregate
      chain that boxes ~2·dim·n_planes Doubles per row and scaled like
      the dedup signature pass (CPU inflation with core count, wall
      flat).
    * ``"catalyst"`` — the literal-matrix HOF chain: the engine-native
      spec form and the parity-test twin.

    Rows whose vector length differs from ``dim`` keep the Catalyst
    form's edge semantics in both impls (parity-tested): shorter → all-
    '0' bits (null elements through the fold), longer or NULL → "" (null
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

    coefs = _coef_matrix(dim, n_planes)
    if impl == "arrow":
        @F.pandas_udf(T.StringType())
        def _sk(emb: pd.Series) -> pd.Series:
            vals = emb.values
            out = np.empty(len(vals), dtype=object)
            good_idx = []
            for i, v in enumerate(vals):
                if v is None or len(v) > dim:
                    out[i] = ""                  # null fold → concat_ws("")
                elif len(v) < dim:
                    out[i] = "0" * n_planes      # null elems → all-'0'
                else:
                    good_idx.append(i)
            if good_idx:
                m = np.stack([np.asarray(vals[i], dtype=np.float64)
                              for i in good_idx])
                bits = np.where(_sign_bits(m, coefs), "1", "0")
                for row_i, brow in zip(good_idx, bits):
                    out[row_i] = "".join(brow)
            return pd.Series(out)

        return _sk(F.col(vec_col))

    contribs = F.zip_with(
        F.col(vec_col), F.lit(coefs.tolist()),
        lambda v, crow: F.transform(crow, lambda c: v.cast("double") * c))
    proj = F.aggregate(
        contribs, F.array_repeat(F.lit(0.0), n_planes),
        lambda acc, row: F.zip_with(acc, row, lambda a, x: a + x))
    return F.concat_ws("", F.transform(
        proj, lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0"))))


def _cosine_arrow(dim: int):
    """Fused per-pair cosine for the re-rank join — the r5.3 scale path.

    The Catalyst per-pair form evaluates three interpreted HOF folds per
    candidate (dot) plus one per input ROW (norms — including one pass
    over the ENTIRE corpus side before the join): /proc/stat profiling at
    ANN_N=1.5M attributed ~50 of the stage's 145 CPU-seconds at 32 cores
    to this block, with 2.3× CPU inflation vs 8 cores — the same
    boxed-Double allocation pressure that capped the dedup signature pass
    (operators/dedup.py _doc_signatures_arrow).

    Bit-identical to the Catalyst form by construction: dot and both
    squared norms accumulate in d-ascending order (acc = acc + x, one
    rounding per step — numpy mul-then-add equals the JVM's), then
    cos = dot / (sqrt(qn2) * sqrt(cn2)).  Edge rows keep the HOF edge
    semantics (parity-tested): NULL on either side, or length mismatch
    between the two vectors (zip_with pads with null → null fold) → NULL;
    equal non-``dim`` lengths still compute exactly (left-fold twin).
    A NaN cosine (NaN or NULL elements) comes out NULL, as Arrow converts
    it.
    """
    @F.pandas_udf(T.DoubleType())
    def _cos(qe: pd.Series, ce: pd.Series) -> pd.Series:
        qv, cv = qe.values, ce.values
        out = np.full(len(qv), np.nan)
        fast = []
        for i in range(len(qv)):
            a, b = qv[i], cv[i]
            if a is None or b is None or len(a) != len(b):
                continue
            if len(a) == dim:
                fast.append(i)
            else:
                out[i] = _fold_cos(a, b)
        if fast:
            qm = np.stack([np.asarray(qv[i], dtype=np.float64) for i in fast])
            cm = np.stack([np.asarray(cv[i], dtype=np.float64) for i in fast])
            out[fast] = _cos_of(_row_dot(qm, cm), _row_dot(qm, qm),
                                _row_dot(cm, cm))
        return pd.Series(out)

    return _cos


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
    denominator is 0, as Spark's x/0.0 (a NaN denominator still divides)."""
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


def _bucket_long(bits_col: F.Column) -> F.Column:
    """Bit-string bucket → long join/shuffle key (prefix_bits ≤ 24 < 63 so
    the mapping is bijective): hashing/comparing 8-byte longs through the
    window sort, bucket join and distinct beats 13-char strings — the
    candidate phase showed 2.2× CPU inflation at 32 cores on the string
    form (/proc/stat profiling)."""
    return F.conv(bits_col, 2, 10).cast("long")


def _embedding_dim(df: DataFrame, vec_col: str = "embedding") -> int | None:
    """Fixed embedding length, detected from one row (column-pruned scan).
    None for an empty frame — callers fall back to the per-row sketch."""
    row = df.select(F.size(vec_col).alias("n")).head(1)
    return int(row[0]["n"]) if row else None


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


def _flat_block(emb, dim: int):
    """An Arrow list column as numpy with no per-row Python objects:
    ``(lens, offs, vals, fast, block)`` — row lengths (-1 where NULL), the
    list offsets into the float64 values (NULL elements are NaN), the
    indices of the rows of length ``dim`` and their (len(fast) × dim)
    block."""
    import pyarrow.compute as pc
    lens = pc.fill_null(pc.list_value_length(emb), -1).to_numpy()
    offs = emb.offsets.to_numpy()
    vals = emb.values.to_numpy(zero_copy_only=False).astype(np.float64)
    fast = np.flatnonzero(lens == dim)
    return lens, offs, vals, fast, vals[offs[fast, None] + np.arange(dim)]


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


def _one_pass_pairs(qt, q_field: T.StructField, corpus: DataFrame,
                    c_id: str, prefix_bits: int, dim: int) -> DataFrame:
    """(q_id, c_id, _bucket, cos_sim) for every query of the collected
    Arrow table ``qt`` (id, embedding) and every corpus member of a bucket
    it probes, in one ``mapInArrow`` over the corpus.

    The queries' probe buckets form a sorted (bucket, query index) map
    shipped with the function.  Each corpus batch is sketched on its first
    prefix_bits planes, looked up in the map with ``searchsorted`` and its
    matched pairs scored ``_PAIR_SLICE`` at a time.  Values equal the
    shuffled arrow plan's: the same sketch (``_sign_bits``), the same bit
    string → long mapping (first bit most significant), the same
    d-ascending dot and norms (``_row_dot``, ``_cos_of``), the same left
    fold for equal ragged lengths, NULL for a NULL query or a length
    mismatch.  A shorter corpus row's all-'0' sketch is bucket 0; a NULL
    or longer row's empty sketch has no bucket.  A NULL or longer query's
    empty sketch probes only bucket 1: its prefix "" converts to NULL and
    every flip of it is the string "1"."""
    import pyarrow as pa
    coefs = _coef_matrix(dim, prefix_bits)
    w = 1 << np.arange(prefix_bits - 1, -1, -1, dtype=np.int64)
    slice_pairs = _PAIR_SLICE

    def buckets(lens, fast, block):
        b = np.where((lens >= 0) & (lens < dim), 0, -1)
        b[fast] = _sign_bits(block, coefs) @ w
        return b

    qids = qt.column(0).combine_chunks()
    q_lens, q_offs, q_vals, q_fast, q_block = _flat_block(
        qt.column(1).combine_chunks(), dim)
    q_own = buckets(q_lens, q_fast, q_block)
    full, empty = np.flatnonzero(q_own >= 0), np.flatnonzero(q_own < 0)
    probe_b = np.concatenate([q_own[full, None], q_own[full, None] ^ w], axis=1)
    probe_b = np.concatenate([probe_b.ravel(), np.ones(len(empty), np.int64)])
    probe_q = np.concatenate([np.repeat(full, prefix_bits + 1), empty])
    order = np.argsort(probe_b, kind="stable")
    probe_b, probe_q = probe_b[order], probe_q[order]
    q_pos = np.cumsum(q_lens == dim) - 1
    q_n2 = _row_dot(q_block, q_block)

    def score(batches):
        for rb in batches:
            lens, offs, vals, fast, block = _flat_block(rb.column(1), dim)
            own = buckets(lens, fast, block)
            pos, n2 = np.cumsum(lens == dim) - 1, _row_dot(block, block)
            rows = np.flatnonzero(own >= 0)
            lo = np.searchsorted(probe_b, own[rows], "left")
            cnt = np.searchsorted(probe_b, own[rows], "right") - lo
            end = np.cumsum(cnt)          # row j's pairs: [end-cnt, end)[j]
            for s in range(0, int(end[-1]) if len(end) else 0, slice_pairs):
                p = np.arange(s, min(s + slice_pairs, int(end[-1])))
                j = np.searchsorted(end, p, "right")
                ri, qi = rows[j], probe_q[lo[j] + p - end[j] + cnt[j]]
                ql, cl = q_lens[qi], lens[ri]
                cos = np.full(len(p), np.nan)
                both = (ql == dim) & (cl == dim)
                if both.any():
                    qb, cb = q_pos[qi[both]], pos[ri[both]]
                    cos[both] = _cos_of(_row_dot(q_block[qb], block[cb]),
                                        q_n2[qb], n2[cb])
                for i in np.flatnonzero((ql == cl) & (cl != dim)):
                    a, b = q_offs[qi[i]], offs[ri[i]]
                    cos[i] = _fold_cos(q_vals[a:a + ql[i]], vals[b:b + cl[i]])
                yield pa.RecordBatch.from_arrays(
                    [qids.take(qi), rb.column(0).take(ri), pa.array(own[ri]),
                     pa.array(cos, from_pandas=True)],
                    names=[q_field.name, c_id, "_bucket", "cos_sim"])

    schema = T.StructType([q_field, corpus.schema[c_id],
                           T.StructField("_bucket", T.LongType()),
                           T.StructField("cos_sim", T.DoubleType())])
    return corpus.select(c_id, "embedding").mapInArrow(score, schema)


def cosine_topk_lsh(queries: DataFrame, corpus: DataFrame, k: int = 10,
                    q_id: str = "query_id", c_id: str = "neighbor_id",
                    n_planes: int = 12, prefix_bits: int | None = None,
                    max_bucket: int = 10_000,
                    n_corpus: int | None = None,
                    dim: int | None = None,
                    n_queries: int | None = None,
                    impl: str = "arrow") -> DataFrame:
    """ANN: sketch-prefix buckets (multi-probe: exact prefix plus the
    prefix_bits single-bit-flip neighbors) → exact cosine re-rank.

    ``prefix_bits=None`` (the default, and the only sane setting at scale)
    derives the bucket count from the corpus size via ``pick_prefix_bits``;
    pass ``n_corpus`` (e.g. from Catalog.row_count manifest metadata) to
    skip the fallback count() scan.  ``dim`` is the fixed embedding length
    for the literal-coefficient sketch (detected from one row when None —
    see sketch_bits).  ``max_bucket`` truncates degenerate hot buckets to
    their first ``max_bucket`` members by id (deterministic): truncation —
    not whole-bucket drop — because for *search* a dropped bucket would
    zero recall for every query hashing into it, while a truncated bucket
    degrades gracefully.

    ``impl`` selects between two value-identical physical forms of the
    sketch and the cosine re-rank (parity-tested, see sketch_bits and
    _cosine_arrow): ``"arrow"`` (default — vectorized pandas_udfs, the
    scale path) and ``"catalyst"`` (interpreted HOF folds, the engine-
    native spec twin).  Ignored (catalyst fallback) when ``dim`` is
    unknown.

    Two plans, row-identical when the ids of each side are unique
    (parity-tested):

    * one pass (``_one_pass_pairs``) — taken when ``dim`` is known,
      ``impl="arrow"`` and the query side is small.  One job collects at
      most cap + 1 queries, where cap keeps both the query vectors (dim
      doubles each) and the estimated candidate pairs ((prefix_bits+1)
      probes × bucket occupancy per query, 16 B each) under
      ``_ONE_PASS_BYTES``.  Occupancy is min(max_bucket, ⌈n_corpus /
      2**prefix_bits⌉) when n_corpus is known, 256 when it is not, so a
      small prefix_bits over a large corpus is not sized at 256 rows per
      bucket.  One pass over the corpus scan then buckets, probes and
      scores; no corpus exchange, join or per-pair UDF.  The pass emits
      every member of a probed bucket, so a ``dense_rank`` over the
      corpus id per bucket reproduces the ``max_bucket`` cap; it counts
      distinct ids, hence the uniqueness condition.
    * shuffled — otherwise (more than cap queries, ``impl="catalyst"`` or
      unknown ``dim``): the corpus's (id, bucket) pairs are capped by a
      window per bucket, joined to the queries' probes and de-duplicated,
      and both embeddings are joined back for the re-rank.

    ``n_queries`` is accepted from callers that know it and not used: the
    plan is chosen from the query rows themselves.
    """
    if prefix_bits is None:
        if n_corpus is None:
            n_corpus = corpus.count()
        prefix_bits = pick_prefix_bits(n_corpus)
    if n_planes < prefix_bits:
        n_planes = prefix_bits
    if dim is None:
        dim = _embedding_dim(corpus)
    if dim is not None and impl == "arrow" and prefix_bits > 0:  # 0 bits: no bucket
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
    sk_impl = impl if dim is not None else "catalyst"
    # Candidate generation runs on (id, bucket) pairs ONLY — the multi-probe
    # duplicate-dedup distinct() and the hot-bucket window shuffle ids, not
    # embeddings.  The r2 form carried both 64-dim vectors through the
    # distinct: ~430k candidate rows × 2×64 doubles ≈ 0.4 GB of shuffle for
    # a 200-query/200k-corpus run, measured as the stage's whole cost once
    # the sketch went literal-matrix.  Embeddings re-join AFTER the dedup;
    # the Catalyst re-rank precomputes per-ROW norms on each side (the
    # per-pair form recomputed each norm once per candidate).
    qs = queries.select(F.col(q_id),
                        sketch_bits("embedding", n_planes, dim,
                                    impl=sk_impl).alias("_sk"))
    cs = corpus.select(F.col(c_id), _bucket_long(
        F.substring(sketch_bits("embedding", n_planes, dim, impl=sk_impl),
                    1, prefix_bits)).alias("_bucket"))
    wb = Window.partitionBy("_bucket").orderBy(c_id)
    cs = (cs.withColumn("_bpos", F.row_number().over(wb))
          .filter(F.col("_bpos") <= max_bucket).drop("_bpos"))
    # multi-probe: query probes its own prefix + all 1-bit flips of it
    probes = F.array(*(
        [F.substring("_sk", 1, prefix_bits)]
        + [F.concat(F.substring("_sk", 1, i),
                    F.when(F.substring("_sk", i + 1, 1) == "1", "0").otherwise("1"),
                    F.substring("_sk", i + 2, prefix_bits - i - 1))
           for i in range(prefix_bits)]))
    qp = (qs.select(F.col(q_id),
                    F.explode(F.array_distinct(probes)).alias("_bs"))
          .select(F.col(q_id), _bucket_long(F.col("_bs")).alias("_bucket")))
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
    if dim is not None and impl == "arrow":
        # fused Arrow cosine per candidate pair — no corpus-wide norm pass
        # (a 64-dim norm per pair is ~nothing vectorized; the Catalyst
        # form's per-row norms existed to avoid re-evaluating the
        # INTERPRETED fold per pair)
        qe = queries.select(F.col(q_id), F.col("embedding").alias("_qe"))
        ce = corpus.select(F.col(c_id), F.col("embedding").alias("_ce"))
        cand = (cand_ids.join(ce, c_id).join(qe, q_id)
                .withColumn("cos_sim", _cosine_arrow(dim)("_qe", "_ce")))
    else:
        qe = queries.select(F.col(q_id), F.col("embedding").alias("_qe"),
                            _norm("embedding").alias("_qn"))
        ce = corpus.select(F.col(c_id), F.col("embedding").alias("_ce"),
                           _norm("embedding").alias("_cn"))
        sim = _dot("_qe", "_ce") / (F.col("_qn") * F.col("_cn"))
        cand = (cand_ids.join(ce, c_id).join(qe, q_id)
                .withColumn("cos_sim", sim))
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
    """pandas_udf: embedding → array of its n_probe nearest centroid ids."""
    c = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe(emb: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in emb])
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ c.T
        top = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return probe


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
    sim = _dot("_qe", "_ce") / (F.col("_qn") * F.col("_cn"))
    cand = (qs.join(cs, "_bucket")
            .filter(F.col(q_id) != F.col(c_id))
            .withColumn("cos_sim", sim))
    return _topk(cand, k, q_id, c_id)


def cosine_near_dup_pairs(vectors: DataFrame, threshold: float = 0.95,
                          id_col: str = "vec_id",
                          n_planes: int = 12, prefix_bits: int | None = None,
                          max_bucket: int = 10_000,
                          n_corpus: int | None = None,
                          dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the last dedup modality the
    training pipeline needs: (id_a < id_b, cos_sim) for all pairs with
    cosine ≥ threshold, found via the same sketch-bucket self-join shape
    as minhash/simhash dedup (LSH prefilter → exact verify on candidates
    only).  Multi-probe (own prefix + 1-bit flips) keeps recall high for
    thresholds ≥ ~0.9; exact verification means zero false positives.

    ``prefix_bits=None`` derives the bucket count from the corpus size
    (``pick_prefix_bits``); ``max_bucket`` drops degenerate hot buckets
    whole (dedup semantics, same trade as ``dedup_near``'s: the
    dropped content is near-identical and exact dedup collapses it).

    ``cosine_near_dup_brute`` is the oracle twin (exact, O(n²)).
    ``n_corpus``/``dim``: same catalog-metadata / fixed-length seams as
    cosine_topk_lsh."""
    if prefix_bits is None:
        prefix_bits = pick_prefix_bits(
            n_corpus if n_corpus is not None else vectors.count())
    if n_planes < prefix_bits:
        n_planes = prefix_bits
    if dim is None:
        dim = _embedding_dim(vectors)
    v = vectors.select(F.col(id_col), F.col("embedding"),
                       sketch_bits("embedding", n_planes, dim).alias("_sk"))
    probes = F.array(*(
        [F.substring("_sk", 1, prefix_bits)]
        + [F.concat(F.substring("_sk", 1, i),
                    F.when(F.substring("_sk", i + 1, 1) == "1", "0").otherwise("1"),
                    F.substring("_sk", i + 2, prefix_bits - i - 1))
           for i in range(prefix_bits)]))
    # no distinct needed: the b side carries its ONE exact-prefix bucket
    # and the a side's probe set is array_distinct'ed, so each (a, b) pair
    # joins at most once — the r2 distinct() shuffled both embeddings per
    # pair for nothing.  Norms per row, not per pair (see cosine_topk_lsh).
    a = (v.withColumn("_bucket", F.explode(F.array_distinct(probes)))
         .select(F.col(id_col).alias("id_a"), F.col("embedding").alias("_ea"),
                 _norm("embedding").alias("_na"), "_bucket"))
    b = v.select(F.col(id_col).alias("id_b"), F.col("embedding").alias("_eb"),
                 _norm("embedding").alias("_nb"),
                 F.substring("_sk", 1, prefix_bits).alias("_bucket"))
    sizes = b.groupBy("_bucket").agg(F.count("*").alias("_bn"))
    b = b.join(sizes.filter(F.col("_bn") <= max_bucket).select("_bucket"),
               "_bucket")
    sim = _dot("_ea", "_eb") / (F.col("_na") * F.col("_nb"))
    return (a.join(b, "_bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos_sim", F.round(sim, 6))
            .filter(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", "cos_sim"))


def cosine_near_dup_brute(vectors: DataFrame, threshold: float = 0.95,
                          id_col: str = "vec_id") -> DataFrame:
    """Exact O(n²) twin of cosine_near_dup_pairs (test oracle)."""
    a = vectors.select(F.col(id_col).alias("id_a"),
                       F.col("embedding").alias("_ea"))
    b = vectors.select(F.col(id_col).alias("id_b"),
                       F.col("embedding").alias("_eb"))
    sim = _dot("_ea", "_eb") / (_norm("_ea") * _norm("_eb"))
    return (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos_sim", F.round(sim, 6))
            .filter(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", "cos_sim"))
