"""Deduplication operator family (training-data pipeline extensions).

Five dedup strategies over a (doc_id, text) corpus — built-in-function
DataFrame pipelines except where noted:

* exact          — md5(normalized text) hash-groupBy.
* minhash LSH    — shingle → per-seed min-hash → band → bucket pairs.
                   Portable construction (md5-prefix base hash, (a·x+b)
                   mod p family) so the DuckDB oracle can replay
                   signatures exactly.  ``dedup_near`` computes the
                   signatures in one Arrow ``mapInArrow`` pass.
* simhash        — sign-aggregated token hashes; Hamming-close pairs
                   (the 64-bit form in an Arrow ``mapInArrow``).
* ngram jaccard  — token-shingle overlap verification (the exact check run
                   on LSH candidate pairs: filter-refine, same shape as the
                   PIP join), one scalar Arrow UDF over flat list values.
* embedding      — cosine near-duplicates (delegates to simsearch.py).

Scale notes: every pairwise step here is bucketed (band or hash prefix)
first — the candidate-pair count, not the corpus size, is the O(n²)
guard.  The banded operators share one bucket step (``kept_buckets``):
one grouping per bucket, whose member list gives both the bucket's size
for the per-bucket cap (``max_bucket``) and its candidate pairs.  At
10^12 rows the band tables partition by band hash.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ------------------------------------------------------------------ exact


def normalize_text(c: F.Column) -> F.Column:
    """Casefold + collapse whitespace — the canonicalization rule."""
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def dedup_exact(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """One row per distinct content: canonical (min) id + member count."""
    h = F.md5(normalize_text(F.col(text_col)).cast("binary"))
    return (docs.groupBy(h.alias("content_hash"))
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count("*").alias("n_copies")))


def dedup_exact_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(duplicate_id, canonical_id) mapping for non-canonical members."""
    h = F.md5(normalize_text(F.col(text_col)).cast("binary"))
    d = docs.select(F.col(id_col).alias("member_id"), h.alias("content_hash"))
    canon = d.groupBy("content_hash").agg(F.min("member_id").alias("canonical_id"))
    return (d.join(canon, "content_hash")
            .filter(F.col("member_id") != F.col("canonical_id"))
            .select("member_id", "canonical_id"))


# ---------------------------------------------------------------- minhash

def tokens_of(text_col: str) -> F.Column:
    return F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                    lambda t: t != "")


# Universal-hash minhash family: ONE portable base hash per shingle
# (15-hex-char md5 prefix → 60-bit int, replayable bit-exact in any engine
# with md5), then h_i = (A_i·base + B_i) mod p — the classic (a·x+b) mod p
# universal family over the Mersenne prime 2^31−1 (the same construction
# Spark's MinHashLSH publishes).  Measured rationale: the previous
# construction paid n_hashes md5 calls + string-mins PER SHINGLE inside an
# interpreted higher-order aggregate — 122 core-seconds for a 20k-doc
# corpus, the dominant cost of dedup_near; the arithmetic family pays ONE
# md5 and n_hashes multiply-add-mods on longs (~6× less per-shingle work,
# same one-pass aggregate shape).
P_MINHASH = 2_147_483_647   # 2^31 − 1; A_i·base < 2^62 — no 64-bit overflow


def minhash_consts(n_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (A_i, B_i) pairs, derived from md5 so the DuckDB
    oracle (contract_ext._mh_sql) interpolates the identical literals."""
    import hashlib

    def h32(tag: str) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)

    A = [h32(f"a:{i}") % (P_MINHASH - 1) + 1 for i in range(n_hashes)]
    B = [h32(f"b:{i}") % P_MINHASH for i in range(n_hashes)]
    return A, B


def _base_hash60(s: F.Column) -> F.Column:
    """Portable per-shingle base hash: first 15 hex chars of md5 — a
    60-bit int that fits a signed long, NOT reduced mod p (the mod-p
    reduction belongs inside the universal-hash family only; set-identity
    uses, e.g. the Jaccard ``hset``, need the full 60 bits — mod-p values
    are 31-bit and at ~10³ shingles/doc their cross-collision odds per
    candidate pair are ~5e-4, enough to flip pairs at a 0.7 threshold).
    DuckDB twin: CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)."""
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10) \
            .cast("long")


def _shingles_df(docs: DataFrame, id_col: str, text_col: str,
                 shingle_n: int) -> DataFrame:
    """(id, _sh) — word-shingle arrays, null-token docs dropped.

    The token array is LET-BOUND once per row via the single-element
    ``transform(array(tokens), t -> ...)`` trick: every inner reference
    (two sizes + one slice per shingle position) reads the lambda
    variable.  Naming tokens in a separate projection does NOT do this —
    CollapseProject inlines the split+filter into every lambda element,
    re-tokenizing the document once per shingle position (measured 10× on
    a 5k-doc corpus).  A repartition barrier would also work but costs a
    full-corpus exchange; the let-binding is free.
    """
    toks = tokens_of(text_col)

    def build(t: F.Column) -> F.Column:
        return F.when(
            F.size(t) >= shingle_n,
            F.transform(F.sequence(F.lit(0), F.size(t) - shingle_n),
                        lambda i: F.concat_ws(" ", F.slice(t, i + 1, shingle_n)))
        ).otherwise(F.array(F.concat_ws(" ", t)))

    sh_expr = F.element_at(F.transform(F.array(toks), build), 1)
    return (docs.select(F.col(id_col), sh_expr.alias("_sh"))
            .filter(F.col("_sh").isNotNull()))


def _exploded_hashes(docs: DataFrame, id_col: str, text_col: str,
                     shingle_n: int) -> DataFrame:
    """(id, _h) — one row per shingle occurrence, ``_h`` = the full
    60-bit md5-prefix base hash (see ``_base_hash60``; the mod-p
    reduction is applied downstream inside the minhash aggregates only).

    This is the whole-stage-codegen form of the minhash input: Generate
    (explode) + a codegen'd hash projection.  The r2 form computed the
    same hashes inside an interpreted ``F.aggregate`` lambda, which
    evaluates with boxed objects — ~150M transient java.lang.Long
    allocations on the 120k-doc bench corpus.  On this host the stage was
    memory-bandwidth-bound (a numpy stream control scales 8→32 cores at
    0.48 vs 0.94 for pure ALU), so the allocation traffic was the scaling
    ceiling, not the md5 work.  Measured on the bench corpus at
    local[32]: 90.1 CPU-s interpreted vs 61.9 CPU-s exploded, identical
    band-key checksums.
    """
    sh = _shingles_df(docs, id_col, text_col, shingle_n)
    return (sh.select(F.col(id_col), F.explode("_sh").alias("_s"))
            .select(F.col(id_col), _base_hash60(F.col("_s")).alias("_h")))


def _min_hash_aggs(n_hashes: int) -> list[F.Column]:
    """min((A_i·(h mod p) + B_i) mod p) aggregate columns over ``_h`` —
    the universal-hash minima as codegen'd HashAggregate expressions
    (long arithmetic in unsafe buffers, no boxing).  Values are
    bit-identical to the r2 interpreted accumulator: same mod-p base
    hash, same (A_i, B_i) literals, same mod-p arithmetic — the q25
    DuckDB oracle replays them unchanged."""
    A, B = minhash_consts(n_hashes)
    base = F.col("_h") % F.lit(P_MINHASH)
    return [F.min((F.lit(A[i]) * base + F.lit(B[i])) % F.lit(P_MINHASH))
            .alias(f"mh_{i}") for i in range(n_hashes)]


def _band_keys_long(n_hashes: int, band_size: int) -> F.Column:
    """array<long> band keys: xxhash64 over each band's minima columns —
    the engine's band key (``_doc_signatures`` emits it; the tests build
    the same keys from the Catalyst ``_min_hash_aggs``).  A long key, not
    a ':'-joined string of the minima: the band grouping hashes and
    compares the key on every one of the ~4 rows per document, and a
    fixed-width long beats a ~20-char UTF8String on both bytes shuffled
    and codegen compare cost (event-log attribution at DEDUP_EXTRA=1.2M/32
    cores: the string-keyed candidate stage read 19.1M records for 92
    CPU-s).

    Correctness: keys are only compared for equality, and the Jaccard
    verify downstream is EXACT, so an xxhash64 collision (odds ~2⁻⁶⁴ per
    band pair, ~1e-13 across a 5M-band corpus) can only add a spurious
    candidate that verify then rejects — the operator's OUTPUT is
    unchanged; only the max_bucket occupancy count could shift at those
    same odds."""
    n_bands = n_hashes // band_size
    return F.array(*[
        F.xxhash64(F.lit(b), *[F.col(f"mh_{b * band_size + j}")
                               for j in range(band_size)])
        for b in range(n_bands)])


def _jaccard_arrow():
    """Per-pair exact Jaccard over two distinct-long-array columns as ONE
    scalar Arrow UDF (``_jac``) over the flat values of a batch — the
    verify projection's scale form.

    The Catalyst form (``size(array_intersect)/size(array_union)``, now
    the tests' reference) builds a boxed ``OpenHashSet[Any]`` per pair
    per operator: random pointer-chasing over ~80 heap objects per
    candidate.  Event-log attribution at DEDUP_EXTRA=1.2M (2.3M candidate
    pairs of ~40-long sets) measured the verify stage at 87 CPU-s on 8
    pinned cores vs 605-1400 CPU-s on 32 — 7-16× CPU inflation for
    identical work, the signature of an LLC-thrash-bound workload
    (per-thread working sets × threads outgrow the shared cache, so every
    probe becomes a DRAM miss); it anti-scales with cores.

    Both list columns are read flat (``list_parent_indices`` /
    ``list_flatten``: NULL slots and sliced batches contribute no values),
    all (pair, value) rows of a batch are lexsorted once and adjacent
    duplicates counted per pair; |A∩B| = dups, |A∪B| = |A|+|B|−dups.
    EXACT set arithmetic on the same int64 values, so results are
    bit-identical to the Catalyst form (inputs are distinct per array by
    construction — ``_doc_signatures`` emits sorted distinct sets).  NULL
    where an input is NULL or the union is empty (the Catalyst form with
    ``try_divide`` agrees); ``dedup_near`` never meets an empty union,
    since ``_doc_signatures`` gives every document at least one hash."""
    def _jac(sa: pa.Array, sb: pa.Array) -> pa.Array:
        n = len(sa)
        la = pc.list_value_length(sa)
        lb = pc.list_value_length(sb)
        idx = np.concatenate([pc.list_parent_indices(sa).to_numpy(),
                              pc.list_parent_indices(sb).to_numpy()])
        vals = np.concatenate([pc.list_flatten(sa).to_numpy(),
                               pc.list_flatten(sb).to_numpy()])
        order = np.lexsort((vals, idx))
        iv, vv = idx[order], vals[order]
        dup = (iv[1:] == iv[:-1]) & (vv[1:] == vv[:-1])
        inter = np.bincount(iv[1:][dup], minlength=n).astype(np.float64)
        union = (pc.fill_null(la, 0).to_numpy()
                 + pc.fill_null(lb, 0).to_numpy()) - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = inter / union
        null = (la.is_null().to_numpy(zero_copy_only=False)
                | lb.is_null().to_numpy(zero_copy_only=False) | (union == 0))
        return pa.array(jac, mask=null)

    # Evaluate-once barrier, NOT a semantic statement (the function is
    # pure): Catalyst duplicates a deterministic UDF below any filter
    # that references its output — dedup_near's threshold filter
    # produced TWO ArrowEvalPython nodes, i.e. the full per-pair verify
    # exchange run twice (plan-audited).  Nondeterministic projections
    # are pushdown barriers, so the UDF runs exactly once and the
    # filter reads the projected column.
    return F.arrow_udf(_jac, T.DoubleType()).asNondeterministic()


def _doc_signatures(docs: DataFrame, id_col: str, text_col: str,
                    n_hashes: int, band_size: int,
                    shingle_n: int) -> DataFrame:
    """(id, hset:array<long>, bands:array<long>) — the distinct
    shingle-HASH set AND the LSH band keys of every document, one
    tokenize + one md5-per-shingle pass in ONE Arrow ``mapInArrow``
    (function ``gen``).

    Values are bit-identical to the Catalyst construction the tests
    compare it with (``_exploded_hashes`` grouped with ``_min_hash_aggs``
    and ``collect_set``): same word shingles, same 15-hex-char md5-prefix
    60-bit base hashes, same (A·x+B) mod p universal-hash minima.  The
    pass runs in Python because the measured problem of the Catalyst form
    is JVM allocation, not arithmetic.  Profiled at DEDUP_EXTRA=400k
    (420k docs, ~17M shingles; whole-host /proc/stat busy time): wall
    11.5s / 82 CPU-s at 8 pinned cores vs wall 12.0s / 318 CPU-s at 32 —
    the same work burns 4× the CPU with ZERO wall gain, i.e. the stage
    saturates the host's memory system at 8 cores (the interpreted
    higher-order shingle lambdas box every long and build 5-7 transient
    objects per shingle: slice array, concat string, binary cast, md5 hex
    string, substring, conv decimal string).  The Arrow pass computes the
    same md5s in worker PROCESSES and does the rest per batch in numpy:
    the minima by ``np.minimum.reduceat`` over the flat hash array, and
    ``hset`` as a ``ListArray`` from one sort of (doc, hash) with
    adjacent duplicates dropped (ascending within each doc).

    ``hset`` carries the FULL 60-bit base hashes (``_base_hash60`` — no
    mod-p reduction), not the shingle strings: the Jaccard refine only
    needs set intersection/union SIZES, which are preserved by any
    injective-enough hash — with ~10³ shingles per document pair the
    per-pair cross-collision odds at 60 bits are ~1e-12 (at the 31-bit
    mod-p values they would be ~5e-4, enough to flip pairs sitting at
    the threshold — that's why the mod stays inside the minhash family
    only).  The q25 DuckDB oracle computes the SAME 60-bit sets, so even
    a collision cannot diverge engine from oracle.  This table is
    materialized once and read from three sides (band explode, verify
    id_a side, verify id_b side).

    Tokenization parity: Python ``str.lower``/ASCII regex split match
    Spark's lower/split for the a-z0-9 token alphabet (the Catalyst form
    and the DuckDB oracle use the same rule).  A NULL text tokenizes like
    "" (Catalyst's concat_ws over the null token array), and a text of
    fewer than ``shingle_n`` tokens is ONE whole-text shingle ("" for
    none), as in ``_shingles_df``: every document keeps a row.
    """
    A, B = minhash_consts(n_hashes)
    a_arr = np.array(A, dtype=np.uint64)[:, None]
    b_arr = np.array(B, dtype=np.uint64)[:, None]
    p = np.uint64(P_MINHASH)
    names = [id_col] + [f"mh_{i}" for i in range(n_hashes)] + ["hset"]
    schema = T.StructType(
        [T.StructField(id_col, docs.schema[id_col].dataType)]
        + [T.StructField(f"mh_{i}", T.LongType()) for i in range(n_hashes)]
        + [T.StructField("hset", T.ArrayType(T.LongType()))])

    def gen(batches):
        import hashlib
        import re
        tok_re = re.compile(r"[^a-z0-9]+")
        md5 = hashlib.md5
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            cnt, flat = np.empty(n, dtype=np.int64), []
            for d, text in enumerate(rb.column(1).to_pylist()):
                toks = [t for t in tok_re.split((text or "").lower()) if t]
                sh = ([" ".join(toks[i:i + shingle_n])
                       for i in range(len(toks) - shingle_n + 1)]
                      if len(toks) >= shingle_n else [" ".join(toks)])
                cnt[d] = len(sh)
                # 60-bit base hash = first 15 hex chars of md5 = top 60
                # bits of the first 8 digest bytes (same value as
                # _base_hash60's conv(substring(md5,1,15),16,10))
                flat.extend(
                    int.from_bytes(md5(s.encode()).digest()[:8], "big") >> 4
                    for s in sh)
            hs = np.array(flat, dtype=np.uint64)
            doc = np.repeat(np.arange(n), cnt)
            sig = (a_arr * (hs % p)[None, :] + b_arr) % p
            mins = np.minimum.reduceat(sig, np.cumsum(cnt) - cnt, axis=1)
            order = np.lexsort((hs, doc))
            doc, hs = doc[order], hs[order]
            keep = np.ones(len(hs), dtype=bool)
            keep[1:] = (doc[1:] != doc[:-1]) | (hs[1:] != hs[:-1])
            offs = np.searchsorted(doc[keep], np.arange(n + 1))
            hset = pa.ListArray.from_arrays(
                pa.array(offs.astype(np.int32)),
                pa.array(hs[keep].astype(np.int64)))
            yield pa.RecordBatch.from_arrays(
                [rb.column(0)]
                + [pa.array(m.astype(np.int64)) for m in mins] + [hset],
                names=names)

    return (docs.select(id_col, text_col).mapInArrow(gen, schema)
            .select(F.col(id_col), F.col("hset"),
                    _band_keys_long(n_hashes, band_size).alias("bands")))


def kept_buckets(keyed: DataFrame, keys: list[str],
                 max_bucket: int) -> DataFrame:
    """(keys..., _m) — ``keyed`` grouped by its bucket columns ``keys``,
    one row per bucket of at most ``max_bucket`` rows; ``_m`` lists the
    bucket's rows as structs of their other columns.  A bucket of more
    rows is dropped whole.  One exchange (collect_list, partial then
    final), so the bucket size and the members come from the same
    grouping.  A NULL key matches nothing in a bucket join, so its rows
    are dropped first.  The bucket step of ``dedup_near``,
    ``hamming_near_pairs`` and ``simsearch.cosine_near_dup_pairs``."""
    rest = [c for c in keyed.columns if c not in keys]
    return (keyed.dropna(subset=keys).groupBy(*keys)
            .agg(F.collect_list(F.struct(*rest)).alias("_m"))
            .filter(F.size("_m") <= max_bucket))


def _bucket_pairs(keyed: DataFrame, keys: list[str], id_col: str,
                  max_bucket: int) -> DataFrame:
    """(a, b) — the member structs (see ``kept_buckets``) of every
    distinct pair of rows sharing a kept bucket, ``a[id_col] < b[id_col]``:
    each member is paired with its bucket's members of greater id, and the
    distinct folds a pair that shares several buckets."""
    later = F.filter("_m", lambda x: x[id_col] > F.col("a")[id_col])
    return (kept_buckets(keyed, keys, max_bucket)
            .select("_m", F.explode("_m").alias("a"))
            .select("a", F.explode(later).alias("b")).distinct())


def dedup_near(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
               threshold: float = 0.7, n_hashes: int = 8, band_size: int = 2,
               shingle_n: int = 3, max_bucket: int = 1000) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → Jaccard verify, ONE driver
    action inside (the signature checkpoint) — the candidates→verify plan
    is returned LAZY, so the caller's own materialization (noop write,
    snapshot, collect) is the second and last action.  Every driver
    action costs ~0.5-1.3s of serial Catalyst+scheduling dead time that
    no executor count can shrink, so the action count IS the serial floor
    of the stage's core-scaling.

    Shape rationale, measured (event-log breakdowns at local[32], 20k-doc
    corpus):

    * The r2 staged form (a checkpointed candidate-pair table, then a
      separate verify) paid ~5 driver actions — two cache fills, two
      eager checkpoints, a final count — each costing ~1-1.3s of
      driver-serial Catalyst+codegen dead time between jobs (~8.5s
      total) that no executor count can shrink.
    * A fully-fused one-action form is WORSE: the band self-join's two
      sides (the candidate step of that time) and the verify join's two
      sides all scan the still-cold .cache()'d tables concurrently in
      one job wave, so the minhash ran
      ~3× with cache-write contention (stages of 200-400 task-seconds vs
      ~30s of real CPU).

    The correct shape is one EAGER materialization of the per-document
    signature table (shingle-hash set + band keys, one tokenize + one
    minhash pass — ``_doc_signatures``), then the whole candidates→verify
    plan reads those checkpointed blocks from every side.  localCheckpoint
    (not .cache) holds the blocks: downstream stages never race a cold
    cache, there is no cache-manager entry to leak, and the driver's
    ContextCleaner frees the blocks when the result — whose lineage pins
    them — goes out of scope.  At 10^12 rows the signature checkpoint
    becomes a persisted signatures table (sources/catalog.py snapshot)
    and the verify's explicit repartition is the shuffle that distributes
    candidate pairs across the cluster.  Callers that act on the result
    more than once should materialize it themselves (snapshot write,
    .cache or .localCheckpoint) — the r2 unconditional terminal
    checkpoint protected that case but charged every single-action
    caller a whole extra driver round-trip.

    Candidates are the pairs of each (band_idx, band_key) bucket, listed
    from one grouping of the band rows (``_bucket_pairs``).  ``max_bucket``
    caps pathological band buckets (all-identical spam): a bucket of m
    docs contributes m(m-1)/2 pairs, so a bucket of more than max_bucket
    docs is dropped whole, and the dropped content is by construction
    near-identical — exact dedup already collapses it.

    The verify join repartitions pairs explicitly: AQE coalesces by BYTES,
    and 40k candidate pairs are tiny on disk but carry ~20ms of
    array_intersect CPU each — byte-coalescing collapsed the verify stage
    to 1 task (19s serial, measured).  An explicit numbered repartition is
    exempt from AQE coalescing, so the expensive projection keeps cluster
    parallelism.
    """
    spark = docs.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sig = _doc_signatures(docs, id_col, text_col, n_hashes, band_size,
                          shingle_n).localCheckpoint(eager=True)

    bands = sig.select(id_col, F.posexplode("bands")
                       .alias("band_idx", "band_key"))
    pairs = (_bucket_pairs(bands, ["band_idx", "band_key"], id_col,
                          max_bucket)
             .select(F.col("a")[id_col].alias("id_a"),
                     F.col("b")[id_col].alias("id_b"))
             .repartition(n_part, "id_a"))
    # Jaccard over the shingle-HASH sets (see _doc_signatures: size-
    # preserving modulo 2^-60 collisions, and the q25 oracle hashes the
    # same way) — fixed-width long intersects, ~3× fewer joined bytes
    # than shingle strings.
    sh = sig.select(id_col, "hset")
    j = (pairs
         .join(sh.select(F.col(id_col).alias("id_a"), F.col("hset").alias("sh_a")), "id_a")
         .join(sh.select(F.col(id_col).alias("id_b"), F.col("hset").alias("sh_b")), "id_b"))
    # flat-batch numpy set arithmetic (see _jaccard_arrow: the boxed
    # array_intersect/array_union form burned 605-1400 CPU-s at 32
    # cores vs 87 at 8 on the same 2.3M pairs — LLC-thrash-bound)
    raw = _jaccard_arrow()(F.col("sh_a"), F.col("sh_b"))
    return (j.withColumn("jaccard", F.round(raw, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# ---------------------------------------------------------------- simhash

def simhash16(text_col: str) -> F.Column:
    """Portable 16-dim simhash: per hex position of each token's md5,
    vote +1 if the nibble ≥ 8 else −1; fingerprint bit = sign.  Returned as
    a 16-char '0'/'1' string (SQL-replayable).  The 64-bit numpy variant
    below is the scale implementation; this one is the oracle-checkable
    spec."""
    toks = tokens_of(text_col)

    def voter(pos: int):
        def merge(acc, t):
            return acc + F.when(
                F.substring(F.md5(t.cast("binary")), pos, 1)
                 .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1)
        return merge

    bits = []
    for i in range(1, 17):
        vote = F.aggregate(toks, F.lit(0), voter(i))
        bits.append(F.when(vote > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def simhash64_np(texts) -> "list[int]":
    """64-bit simhash of each text, numpy votes per text (the scale form,
    run per Arrow batch by ``with_simhash64``).  A NULL text has the
    fingerprint of "" (0), as a NULL text shingles like "" in
    ``_doc_signatures``."""
    import hashlib
    out = []
    for t in texts:
        toks = [w for w in "".join(c if c.isalnum() else " "
                                   for c in (t or "").lower()).split() if w]
        if not toks:
            out.append(0)
            continue
        hs = np.array([int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
                       for w in toks], dtype=np.uint64)
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int32)
        votes = (bits * 2 - 1).sum(axis=0)
        fp = np.uint64(0)
        for b in range(64):
            if votes[b] > 0:
                fp |= np.uint64(1) << np.uint64(b)
        out.append(int(fp.astype(np.int64)))
    return out


# ---------------------------------------------------------- simhash @ scale

def with_simhash64(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, simhash64) via one Arrow ``mapInArrow`` (the scale path for
    the 64-bit fingerprint; simhash16 above is the SQL-replayable spec)."""
    schema = T.StructType([
        T.StructField(id_col, docs.schema[id_col].dataType),
        T.StructField("simhash64", T.LongType()),
    ])

    def fingerprints(batches):
        for rb in batches:
            fp = simhash64_np(rb.column(1).to_pylist())
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), pa.array(fp, pa.int64())],
                names=[id_col, "simhash64"])

    return docs.select(id_col, text_col).mapInArrow(fingerprints, schema)


def hamming_near_pairs(df: DataFrame, id_col: str, hash_col: str,
                       max_hamming: int = 3,
                       max_bucket: int = 1000) -> DataFrame:
    """Near-dup pairs over ANY int64 fingerprint column by Hamming
    distance ≤ max_hamming (≤ 3 guaranteed-complete).

    Scale plan — the classic 4-band pigeonhole: split the 64 bits into
    4 × 16-bit bands; any pair within Hamming ≤ 3 matches exactly on ≥ 1
    band (pigeonhole over 4 bands), so candidates are the pairs sharing a
    (band, value) bucket, and the exact popcount filter runs on
    candidates only.
    Serves both text simhash64 and image perceptual-hash (``phash``)
    columns — the image near-dup path of the input_hint schema.

    Band values are extracted with ``>>> b*16 & 0xFFFF`` — a sign-safe
    unsigned mask, NOT ``% 65536`` (Spark's ``%`` is sign-preserving, so
    negative int64 fingerprints — bit 63 set, ~half of real simhash/phash
    outputs — would get a different band-0 value than a positive hash with
    identical low 16 bits, silently dropping pairs whose only matching
    band is band 0).

    ``max_bucket`` drops degenerate hot band-buckets whole (solid-color
    images, boilerplate text share a band value by the thousands → m²/2
    candidate blow-up); the dropped content is near-identical by
    construction, which exact dedup (cheap, runs first in any real
    pipeline) already collapses — same trade and same bucket step
    (``_bucket_pairs``) as ``dedup_near``'s ``max_bucket``.  A NULL
    fingerprint has no bands and pairs with nothing.
    """
    bands = []
    for b in range(4):
        band = (F.shiftrightunsigned(F.col(hash_col), b * 16)
                .bitwiseAND(F.lit(65535)))
        bands.append(F.struct(F.lit(b).alias("band_idx"), band.alias("band_val")))
    keyed = df.select(id_col, hash_col, F.inline(F.array(*bands)))
    cand = _bucket_pairs(keyed, ["band_idx", "band_val"], id_col, max_bucket)
    ham = F.bit_count(F.col("a")[hash_col].bitwiseXOR(F.col("b")[hash_col]))
    return (cand.select(F.col("a")[id_col].alias("id_a"),
                        F.col("b")[id_col].alias("id_b"), ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def phash_near_pairs(images: DataFrame, id_col: str = "image_id",
                     phash_col: str = "phash",
                     max_hamming: int = 3,
                     max_bucket: int = 1000) -> DataFrame:
    """Image near-duplicates by perceptual-hash Hamming distance — the
    banded plan over the input_hint table's ``phash:int64`` column.

    ``max_bucket`` is surfaced (not silently inherited) because the capped
    plan diverges from an uncapped oracle exactly when >max_bucket images
    share a 16-bit band value — callers verifying against an exhaustive
    twin (q47) must pass an effectively-unbounded cap."""
    return hamming_near_pairs(images, id_col, phash_col, max_hamming,
                              max_bucket=max_bucket)


def simhash_near_pairs(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_hamming: int = 3,
                       max_bucket: int = 1000) -> DataFrame:
    """Near-dup pairs by 64-bit simhash Hamming distance ≤ max_hamming
    (see hamming_near_pairs for the banded plan; ``max_bucket`` surfaced
    for the same oracle-divergence reason as phash_near_pairs — q45's
    exhaustive twin needs an unbounded cap)."""
    sh = with_simhash64(docs, id_col, text_col)
    return hamming_near_pairs(sh, id_col, "simhash64", max_hamming,
                              max_bucket=max_bucket)
