"""Dedup / similarity-search / text-analysis operators."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from p3_osm_transformer_spark.operators import dedup, simsearch, text


def _corpus(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    exact = docs.filter("doc_id % 7 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    near = docs.filter("doc_id % 5 = 0").select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.expr("concat(text, ' extra tail words appended')").alias("text"))
    return docs.unionByName(exact).unionByName(near)


def test_dedup_exact(spark):
    c = _corpus(spark)
    groups = dedup.dedup_exact(c)
    n_exact = c.filter("doc_id >= 100000 and doc_id < 200000").count()
    assert groups.filter("n_copies = 2").count() == n_exact
    # member→canonical mapping points each injected copy at the original
    pairs = dedup.dedup_exact_pairs(c)
    assert pairs.filter("member_id - canonical_id = 100000").count() == n_exact
    assert pairs.count() == n_exact


def test_dedup_near_lsh_jaccard(spark):
    c = _corpus(spark)
    # three actions below — materialize the verify join once
    near = dedup.dedup_near(c, threshold=0.7).localCheckpoint(eager=True)
    injected = c.filter("doc_id >= 200000").count()
    caught = near.filter("id_b - id_a = 200000").count()
    assert caught >= injected * 0.9          # LSH recall on true near-dups
    # verification step keeps jaccard ∈ [0.7, 1]
    row = near.agg(F.min("jaccard"), F.max("jaccard")).collect()[0]
    assert row[0] >= 0.7 and row[1] <= 1.0


def test_simhash_near_dups_close(spark):
    c = _corpus(spark)
    sh = c.select("doc_id", dedup.simhash16("text").alias("s"))
    a, b = sh.alias("a"), sh.alias("b")
    ham = F.expr("aggregate(sequence(1,16), 0, (acc,i) -> "
                 "acc + if(substring(a.s,i,1)=substring(b.s,i,1),0,1))")
    pairs = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 200000) \
             .select(ham.alias("ham"))
    hams = [r["ham"] for r in pairs.collect()]
    assert sum(hams) / len(hams) <= 3.0      # near-dups hash close
    assert sh.select("s").distinct().count() > 50   # but hashes do vary


def test_simhash64_numpy():
    fps = dedup.simhash64_np(["the quick brown fox jumps over the lazy dog",
                              "the quick brown fox jumps over the lazy dogs",
                              "completely different content entirely"])
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")  # noqa: E731
    assert ham(fps[0], fps[1]) < ham(fps[0], fps[2])
    assert dedup.simhash64_np([""]) == [0]


def test_simhash64_null_text_is_empty_fingerprint(spark):
    """A NULL text has the fingerprint of "" (0) in the Arrow pass, as a
    NULL text shingles like "" in ``dedup_near``, instead of failing the
    task; it pairs with the empty text at Hamming 0."""
    assert dedup.simhash64_np([None]) == [0]
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "some words in a sentence")],
        "doc_id long, text string")
    fps = {r.doc_id: r.simhash64 for r in dedup.with_simhash64(df).collect()}
    assert fps == {1: 0, 2: 0,
                   3: dedup.simhash64_np(["some words in a sentence"])[0]}
    assert [tuple(r) for r in dedup.simhash_near_pairs(df).collect()] == \
        [(1, 2, 0)]


def test_cosine_topk_planted(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(120, 32).astype(np.float32)
    noisy = base[:30] + 0.1 * rng.randn(30, 32).astype(np.float32)
    rows = [(int(i), base[i].tolist()) for i in range(120)] + \
           [(int(1000 + i), noisy[i].tolist()) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 30").selectExpr("vec_id as query_id", "embedding")
    c = emb.selectExpr("vec_id as neighbor_id", "embedding")
    exact = simsearch.cosine_topk_brute(q, c, k=1)
    got = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert got == {(i, 1000 + i) for i in range(30)}
    approx = simsearch.cosine_topk_lsh(q, c, k=1, prefix_bits=4)
    assert simsearch.lsh_recall(exact, approx) >= 0.9


def test_text_ops(spark):
    docs = spark.createDataFrame(
        [(1, "the cat is on the mat and the dog is here"),
         (2, "der Hund und die Katze und das Haus ist hier"),
         (3, "le chat et la maison et les arbres est ici"),
         (4, "xyzzy qwerty plugh !!!! ????")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           text.with_langid(text.with_quality(text.with_token_counts(
               text.with_fingerprint(docs)))).collect()}
    assert out[1]["lang_guess"] == "en"
    assert out[2]["lang_guess"] == "de"
    assert out[3]["lang_guess"] == "fr"
    assert out[4]["lang_guess"] == "und"
    assert out[4]["quality"] < out[1]["quality"]     # punct-heavy → lower
    assert out[1]["n_words"] == 11
    assert out[1]["n_subword_est"] >= out[1]["n_words"]
    # fingerprint is stable and whitespace-insensitive
    docs2 = spark.createDataFrame(
        [(1, "the cat is on the   mat and the dog is here")],
        "doc_id long, text string")
    fp1 = out[1]["fingerprint"]
    fp2 = text.with_fingerprint(docs2).collect()[0]["fingerprint"]
    assert fp1 == fp2


def test_simhash64_banded_near_pairs(spark):
    c = _corpus(spark)
    pairs = dedup.simhash_near_pairs(c, max_hamming=6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # exact copies (hamming 0) must all be found
    exact_pairs = {(r["doc_id"], r["doc_id"] + 100000)
                   for r in c.filter("doc_id < 100000 and doc_id % 7 = 0").collect()}
    assert exact_pairs <= got
    # hamming values are within the threshold and pigeonhole found them
    assert pairs.filter("hamming > 6").count() == 0


def test_cosine_topk_ivf_planted(spark):
    rng = np.random.RandomState(11)
    base = rng.randn(200, 32).astype(np.float32)
    noisy = base[:40] + 0.1 * rng.randn(40, 32).astype(np.float32)
    rows = [(int(i), base[i].tolist()) for i in range(200)] + \
           [(int(1000 + i), noisy[i].tolist()) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 40").selectExpr("vec_id as query_id", "embedding")
    c = emb.selectExpr("vec_id as neighbor_id", "embedding")
    exact = simsearch.cosine_topk_brute(q, c, k=1)
    ivf = simsearch.cosine_topk_ivf(q, c, k=1, n_centroids=8, n_probe=3)
    assert simsearch.lsh_recall(exact, ivf) >= 0.9
    # a NULL or other-length embedding, on either side, probes and fills
    # no list: it joins nothing and fails no task
    bad = spark.createDataFrame([(-2, None), (-1, [1.0, 2.0])],
                                "vec_id long, embedding array<float>")
    ivf2 = simsearch.cosine_topk_ivf(
        q.unionByName(bad.withColumnRenamed("vec_id", "query_id")),
        c.unionByName(bad.withColumnRenamed("vec_id", "neighbor_id")),
        k=1, n_centroids=8, n_probe=3)
    assert sorted(map(tuple, ivf2.collect())) == \
        sorted(map(tuple, ivf.collect()))


def test_cosine_near_dup_planted(spark):
    """Planted near-identical embeddings: LSH-prefiltered pair detection
    must find ≥90% of true pairs (recall) with zero false positives
    (exact verify) vs the brute-force oracle."""
    import numpy as np
    from p3_osm_transformer_spark.operators.simsearch import (
        cosine_near_dup_brute, cosine_near_dup_pairs)

    rng = np.random.RandomState(7)
    base = rng.randn(120, 16).astype(np.float64)
    rows = [(i, [float(x) for x in base[i]]) for i in range(120)]
    # plant: ids 200+i are tiny perturbations of ids i (i % 4 == 0)
    for i in range(0, 120, 4):
        pert = base[i] + rng.randn(16) * 0.01
        rows.append((200 + i, [float(x) for x in pert]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {(r.id_a, r.id_b) for r in
             cosine_near_dup_brute(df, threshold=0.95).collect()}
    got = {(r.id_a, r.id_b) for r in
           cosine_near_dup_pairs(df, threshold=0.95).collect()}
    assert len(exact) >= 30                      # the planted pairs exist
    assert got <= exact                          # exact verify: no FPs
    assert len(got & exact) / len(exact) >= 0.9  # LSH recall


def _plan(df) -> str:
    """The physical plan the action on ``df`` starts from."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_cosine_near_dup_max_bucket_boundary(spark):
    """A bucket of exactly max_bucket vectors keeps its pairs; one more
    vector drops the bucket whole, while the pair in another bucket
    survives.  Copies of v share its bucket; -v and its scaled copy fall
    in the complement bucket."""
    v = [0.3, -1.2, 0.8, 2.0, -0.5, 0.1, 1.5, -0.9]
    rows = [(10 + i, v) for i in range(5)]
    rows += [(1, [-x for x in v]), (2, [-2.5 * x for x in v])]
    hot6 = spark.createDataFrame(rows + [(15, v)],
                                 "vec_id long, embedding array<double>")
    hot5 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairs(df, cap):
        return {r[:2] for r in simsearch.cosine_near_dup_pairs(
            df, threshold=0.95, prefix_bits=4, max_bucket=cap).collect()}
    brute = {r[:2] for r in simsearch.cosine_near_dup_brute(
        hot6, threshold=0.95).collect()}
    assert len(brute) == 6 * 5 // 2 + 1
    assert pairs(hot6, 6) == brute
    assert pairs(hot6, 5) == {(1, 2)}
    assert pairs(hot5, 5) == {r for r in brute if 15 not in r}


def test_cosine_near_dup_buckets_once(spark):
    """The bucket UDF runs once per row: the capped buckets come from one
    grouping, so the plan holds three Arrow UDF nodes (probes, bucket,
    cosine) and no second bucket pass for a sizes join."""
    df = spark.createDataFrame([(1, [1.0, 2.0]), (2, [1.0, 2.1])],
                               "vec_id long, embedding array<double>")
    p = _plan(simsearch.cosine_near_dup_pairs(df, threshold=0.9))
    assert p.count("ArrowEvalPython [") == 3
    assert p.count("ArrowEvalPython [_sk(") == 1


def test_cosine_near_dup_edge_rows_equal_brute(spark):
    """Rows off the embedding length keep the brute twin's pairs: a NULL
    row pairs with nothing, two equal rows longer than dim share the
    no-bucket rows' own bucket and pair, and two equal shorter rows
    (bucket 0) pair by the exact fold.  The other pairs are scaled
    copies, which share every sketch bit, so the output equals
    ``cosine_near_dup_brute`` exactly."""
    rng = np.random.RandomState(23)
    base = rng.randn(60, 16)
    rows = [(i, base[i].tolist()) for i in range(60)]
    rows += [(100 + i, (2.5 * base[i]).tolist()) for i in range(0, 60, 6)]
    rows += [(900, None), (901, [0.5] * 20), (902, [0.5] * 20),
             (903, [1.0, 2.0, 3.0]), (904, [1.0, 2.0, 3.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(map(tuple, simsearch.cosine_near_dup_pairs(
        df, threshold=0.95).collect()))
    want = sorted(map(tuple, simsearch.cosine_near_dup_brute(
        df, threshold=0.95).collect()))
    assert got == want
    assert {(901, 902), (903, 904)} <= {r[:2] for r in got}
    assert len(got) >= 12 and not any(900 in r[:2] for r in got)


def test_cosine_topk_lsh_empty_corpus(spark):
    """An empty corpus has no embedding length to read: both the derived
    and a given prefix_bits return no rows, with the top-k schema."""
    q = spark.createDataFrame([(1, [1.0, 2.0]), (2, None)],
                              "query_id long, embedding array<double>")
    c = spark.createDataFrame([], "neighbor_id long, embedding array<double>")
    for kw in ({}, {"prefix_bits": 4}):
        out = simsearch.cosine_topk_lsh(q, c, k=3, **kw)
        assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]
        assert out.collect() == []


def test_embedding_dim_from_first_non_null_row(spark):
    """Without ``dim=`` the embedding length comes from the first non-NULL
    row: a corpus whose first row is NULL gives the same output as the
    length given."""
    df = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0, 0.0]), (3, [0.9, 0.1, 0.0])],
        "vec_id long, embedding array<double>")
    assert simsearch._embedding_dim(df) == 3
    q = df.selectExpr("vec_id as query_id", "embedding")
    c = df.selectExpr("vec_id as neighbor_id", "embedding")
    for fn, args, kw in (
            (simsearch.cosine_topk_lsh, (q, c), dict(k=2, prefix_bits=2)),
            (simsearch.cosine_near_dup_pairs, (df,),
             dict(threshold=0.9, prefix_bits=2))):
        got = sorted(map(tuple, fn(*args, **kw).collect()))
        assert got and got == sorted(map(tuple, fn(*args, dim=3, **kw)
                                         .collect()))


def test_catalyst_cosine_zero_norm_gives_null(spark):
    """A zero-norm vector's Catalyst cosine is NULL, not a DIVIDE_BY_ZERO
    under ANSI mode: the brute top-k ranks its pairs last, IVF's re-rank
    (probing every list here) agrees with it, and the brute near-dup twin
    pairs it with nothing."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [1.0, 0.1, 0.0]),
         (4, [0.0, 1.0, 0.0])], "vec_id long, embedding array<double>")
    q = df.selectExpr("vec_id as query_id", "embedding")
    c = df.selectExpr("vec_id as neighbor_id", "embedding")
    brute = sorted(map(tuple, simsearch.cosine_topk_brute(q, c, k=3).collect()))
    assert [r for r in brute if r[0] == 1] == [(1, 2, None, 1), (1, 3, None, 2),
                                              (1, 4, None, 3)]
    assert (2, 1, None, 3) in brute
    ivf = simsearch.cosine_topk_ivf(q, c, k=3, n_centroids=4, n_probe=4)
    assert sorted(map(tuple, ivf.collect())) == brute
    near = simsearch.cosine_near_dup_brute(df, threshold=0.9).collect()
    assert [tuple(r) for r in near] == [(2, 3, 0.995037)]


def test_hamming_band0_sign_flip(spark):
    """Regression: a Hamming≤3 pair whose ONLY matching band is band 0 and
    whose signs differ (bit 63 flipped) must be found — a sign-preserving
    band-0 extraction (% 65536 on a negative int64) silently drops it."""
    base = 0x1234
    flipped = base ^ (1 << 63) ^ (1 << 17) ^ (1 << 33)   # bands 1,2,3 differ
    # two's-complement int64 view (negative)
    flipped_i64 = flipped - (1 << 64) if flipped >= (1 << 63) else flipped
    df = spark.createDataFrame([(1, base), (2, flipped_i64)],
                               "id long, h long")
    got = {(r.id_a, r.id_b, r.hamming)
           for r in dedup.hamming_near_pairs(df, "id", "h", 3).collect()}
    assert got == {(1, 2, 3)}


def test_hamming_banded_equals_brute_with_negatives(spark):
    """Banded plan == O(n²) popcount oracle at hamming≤3 on a corpus where
    ~half the fingerprints are negative and flips include bit 63."""
    rows = []
    for i in range(200):
        h = ((i * 1103515245 + 12345) % (1 << 31)) * (1 << 31) + i
        if i % 2 == 1:
            h ^= 1 << 63
        rows.append((i, h - (1 << 64) if h >= (1 << 63) else h))
    for i in range(0, 200, 5):                       # planted 1-bit flips
        h = rows[i][1] ^ (1 << (i % 64))
        rows.append((1000 + i, h - (1 << 64) if h >= (1 << 63) else
                     (h + (1 << 64) if h < -(1 << 63) else h)))
    df = spark.createDataFrame(rows, "id long, h long")
    a = df.selectExpr("id as id_a", "h as h_a")
    b = df.selectExpr("id as id_b", "h as h_b")
    brute = {(r.id_a, r.id_b) for r in
             a.crossJoin(b).filter("id_a < id_b")
              .filter(F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))) <= 3)
              .collect()}
    got = {(r.id_a, r.id_b) for r in
           dedup.hamming_near_pairs(df, "id", "h", 3).collect()}
    assert brute == got and len(got) >= 40


def test_hamming_hot_bucket_cap(spark):
    """max_bucket drops degenerate hot band-buckets (bounds the m²/2 pair
    blow-up) while pairs outside the hot bucket survive."""
    rows = [(i, 42) for i in range(50)]              # 50 identical hashes
    far = (1 << 40) | (1 << 50) | (1 << 60)          # hamming 6 from 42
    rows += [(100, far), (101, far ^ 2)]             # a normal near pair
    df = spark.createDataFrame(rows, "id long, h long")
    capped = {(r.id_a, r.id_b) for r in
              dedup.hamming_near_pairs(df, "id", "h", 3,
                                       max_bucket=10).collect()}
    assert (100, 101) in capped
    assert not any(a < 50 and b < 50 for a, b in capped)
    # default cap: hot group found in full
    full = dedup.hamming_near_pairs(df, "id", "h", 3).count()
    assert full == 50 * 49 // 2 + 1


def test_banded_pairs_plan_no_window(spark):
    """dedup_near and hamming_near_pairs cap and pair each bucket from one
    grouping of the band rows: no Window count per self-join side."""
    c = _corpus(spark)
    for df in (dedup.dedup_near(c, threshold=0.7),
               dedup.hamming_near_pairs(
                   c.selectExpr("doc_id as id", "doc_id * 7 as h"), "id", "h")):
        p = _plan(df)
        assert "Window" not in p and "ObjectHashAggregate" in p


def test_prefix_bits_scale_with_corpus():
    """Bucket count must grow with corpus size (the ANN parallelism
    ceiling AND the n²/buckets candidate bound)."""
    pb = simsearch.pick_prefix_bits
    assert pb(1_000) >= 4
    assert pb(100_000) > pb(1_000)
    assert pb(100_000_000) > pb(100_000)
    assert pb(10**12) <= 24                          # occupancy-lever regime
    # derived bucket counts keep per-bucket occupancy near the target
    for n in (10**5, 10**7, 10**9):
        buckets = 2 ** pb(n)
        assert n / buckets <= 1024                   # no degenerate buckets


def test_sketch_bits_literal_matrix_matches_per_row_form(spark):
    """The literal-coefficient single-pass sketch (dim known) must be
    bit-identical to the per-row md5 fallback — same coefficients, same
    d-ascending float summation order.  Pins the q31/q44/q49 bucket
    assignments across the r3 performance rewrite."""
    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(24)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = emb.select(
        simsearch.sketch_bits("embedding", 12, dim=24).alias("fast"),
        simsearch.sketch_bits("embedding", 12, dim=None).alias("ref")).collect()
    assert all(r["fast"] == r["ref"] for r in got)
    assert len({r["fast"] for r in got}) > 10   # sketches actually vary


def test_lsh_kernel_buckets_equal_catalyst_sketch_prefix_incl_edge_rows(spark):
    """The kernel's bucket (the ``_sk`` Arrow UDF over ``_buckets``) is
    the Catalyst literal-matrix sketch's prefix read as binary, INCLUDING
    the ragged-row edge semantics the HOF chain defines: a shorter or
    empty vector's all-'0' sketch is bucket 0, a longer or NULL vector's
    empty sketch is no bucket (-1), and so is every row at 0 bits.  Its
    probes (``_sk_probes``) are that prefix and its single-bit flips,
    first bit first; an empty prefix probes only bucket 1."""
    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(24)]) for i in range(300)]
    rows += [(900, None), (901, [1.0] * 10), (902, [1.0] * 30), (903, [])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for bits in (0, 5, 12):
        bucket, probes, _ = simsearch._lsh_udfs(24, bits)
        got = emb.select(
            "vec_id", bucket("embedding").alias("kernel"),
            probes("embedding").alias("probes"),
            F.substring(simsearch.sketch_bits("embedding", 12, dim=24), 1,
                        bits).alias("cat")).collect()
        bad = []
        for r in got:
            own = int(r["cat"], 2) if r["cat"] else -1
            want = [own] + [own ^ (1 << i) for i in reversed(range(bits))]
            if (r["kernel"], r["probes"]) != (own, want if own >= 0 else [1]):
                bad.append((r["vec_id"], r["kernel"], r["probes"], r["cat"]))
        assert not bad, (bits, bad[:5])
        assert bits == 0 or len({r["kernel"] for r in got}) > 10


def test_lsh_kernel_cosine_equals_catalyst_incl_edge_rows(spark,
                                                         monkeypatch):
    """The kernel's pair cosine (the ``_cos`` Arrow UDF over
    ``_pair_cos``) is bit-identical to the Catalyst ``_dot / (_norm *
    _norm)`` fold, INCLUDING its edge semantics: NULL on either side or a
    length mismatch → NULL, two equal lengths other than dim (shorter,
    longer, empty) still compute by the exact left fold.  A zero norm
    gives NULL, where the bare ``/`` raises under ANSI mode, and so does
    a NaN element, where the fold gives NaN.  Both
    plans score with it: on the edge fixture at one prefix bit, where the
    NULL query's probe of bucket 1 is half the corpus, they agree."""
    rng = np.random.RandomState(13)
    v = lambda n: [float(x) for x in rng.randn(n)]  # noqa: E731
    pairs = [(i, v(24), v(24)) for i in range(200)]
    pairs += [(900, None, v(24)), (901, v(24), None), (902, None, None),
              (903, v(10), v(24)), (904, v(24), v(30)), (905, v(10), v(30)),
              (906, v(10), v(10)), (907, v(30), v(30)), (908, [], [])]
    df = spark.createDataFrame(
        pairs, "pair_id long, a array<double>, b array<double>")
    cos = simsearch._lsh_udfs(24, 4)[2]
    got = {r["pair_id"]: r["kernel"] for r in df.select(
        "pair_id", cos("a", "b").alias("kernel")).collect()}
    want = {r["pair_id"]: r["cat"] for r in df.filter("pair_id != 908").select(
        "pair_id", (simsearch._dot("a", "b")
                    / (simsearch._norm("a") * simsearch._norm("b")))
        .alias("cat")).collect()}
    assert {i: got[i] for i in want} == want
    assert [want[i] is None for i in range(900, 908)] == [True] * 6 + [False] * 2
    odd = spark.createDataFrame([([0.0] * 24, v(24)), ([np.nan] + v(23), v(24))],
                                "a array<double>, b array<double>")
    assert got[908] is None
    assert [r[0] for r in odd.select(cos("a", "b")).collect()] == [None, None]
    qv, cv = _lsh_edge_fixture(spark)
    kw = dict(k=7, prefix_bits=1, dim=24)
    a = sorted(map(tuple, simsearch.cosine_topk_lsh(qv, cv, **kw).collect()))
    b = sorted(map(tuple, _shuffled(monkeypatch, qv, cv, **kw).collect()))
    assert a == b and len([r for r in a if r[0] == 5901]) == 7


def _lsh_edge_fixture(spark):
    """400 random 24-d corpus vectors plus ragged, longer, NULL and empty
    corpus rows; 12 random queries plus a ragged and a NULL query."""
    rng = np.random.RandomState(17)
    rows = [(i, [float(x) for x in rng.randn(24)]) for i in range(400)]
    # ragged/null corpus rows: shorter, longer, null, empty
    rows += [(900, [1.0] * 10), (901, [0.5] * 30), (902, None), (903, [])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qrows = [(5000 + i, [float(x) for x in rng.randn(24)]) for i in range(12)]
    qrows += [(5900, [1.0] * 10), (5901, None)]   # ragged/null queries too
    qv = spark.createDataFrame(qrows, "query_id long, embedding array<double>")
    return qv, emb.selectExpr("vec_id as neighbor_id", "embedding")


def _one_pass(df) -> bool:
    return "MapInArrow" in df._jdf.queryExecution().analyzed().toString()


def _shuffled(monkeypatch, *args, **kw):
    """cosine_topk_lsh on its shuffled plan: with a zero one-pass budget no
    query side is small enough for the one pass."""
    with monkeypatch.context() as m:
        m.setattr(simsearch, "_ONE_PASS_BYTES", 0)
        out = simsearch.cosine_topk_lsh(*args, **kw)
    assert not _one_pass(out)
    return out


def test_cosine_topk_lsh_one_pass_equals_shuffled_incl_edge_rows(
        spark, monkeypatch):
    """A small query side takes the one-pass plan (probe and score inside
    one mapInArrow over the corpus), which returns the shuffled plan's
    rows on the edge fixture: the shorter corpus rows' bucket 0, no bucket
    for NULL or longer rows, the NULL query's empty-sketch probe, NULL
    cosines on length mismatch and the exact fold for equal ragged
    lengths."""
    qv, cv = _lsh_edge_fixture(spark)
    kw = dict(k=7, prefix_bits=4, dim=24)
    a = simsearch.cosine_topk_lsh(qv, cv, **kw)
    b = _shuffled(monkeypatch, qv, cv, **kw)
    assert _one_pass(a)
    ra, rb = sorted(map(tuple, a.collect())), sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) > 40
    assert {r[0] for r in ra} >= {5900, 5901}


def test_cosine_topk_lsh_one_pass_cap_equals_shuffled(spark, monkeypatch):
    """A max_bucket that truncates (4 buckets of ~100 rows, capped at 5)
    keeps the one-pass plan's dense_rank cap equal to the shuffled plan's
    row_number cap."""
    qv, cv = _lsh_edge_fixture(spark)
    kw = dict(k=3, prefix_bits=2, dim=24)
    uncapped = sorted(map(tuple, simsearch.cosine_topk_lsh(
        qv, cv, **kw).collect()))
    a = sorted(map(tuple, simsearch.cosine_topk_lsh(
        qv, cv, max_bucket=5, **kw).collect()))
    b = sorted(map(tuple, _shuffled(
        monkeypatch, qv, cv, max_bucket=5, **kw).collect()))
    assert a == b and a != uncapped


def test_cosine_topk_lsh_one_pass_crowded_bucket_in_slices(spark,
                                                           monkeypatch):
    """300 near-copies of one vector crowd a bucket that every query
    probes; the higher the id, the nearer the copy.  Scored 7 pairs at a
    time over Arrow batches of 64 rows, the one pass still returns the
    shuffled plan's rows with a cap that truncates the bucket across
    batches: every query's top 5 are the nearest of the 50 lowest ids."""
    rng = np.random.RandomState(5)
    hot, u = rng.randn(8), rng.randn(8)
    u /= np.linalg.norm(u)
    rows = [(i, (hot + 0.05 * (300 - i) / 300 * u).tolist())
            for i in range(300)]
    rows += [(300 + i, rng.randn(8).tolist()) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cv = emb.selectExpr("vec_id as neighbor_id", "embedding")
    qv = spark.createDataFrame(
        [(5000 + i, ((1 + i / 10) * hot).tolist()) for i in range(20)],
        "query_id long, embedding array<double>")
    monkeypatch.setattr(simsearch, "_PAIR_SLICE", 7)
    batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(batch)
    spark.conf.set(batch, "64")
    try:
        kw = dict(k=5, prefix_bits=3, dim=8, max_bucket=50)
        a = simsearch.cosine_topk_lsh(qv, cv, **kw)
        assert _one_pass(a)
        got = sorted(map(tuple, a.collect()))
        want = sorted(map(tuple, _shuffled(
            monkeypatch, qv, cv, **kw).collect()))
    finally:
        spark.conf.set(batch, saved)
    assert got == want and len(got) == 100
    assert {r[1] for r in got} == set(range(45, 50))


def test_ann_lsh_auto_bits_planted_recall(spark):
    """cosine_topk_lsh with prefix_bits=None (corpus-derived) still finds
    planted exact copies — identical vectors share a bucket at any bits."""
    import numpy as np
    rng = np.random.RandomState(3)
    base = rng.randn(300, 16).astype(np.float64)
    rows = [(i, [float(x) for x in base[i]]) for i in range(300)]
    rows += [(1000 + i, [float(x) for x in base[i]]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id < 20").selectExpr("vec_id as query_id", "embedding")
    c = emb.selectExpr("vec_id as neighbor_id", "embedding")
    out = simsearch.cosine_topk_lsh(q, c, k=1, prefix_bits=None)
    top1 = {(r.query_id, r.neighbor_id) for r in out.filter("rank = 1").collect()}
    assert top1 == {(i, 1000 + i) for i in range(20)}


def test_ann_broadcast_hint_sized_by_bucket_occupancy(spark):
    """The one-pass plan's query budget is sized from the corpus's bucket
    occupancy: a caller's small prefix_bits over a large n_corpus (625k
    rows per bucket, capped at max_bucket) leaves room for 10 queries, so
    16 stay on the shuffled plan, while the corpus-derived bits keep
    ~n/2**bits per bucket and the 16 take the one pass.  Sized at 256 rows
    per bucket, both would take it."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 2.0]) for i in range(16)],
        "vec_id long, embedding array<double>")
    q = emb.selectExpr("vec_id as query_id", "embedding")
    c = emb.selectExpr("vec_id as neighbor_id", "embedding")

    def one_pass(**kw):
        return _one_pass(simsearch.cosine_topk_lsh(q, c, k=1, dim=4, **kw))

    assert not one_pass(prefix_bits=4, n_corpus=10_000_000)
    assert one_pass(prefix_bits=None, n_corpus=30_000)


_EDGE_DOCS = [(900001, "two tokens"), (900002, "one"), (900003, "!!! ... ---"),
              (900004, ""), (900005, None), (900011, "two tokens"),
              (900012, ""), (900013, None),
              (900006, "Mixed CASE text with   runs\tof whitespace and 42 "
                       "digits")]


def _catalyst_signatures(docs):
    """The Catalyst reference of ``dedup._doc_signatures``: exploded
    60-bit shingle hashes grouped into the minhash minima, the hash set
    and the long band keys (n_hashes 8, band_size 2, shingle_n 3)."""
    ex = dedup._exploded_hashes(docs, "doc_id", "text", 3)
    return (ex.groupBy("doc_id")
            .agg(*dedup._min_hash_aggs(8), F.collect_set("_h").alias("hset"))
            .select("doc_id", "hset",
                    dedup._band_keys_long(8, 2).alias("bands")))


def _catalyst_jaccard(a, b):
    return F.try_divide(F.size(F.array_intersect(a, b)).cast("double"),
                        F.size(F.array_union(a, b)).cast("double"))


def test_doc_signatures_arrow_equals_catalyst(spark):
    """The ``mapInArrow`` signature pass must be VALUE-IDENTICAL to the
    Catalyst reference — 60-bit hash sets (ascending, distinct) and band
    keys over the minima — including the edge docs: <shingle_n tokens,
    punctuation-only (tokenizes to nothing → one ""-shingle), empty
    string, and NULL text (Catalyst's concat_ws turns the null token
    array into "" — the row is KEPT)."""
    c = _corpus(spark).unionByName(
        spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string"))
    sig = dedup._doc_signatures(c, "doc_id", "text", 8, 2, 3)
    assert "MapInArrow" in sig._jdf.queryExecution().analyzed().toString()
    rows = sig.collect()
    assert all(list(r["hset"]) == sorted(set(r["hset"])) for r in rows)
    fa = {r["doc_id"]: (list(r["hset"]), list(r["bands"])) for r in rows}
    fb = {r["doc_id"]: (sorted(r["hset"]), list(r["bands"]))
          for r in _catalyst_signatures(c).collect()}
    assert fa == fb
    assert 900005 in fa and 900004 in fa


def test_dedup_near_arrow_verify_equals_catalyst(spark):
    """dedup_near's OUTPUT (the mapInArrow signatures, the long band keys
    and the flat-batch Arrow Jaccard verify) is identical to a reference
    composed from Catalyst pieces — the Catalyst signatures, the band
    self-join and the array_intersect/array_union Jaccard ≥ 0.7: same
    pairs, bit-identical jaccard values, across the edge docs (empty /
    NULL / punctuation-only text, sub-shingle token counts) and the
    injected exact + near duplicates."""
    c = _corpus(spark).unionByName(
        spark.createDataFrame(_EDGE_DOCS, "doc_id long, text string"))
    sig = _catalyst_signatures(c)
    bands = sig.select("doc_id", F.posexplode("bands"))
    pairs = (bands.selectExpr("doc_id as id_a", "pos", "col")
             .join(bands.selectExpr("doc_id as id_b", "pos", "col"),
                   ["pos", "col"])
             .filter("id_a < id_b").select("id_a", "id_b").distinct())
    spec = (pairs
            .join(sig.selectExpr("doc_id as id_a", "hset as sh_a"), "id_a")
            .join(sig.selectExpr("doc_id as id_b", "hset as sh_b"), "id_b")
            .select("id_a", "id_b", F.round(_catalyst_jaccard("sh_a", "sh_b"),
                                            6).alias("jaccard"))
            .filter("jaccard >= 0.7"))
    fa = {(r.id_a, r.id_b): r.jaccard
          for r in dedup.dedup_near(c, threshold=0.7).collect()}
    fb = {(r.id_a, r.id_b): r.jaccard for r in spec.collect()}
    assert fa == fb and len(fa) > 0
    # the identical-text edge pairs verify at jaccard 1.0
    assert fa[(900001, 900011)] == 1.0
    assert fa[(900004, 900012)] == 1.0


def test_dedup_near_max_bucket_boundary(spark):
    """A band bucket of exactly max_bucket documents keeps its pairs; one
    more document drops them all, while a near pair in other buckets
    survives (its two texts share no band with the identical spam)."""
    spam = "buy cheap pills now buy cheap pills now today only"
    fox = ("the quick brown fox jumps over the lazy dog while seven "
           "wizards box jolly quick zebras")
    rows = [(i, spam) for i in range(11)] + [(100, fox),
                                             (101, fox + " again")]
    hot12 = spark.createDataFrame(rows + [(11, spam)],
                                  "doc_id long, text string")
    hot11 = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(df, cap):
        return {(r.id_a, r.id_b): r.jaccard for r in dedup.dedup_near(
            df, threshold=0.7, max_bucket=cap).collect()}
    full = pairs(hot12, 12)
    assert len(full) == 12 * 11 // 2 + 1 and full[(100, 101)] == 0.933333
    assert set(full.values()) == {1.0, 0.933333}
    assert pairs(hot12, 11) == {(100, 101): 0.933333}
    assert pairs(hot11, 11) == {k: v for k, v in full.items() if 11 not in k}


def test_jaccard_arrow_udf_equals_catalyst_incl_null_empty_sliced(spark):
    """The ``_jac`` Arrow UDF equals the Catalyst Jaccard (try_divide of
    the intersect/union sizes) on NULL, empty, disjoint, identical and
    overlapping distinct sets, read in 3-row Arrow batches; a NULL input
    or an empty union gives NULL.  Spark hands a scalar Arrow UDF
    unsliced arrays, so the UDF's function also runs on sliced ones."""
    import pyarrow as pa

    sets = [None, [], [1], [1, 2, 3], [4, 5], [3, 2, 1], [2, 3, 9, 10],
            [7], [-5, 1 << 59, 3]]
    rows = [(i * len(sets) + j, a, b) for i, a in enumerate(sets)
            for j, b in enumerate(sets)]
    df = spark.createDataFrame(rows, "k long, a array<long>, b array<long>")
    jac = dedup._jaccard_arrow()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = {r.k: r.j for r in df.repartition(2).select(
            "k", jac("a", "b").alias("j")).collect()}
    finally:
        spark.conf.set(key, old)
    want = {r.k: r.j for r in df.select(
        "k", _catalyst_jaccard("a", "b").alias("j")).collect()}
    assert got == want and len(got) == len(sets) ** 2
    assert got[1 * len(sets) + 1] is None          # empty vs empty
    assert got[2 * len(sets) + 4] == 0.0           # disjoint
    assert got[3 * len(sets) + 5] == 1.0           # identical sets
    t = pa.list_(pa.int64())
    a, b = pa.array([r[1] for r in rows], t), pa.array([r[2] for r in rows], t)
    for s in (1, 7, 40):
        assert jac.func(a.slice(s, 30), b.slice(s, 30)).to_pylist() == [
            want[k] for k in range(s, s + 30)]


def test_dedup_caches_released(spark):
    """Repeated dedup_near / hamming_near_pairs calls accrete no DataFrame
    cache entries."""
    spark.catalog.clearCache()
    c = _corpus(spark)
    for _ in range(2):
        dedup.dedup_near(c, threshold=0.7).count()
        dedup.hamming_near_pairs(
            c.selectExpr("doc_id as id", "doc_id * 7 as h"), "id", "h").count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_enrich_images_hex_equals_ring_on_seam_straddling_fixture(spark):
    """r4 verdict #7: the flagship with knn_strategy=\"hex\" must produce
    the SAME enrichment as knn_strategy=\"ring\" — exercised on a global
    scatter so points and addresses straddle icosahedron face seams (the
    hex path's hard case; both strategies share the exact-top-k contract
    and the (dist, addr_id) tie-break)."""
    from p3_osm_transformer_spark.plans.pipeline import enrich_images_scope

    imgs = spark.createDataFrame(
        [(f"img-{i:04d}",
          f"scatter shot {i} @ geo:"
          f"{-83.0 + (i * 7 % 1660) / 10.0:.7f},"
          f"{-180 + (i * 53 % 360) + 0.4321:.7f}")
         for i in range(120)]
        + [(f"img-ng{i}", f"untagged snapshot {i}") for i in range(8)],
        "image_id string, caption string") \
        .withColumn("bytes", F.lit(None).cast("binary")) \
        .withColumn("phash", F.lit(0).cast("long"))
    addrs = spark.createDataFrame(
        [(f"a-{i}", f"{i} Scatter Way",
          -84.0 + (i * 13 % 1680) / 10.0, -180 + (i * 37 % 360) * 1.0)
         for i in range(600)],
        "addr_id string, street_address string, lat double, lon double")

    def picks(strategy):
        with enrich_images_scope(imgs, addrs, knn_strategy=strategy) as df:
            return {(r.image_id, r.nearest_addr_id, r.hex_9, r.s2_12)
                    for r in df.collect()}

    ring, hexed = picks("ring"), picks("hex")
    assert hexed == ring
    assert len(ring) == 128          # every input row, geo or not


def test_enrich_cache_bounded_and_releasable(spark):
    """enrich_images persists its branch-point table past return (the
    output is lazy); repeated calls must hold at most ONE live cache and
    release_enrich_cache() must drop it (ADVICE r2: unbounded accretion)."""
    from p3_osm_transformer_spark.operators.osm import build_addresses
    from p3_osm_transformer_spark.plans.pipeline import (
        enrich_images, release_enrich_cache)
    from p3_osm_transformer_spark.sources import fixtures as fx
    spark.catalog.clearCache()
    imgs = fx.images_table(spark, 40)
    addrs = build_addresses(fx.osm_nodes(spark, 400),
                            fx.osm_ways(spark, 60, 400))
    cm = spark._jsparkSession.sharedState().cacheManager()
    for _ in range(3):
        enrich_images(imgs, addrs, knn_strategy="brute").count()
    assert not cm.isEmpty()          # the current call's cache is live
    release_enrich_cache()
    assert cm.isEmpty()              # and exactly that one was held
    # context-manager form: released at block exit, no module-global left
    from p3_osm_transformer_spark.plans.pipeline import enrich_images_scope
    with enrich_images_scope(imgs, addrs, knn_strategy="brute") as df:
        assert df.count() > 0
        assert not cm.isEmpty()
    assert cm.isEmpty()
