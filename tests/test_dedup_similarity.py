"""Dedup + similarity operator guarantees at sf0.001/sf0.01:

* exact duplicates are found by every near-dup method (MinHash
  signatures identical, SimHash distance 0, Jaccard 1.0)
* LSH ANN achieves high recall vs the exact brute-force top-k
* text-stat operators agree with plain-python recomputation
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    """sf0.01 documents plus deterministic exact duplicates (doc_id+10000
    copies of the first 15 docs) so every near-dup method has known
    positives to find."""
    base = spark.read.parquet(f"{SF}/documents.parquet")
    dupes = base.filter(F.col("doc_id") < 15).withColumn("doc_id", F.col("doc_id") + 10000)
    return base.unionByName(dupes).cache()


def exact_dup_pairs(spark, docs):
    a, b = docs.alias("a"), docs.alias("b")
    return {
        (r.id_a, r.id_b)
        for r in a.join(
            b, (F.col("a.text") == F.col("b.text")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .collect()
    }


def test_minhash_finds_exact_duplicates(spark, docs):
    from ocr_wrapper_spark.operators.dedup import lsh_candidate_pairs

    exact = exact_dup_pairs(spark, docs)
    assert exact, "fixture should contain duplicate documents"
    cands = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(docs).collect()}
    missing = exact - cands
    assert not missing, f"minhash LSH missed exact duplicates: {missing}"


def test_simhash_zero_distance_on_exact_duplicates(spark, docs):
    from ocr_wrapper_spark.operators.dedup import simhash_near_pairs

    exact = exact_dup_pairs(spark, docs)
    near = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(docs).collect()}
    for pair in exact:
        assert near.get(pair) == 0, f"simhash should report distance 0 for {pair}"


def test_jaccard_one_on_exact_duplicates(spark, docs):
    from ocr_wrapper_spark.operators.dedup import ngram_jaccard_pairs

    exact = exact_dup_pairs(spark, docs)
    jac = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs).collect()}
    for pair in exact:
        assert jac.get(pair) == pytest.approx(1.0)


def test_lsh_ann_recall_vs_bruteforce(spark):
    from ocr_wrapper_spark.operators.similarity import cosine_topk_bruteforce, cosine_topk_lsh

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_bruteforce(e, queries, k=5).select("query_id", "vec_id").collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_lsh(e, queries, k=5).select("query_id", "vec_id").collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall:.2f}"


def test_quality_scores_match_python(spark, docs):
    from ocr_wrapper_spark.operators.textstats import STOPWORDS_EN, quality_score_cols

    rows = (
        docs.select("doc_id", "text", *quality_score_cols(F.col("text")))
        .orderBy("doc_id")
        .limit(50)
        .collect()
    )
    for r in rows:
        toks = r.text.split(" ") if r.text else []
        assert r.n_tokens == len(toks)
        if toks:
            ink = sum(len(t) for t in toks)
            assert r.mean_word_len == pytest.approx(round(ink / len(toks), 4))
            stop = sum(1 for t in toks if t in STOPWORDS_EN)
            assert r.stopword_ratio == pytest.approx(round(stop / len(toks), 4))


def test_fingerprint_stable_and_dedup_consistent(spark, docs):
    from ocr_wrapper_spark.text_queries import fp_md5_col

    fp = docs.select("doc_id", "text", fp_md5_col(F.col("text")).alias("fp"))
    # same text -> same fingerprint; distinct fingerprints == distinct texts
    n_texts = docs.select("text").distinct().count()
    n_fp = fp.select("fp").distinct().count()
    assert n_fp == n_texts


def test_connected_components_clusters(spark):
    from ocr_wrapper_spark.operators.components import connected_components

    # two triangles + a chain + a singleton edge
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (20, 21), (30, 31), (31, 32), (32, 33)],
        "id_a long, id_b long",
    )
    comps = {r.node: r.component for r in connected_components(pairs).collect()}
    assert comps[1] == comps[2] == comps[3] == 1
    assert comps[10] == comps[11] == comps[12] == 10
    assert comps[20] == comps[21] == 20
    assert comps[30] == comps[33] == 30


def test_lsh_bucket_cap_prevents_quadratic_blowup(spark):
    """A corpus of boilerplate-identical docs puts every doc in one bucket
    per band; the frequency cap must drop those buckets (no quadratic
    candidate set) and the monitoring twin must report them."""
    from ocr_wrapper_spark.operators.dedup import (
        N_BANDS,
        lsh_candidate_pairs,
        lsh_dropped_buckets,
        simhash_near_pairs,
    )

    n = 1200  # > MAX_BUCKET
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("the same boilerplate page text").alias("text")
    )
    assert lsh_candidate_pairs(docs).count() == 0
    dropped = lsh_dropped_buckets(docs).collect()
    assert len(dropped) == N_BANDS
    assert all(r.bucket_size == n for r in dropped)
    assert simhash_near_pairs(docs).count() == 0
    # under the cap the same corpus yields all pairs
    small = docs.filter(F.col("doc_id") < 10)
    assert lsh_candidate_pairs(small).count() == 10 * 9 // 2


def test_ngram_max_df_bounds_hot_shingle_fanout(spark):
    """A boilerplate shingle shared by every doc would make the shingle
    self-join quadratic; with max_df the hot shingle is cut from both
    the intersection and the set sizes, so only genuinely-similar pairs
    survive — and the per-shingle join fanout stays bounded."""
    from ocr_wrapper_spark.operators.dedup import SHINGLE_K, ngram_jaccard_pairs

    boiler = " ".join(f"w{i}" for i in range(SHINGLE_K))  # one shared shingle
    n = 400
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(boiler + " "),
            F.concat_ws(" ", F.lit("u"), F.col("id").cast("string")),
        ).alias("text"),
    )
    # every doc shares the boiler shingle -> uncapped join emits a row
    # per doc pair at least once: O(n^2) = 79800 intersection rows
    capped = ngram_jaccard_pairs(docs, threshold=0.0, max_df=10)
    rows = capped.collect()
    # the only shared shingle is over the cap, so no pair survives
    assert rows == []
    # two real near-dups that share DISCRIMINATIVE shingles still pair up
    dup_text = "alpha beta gamma delta epsilon zeta eta theta"
    docs2 = docs.union(
        spark.createDataFrame(
            [(9001, dup_text), (9002, dup_text)], "doc_id long, text string"
        )
    )
    pairs = ngram_jaccard_pairs(docs2, threshold=0.8, max_df=10).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in pairs] == [(9001, 9002, 1.0)]


def test_cosine_near_pairs_strategies_match(spark):
    """The LSH candidate path (no driver collect) must agree with the
    broadcast-matmul path; recall for true near-dups (cosine >= 0.99) is
    ~1 by construction of the 8-band signature."""
    from ocr_wrapper_spark.operators.similarity import cosine_near_pairs

    base = spark.read.parquet(f"{SF}/embeddings.parquet")
    # deterministic near-dup clones: vec_id+10000 copies of the first 15
    # vectors with one component nudged (cosine ~0.999)
    clones = base.filter(F.col("vec_id") < 15).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(
            F.slice("embedding", 1, 63),
            F.array(F.element_at("embedding", 64) + F.lit(0.01)),
        ).alias("embedding"),
        "label",
    )
    corpus = base.unionByName(clones)
    bc = {(r.id_a, r.id_b): r.cosine
          for r in cosine_near_pairs(corpus, threshold=0.95, strategy="broadcast").collect()}
    ls = {(r.id_a, r.id_b): r.cosine
          for r in cosine_near_pairs(corpus, threshold=0.95, strategy="lsh").collect()}
    assert bc, "fixture should contain near-duplicate embeddings"
    assert set(ls) <= set(bc)
    # verified scores identical where both found the pair
    assert all(abs(bc[k] - ls[k]) < 1e-9 for k in ls)
    missed_high = {k for k, v in bc.items() if v >= 0.99} - set(ls)
    assert not missed_high, f"LSH path missed high-confidence near-dups: {missed_high}"


def test_cosine_near_pairs_auto_gate(spark):
    """auto picks lsh above the broadcast limit and broadcast below; a
    forced broadcast above the limit raises instead of collecting."""
    import pytest as _pytest

    from ocr_wrapper_spark.operators.similarity import cosine_near_pairs

    corpus = spark.read.parquet(f"{SF}/embeddings.parquet")
    small = cosine_near_pairs(corpus, threshold=0.999, strategy="auto", broadcast_limit=10_000)
    big = cosine_near_pairs(corpus, threshold=0.999, strategy="auto", broadcast_limit=10)
    assert {tuple(r) for r in small.collect()} >= set()
    big.collect()  # must run the lsh path without error
    with _pytest.raises(ValueError, match="broadcast_limit"):
        cosine_near_pairs(corpus, strategy="broadcast", broadcast_limit=10)


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with 16 seeded centroids and 2 probes should recover most of
    the exact top-5 (approximate by design; recall here is deterministic
    given the fixed seeds/data)."""
    from ocr_wrapper_spark.operators.similarity import cosine_topk_bruteforce, ivf_topk_cosine

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.vec_id) for r in cosine_topk_bruteforce(e, queries, k=5).collect()}
    ivf = {(r.query_id, r.vec_id) for r in ivf_topk_cosine(e, queries, k=5).collect()}
    assert len(ivf) == len(exact)
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # every query answers itself (the query vector is in the corpus and
    # always lands in a probed cluster)
    assert all((q, q) in ivf for q, _ in ivf)


def test_lloyd_refine_moves_centroids_to_cluster_means(spark):
    """Three well-separated blobs, three seeds (one per blob): a Lloyd
    iteration must land each centroid on its blob's 1e-6-rounded mean."""
    import numpy as np
    from ocr_wrapper_spark.operators import similarity as sim

    rng = np.random.RandomState(3)
    centers = np.array([[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]])
    pts = np.vstack([c + rng.standard_normal((20, 4)) * 0.1 for c in centers])
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(pts)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # seeds = first vector of each blob (vec_id 0, 20, 40)
    C = np.asarray(pts[[0, 20, 40]], dtype=np.float32).astype(np.float64)
    refined = sim.lloyd_refine(df, C, n_iter=1)
    V32 = pts.astype(np.float32).astype(np.float64)
    expected = np.vstack(
        [np.round(V32[b * 20 : (b + 1) * 20].mean(axis=0), sim.MEAN_ROUND) for b in range(3)]
    )
    assert np.allclose(refined, expected, atol=1e-9)


def test_lloyd_refine_partitioning_invariant(spark):
    """The 1e-6 mean rounding makes the refined centroids identical
    regardless of how the corpus is partitioned (local[8] vs local[32]
    determinism — the scaling-evidence invariant)."""
    import numpy as np
    from ocr_wrapper_spark.operators import similarity as sim

    rng = np.random.RandomState(11)
    pts = rng.standard_normal((120, 8))
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(pts)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    C = np.asarray(pts[:4], dtype=np.float32).astype(np.float64)
    a = sim.lloyd_refine(df.repartition(2), C, n_iter=2)
    b = sim.lloyd_refine(df.repartition(13), C, n_iter=2)
    assert np.array_equal(a, b)


def test_lloyd_refine_empty_cluster_keeps_seed(spark):
    """A seed far from every point attracts nothing and must survive
    the iteration unchanged (the oracle's LEFT JOIN coalesce branch)."""
    import numpy as np
    from ocr_wrapper_spark.operators import similarity as sim

    pts = np.array([[1.0, 0.0], [0.9, 0.1], [1.0, 0.1]])
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(pts)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    C = np.array([[1.0, 0.0], [-1.0, 0.0]])  # second seed opposite the data
    refined = sim.lloyd_refine(df, C, n_iter=1)
    assert np.array_equal(refined[1], C[1])


def test_repetition_filter_cuts_repeated_phrase(spark):
    """Hand-computed Gopher repetition stats: a doc dominated by one
    repeated bigram is cut, a diverse doc is kept, empty/one-word docs
    hit the no-ngram branches without degenerate sequence()."""
    from ocr_wrapper_spark.operators.textstats import with_repetition_stats

    rows = [
        (0, "click here " * 10 + "end"),        # 21 words, bigram 'click here' x10
        (1, "alpha bravo charlie delta echo"),  # all distinct
        (2, ""),                                # empty
        (3, "solo"),                            # one word: no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_repetition_stats(df).collect()}
    r0 = out[0]
    assert r0["n_words"] == 21
    assert abs(r0["top_bigram_frac"] - round(10 * 2 / 21, 6)) < 1e-9
    assert abs(r0["dup_word_frac"] - round(1 - 3 / 21, 6)) < 1e-9
    assert not r0["keep"]
    r1 = out[1]
    assert r1["dup_word_frac"] == 0.0 and r1["keep"]
    assert out[2]["n_words"] == 0 and out[2]["keep"]
    r3 = out[3]
    assert r3["n_words"] == 1 and r3["top_word_frac"] == 1.0 and r3["top_bigram_frac"] == 0.0


def test_pii_redaction_patterns_and_order(spark):
    """Email is redacted before the IP/phone passes so its digit-dot
    fragments are never double-counted; multiple matches per doc all
    replaced; clean text untouched."""
    from ocr_wrapper_spark.functions.redact import with_pii_redaction

    rows = [
        (0, "mail a.b+c@x-1.org and d@e.io now"),
        (1, "host 192.168.0.1 peer 10.0.0.255"),
        (2, "call +4312345678 or +15551234567"),
        (3, "nothing sensitive here 1.2 only"),
        (4, "mixed u@v.com at 8.8.8.8 dial +1234567"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_pii_redaction(df).collect()}
    assert out[0]["redacted_text"] == "mail <EMAIL> and <EMAIL> now"
    assert out[0]["n_emails"] == 2 and out[0]["n_ips"] == 0 and out[0]["n_phones"] == 0
    assert out[1]["redacted_text"] == "host <IP> peer <IP>" and out[1]["n_ips"] == 2
    assert out[2]["redacted_text"] == "call <PHONE> or <PHONE>" and out[2]["n_phones"] == 2
    assert out[3]["redacted_text"] == rows[3][1]
    assert (out[3]["n_emails"], out[3]["n_ips"], out[3]["n_phones"]) == (0, 0, 0)
    assert out[4]["redacted_text"] == "mixed <EMAIL> at <IP> dial <PHONE>"


def test_canonical_url_rules(spark):
    """Each canonicalization rule on a hand-built fixture: case, userinfo,
    default vs explicit port, empty path, param sort, tracking cut,
    fragment drop."""
    from ocr_wrapper_spark.functions.urls import with_canonical_url

    rows = [
        (0, "HTTP://WWW.Ex.COM:80"),                       # -> http://ex.com/
        (1, "https://u:p@Ex.com:443/a/b?z=1&a=2#frag"),    # userinfo+443+sort+frag
        (2, "http://ex.com:8080/x"),                        # non-default port kept
        (3, "http://ex.com/x?utm_source=a&utm_medium=b"),   # all tracking -> no query
        (4, "http://ex.com/x?ref&b=1"),                     # bare tracking param cut
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: r["canonical_url"] for r in with_canonical_url(df).collect()}
    assert out[0] == "http://ex.com/"
    assert out[1] == "https://ex.com/a/b?a=2&z=1"
    assert out[2] == "http://ex.com:8080/x"
    assert out[3] == "http://ex.com/x"
    assert out[4] == "http://ex.com/x?b=1"


def test_stratified_sample_epochs_and_determinism(spark):
    """rate >= 1 repeats docs floor(rate) times (+ fractional epoch),
    rate < 1 Bernoulli-downsamples, rate 0 drops the stratum; identical
    output regardless of partitioning (narrow, hash-deterministic)."""
    from ocr_wrapper_spark.operators.sampling import stratified_sample

    rows = [(i, "a" if i < 40 else ("b" if i < 80 else "c")) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {"a": 2.0, "b": 0.5, "c": 0.0}
    out = stratified_sample(df, rates).collect()
    per = {}
    for r in out:
        per.setdefault(r["source"], []).append(r)
    # exactly 2 epochs for every 'a' doc
    assert len(per["a"]) == 80 and {r["epoch"] for r in per["a"]} == {1, 2}
    # 'b' downsampled strictly between 0 and all
    assert 0 < len(per.get("b", [])) < 40
    assert "c" not in per
    # partition invariance
    a = sorted((r["doc_id"], r["epoch"]) for r in out)
    b = sorted(
        (r["doc_id"], r["epoch"])
        for r in stratified_sample(df.repartition(7), rates).collect()
    )
    assert a == b


def test_int8_topk_recall_vs_bruteforce(spark):
    """1/127 quantization at dim 64 barely perturbs cosines: top-5 recall
    vs the exact float path stays high, and quantized codes are in
    [-127, 127]."""
    import numpy as np
    from ocr_wrapper_spark.operators import similarity as sim

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = sim.cosine_topk_bruteforce(e, q, k=5).collect()
    quant = sim.cosine_topk_int8(e, q, k=5).collect()
    a = {(r["query_id"], r["vec_id"]) for r in exact}
    b = {(r["query_id"], r["vec_id"]) for r in quant}
    assert len(a & b) / len(a) >= 0.9
    V = np.array([[0.5, -1.0, 0.25, 0.0]])
    codes = sim._quantize_i8(V)
    assert codes.tolist() == [[64, -127, 32, 0]]


def test_dup_span_coverage_marks_shared_windows(spark):
    """Two docs sharing an 8-gram get exactly those positions covered;
    a unique doc stays at 0; per-doc repeats of a window do NOT count
    (duplication is across documents)."""
    from ocr_wrapper_spark.operators.textstats import with_dup_span_coverage

    shared = "a b c d e f g h"  # one 8-gram
    rows = [
        (0, shared + " x1 y1 z1 w1"),     # 12 tokens, 8 covered
        (1, shared + " x2 y2 z2 w2"),     # 12 tokens, 8 covered
        (2, "p q r s t u v w"),           # unique 8 tokens
        (3, "m n o p q r s m n o p q r s"),  # repeats inside one doc only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_dup_span_coverage(df).collect()}
    assert abs(out[0]["dup_span_frac"] - round(8 / 12, 6)) < 1e-9
    assert abs(out[1]["dup_span_frac"] - round(8 / 12, 6)) < 1e-9
    assert out[2]["dup_span_frac"] == 0.0 and out[2]["keep"]
    assert out[3]["dup_span_frac"] == 0.0
    assert not out[0]["keep"]


def test_knuth_u_overflow_safe_and_equivalent(spark):
    """knuth_u must not overflow int64 under ANSI mode for full-range ids
    (the naive (id*K) % 2^32 throws at id >= ~3.47e9) and must equal the
    mathematical (id mod 2^32)*K mod 2^32 everywhere."""
    from ocr_wrapper_spark.operators.sampling import knuth_u

    ids = [0, 1, 4999, 26510, 3474661807, 4294967295, 2**40 + 123, 2**62]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r["u"] for r in df.select("doc_id", knuth_u(F.col("doc_id")).alias("u")).collect()}
    for i in ids:
        expect = ((i % 2**32) * 2654435761 % 2**32) / 2**32
        assert got[i] == expect, i


def test_int8_zero_vector_quantizes_to_zero_codes(spark):
    """(Near-)zero embeddings get all-zero codes and cosine 0 — no NaN,
    matching the oracle's m < eps branch."""
    import numpy as np
    from ocr_wrapper_spark.operators import similarity as sim

    codes = sim._quantize_i8(np.array([[0.0, 0.0], [1.0, -0.5]]))
    assert codes.tolist() == [[0, 0], [127, -63]]  # floor(-63.5 + 0.5) = -63
    rows = [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") == 1).select(F.col("vec_id").alias("query_id"), "embedding")
    out = sim.cosine_topk_int8(df, q, k=3).collect()
    by_vec = {r["vec_id"]: r["cosine"] for r in out}
    assert by_vec[0] == 0.0 and by_vec[1] == 1.0


def test_canonical_url_fragment_question_mark(spark):
    """A '?' inside the fragment is fragment text, not a query: both
    variants canonicalize to the fragment-free form (review finding)."""
    from ocr_wrapper_spark.functions.urls import with_canonical_url

    rows = [(0, "http://ex.com/p#sec?x=1"), (1, "http://ex.com/p")]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: r["canonical_url"] for r in with_canonical_url(df).collect()}
    assert out[0] == "http://ex.com/p" == out[1]


def test_canonical_url_schemeless_passthrough(spark):
    """Relative refs / junk frontier rows have no scheme: they pass
    through unchanged instead of collapsing to '://...'."""
    from ocr_wrapper_spark.functions.urls import with_canonical_url

    rows = [(0, "/relative/path?b=1"), (1, "not a url at all"), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: r["canonical_url"] for r in with_canonical_url(df).collect()}
    assert out[0] == "/relative/path?b=1"
    assert out[1] == "not a url at all"
    assert out[2] == ""
