"""Session-12 additions: PQ ANN, contrastive hard negatives,
label-centroid outliers, and content-defined-chunk dedup — planted-
corpus semantics plus independent python replicas."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


def _write_embeddings(tmp_path, ids, vecs, labels):
    pdf = pd.DataFrame(
        {
            "vec_id": np.asarray(ids, dtype=np.int64),
            "embedding": [np.asarray(v, dtype=np.float32) for v in vecs],
            "label": np.asarray(labels, dtype=np.int32),
        }
    )
    pdf.to_parquet(tmp_path / "embeddings.parquet")
    return str(tmp_path)


def _unit_rows(rng, n, dim):
    V = rng.standard_normal((n, dim))
    return V / np.linalg.norm(V, axis=1, keepdims=True)


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


def test_pq_seed_vectors_code_to_themselves(spark, tmp_path):
    """A codebook seed's subvectors are L2-distance-0 from their own
    codewords, so every seed encodes to its own id in every subspace."""
    from ocr_wrapper_spark.operators import similarity

    rng = np.random.default_rng(7)
    V = _unit_rows(rng, 24, 64)
    sf_dir = _write_embeddings(tmp_path, range(24), V, [0] * 24)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    C = similarity.pq_codebook(e)
    codes = similarity.pq_encode_batch(
        V[: similarity.PQ_K].astype(np.float64).reshape(similarity.PQ_K, similarity.PQ_M, -1), C
    )
    for j in range(similarity.PQ_K):
        assert (codes[j] == j).all(), f"seed {j} did not code to itself: {codes[j]}"


def test_pq_adc_is_reconstruction_dot(spark, tmp_path):
    """ADC score == dot(query, PQ reconstruction of the candidate) up to
    the per-subspace 1e-6 LUT grain — checked against an independently
    assembled reconstruction, not the LUT arithmetic itself."""
    from ocr_wrapper_spark.operators import similarity

    rng = np.random.default_rng(11)
    V = _unit_rows(rng, 30, 64)
    sf_dir = _write_embeddings(tmp_path, range(30), V, [0] * 30)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter("vec_id % 100 = 0").selectExpr("vec_id AS query_id", "embedding")
    rows = similarity.pq_topk_adc(e, queries, k=30).collect()
    assert len(rows) == 30

    V64 = V.astype(np.float64)
    C = similarity.pq_codebook(e)
    m_sub, _, ds = C.shape
    codes = similarity.pq_encode_batch(V64.reshape(30, m_sub, ds), C)
    q = np.asarray(
        e.filter("vec_id = 0").collect()[0]["embedding"], dtype=np.float64
    )
    for r in rows:
        recon = np.concatenate([C[m, codes[r.vec_id, m]] for m in range(m_sub)])
        assert abs(r.adc_micros / 1e6 - float(q @ recon)) <= m_sub * 1e-6


def test_pq_topk_matches_python_replica(spark, tmp_path):
    """Full-path replica with per-pair scalar loops (no shared einsum
    code): codes by rounded L2-argmax with lowest-cid ties, integer ADC
    sum, (adc desc, id asc) ranking."""
    from ocr_wrapper_spark.operators import similarity

    rng = np.random.default_rng(23)
    n = 40
    V = _unit_rows(rng, n, 64).astype(np.float64)
    sf_dir = _write_embeddings(tmp_path, range(n), V, [0] * n)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter("vec_id % 100 = 0").selectExpr("vec_id AS query_id", "embedding")
    got = {
        (r.query_id, r.rank): (r.vec_id, r.adc_micros)
        for r in similarity.pq_topk_adc(e, queries, k=5).collect()
    }

    # float32 storage grain, as both engines read it back
    V32 = V.astype(np.float32).astype(np.float64)
    m_sub, k_cw = similarity.PQ_M, similarity.PQ_K
    ds = 64 // m_sub
    seeds = V32[:k_cw]

    def sub(v, m):
        return v[m * ds : (m + 1) * ds]

    codes = np.zeros((n, m_sub), dtype=int)
    for i in range(n):
        for m in range(m_sub):
            best = None
            for cid in range(k_cw):
                c = sub(seeds[cid], m)
                s = round(2 * float(np.dot(sub(V32[i], m), c)) - float(np.dot(c, c)), 6)
                if best is None or s > best[0] or (s == best[0] and cid < best[1]):
                    best = (s, cid)
            codes[i, m] = best[1]
    q = V32[0]
    scored = []
    for i in range(n):
        adc = 0
        for m in range(m_sub):
            c = sub(seeds[codes[i, m]], m)
            adc += int(np.rint(round(float(np.dot(sub(q, m), c)), 6) * 1e6))
        scored.append((i, adc))
    scored.sort(key=lambda t: (-t[1], t[0]))
    for rank, (vid, adc) in enumerate(scored[:5], start=1):
        assert got[(0, rank)] == (vid, adc)


# ---------------------------------------------------------------------------
# hard negatives
# ---------------------------------------------------------------------------


def test_hard_negatives_exclude_query_label_and_rank_planted(spark, tmp_path):
    """The planted same-direction/other-label vector ranks 1 with cosine
    1.0; no emitted negative carries the query's label; ranks are
    contiguous."""
    from ocr_wrapper_spark.embedding_queries import embedding_hard_negatives

    rng = np.random.default_rng(3)
    base = _unit_rows(rng, 1, 64)[0]
    vecs = [base]  # vec_id 0: the query, label 0
    labels = [0]
    vecs.append(base)  # vec_id 1: identical direction, label 1 -> rank 1
    labels.append(1)
    for i in range(2, 12):
        vecs.append(_unit_rows(rng, 1, 64)[0])
        labels.append(i % 2)
    sf_dir = _write_embeddings(tmp_path, range(12), vecs, labels)

    rows = embedding_hard_negatives(spark, sf_dir).collect()
    mine = sorted([r for r in rows if r.query_id == 0], key=lambda r: r.rank)
    assert [r.rank for r in mine] == list(range(1, len(mine) + 1))
    assert all(r.neg_label != r.query_label for r in mine)
    assert mine[0].vec_id == 1 and mine[0].cosine == 1.0
    # label-0 corpus vectors (including the query itself) never appear
    assert {r.vec_id for r in mine}.isdisjoint({i for i in range(12) if i % 2 == 0 and i != 1})


def test_hard_negatives_partial_topk_is_exact_across_partitions(spark, tmp_path):
    """Batch-local top-k union must contain the global top-k, for every
    operator on the shared scan: force many small partitions and compare
    against a single-partition run. Eight identical other-label vectors
    tie at the k boundary, so the tie-break by vec_id has to hold across
    batches."""
    from ocr_wrapper_spark.operators import similarity as sim

    rng = np.random.default_rng(5)
    n = 60
    V = _unit_rows(rng, n, 64)
    tied = [20, 22, 23, 25, 26, 28, 29, 31]  # labels 1 and 2; the query's is 0
    V[tied] = 0.8 * V[0] + 0.6 * _unit_rows(rng, 1, 64)[0]
    labels = [i % 3 for i in range(n)]
    sf_dir = _write_embeddings(tmp_path, range(n), V, labels)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter("vec_id = 0").selectExpr("vec_id AS query_id", "embedding", "label")

    for op, score, first in [
        (sim.hard_negative_topk, "cosine", tied[:5]),
        (sim.cosine_topk_bruteforce, "cosine", [0] + tied[:4]),
        (sim.cosine_topk_int8, "cosine", [0] + tied[:4]),
        (sim.pq_topk_adc, "adc_micros", None),
    ]:
        wide = {
            (r.query_id, r.rank): (r.vec_id, r[score])
            for r in op(e.repartition(16), q, k=5).collect()
        }
        narrow = {
            (r.query_id, r.rank): (r.vec_id, r[score])
            for r in op(e.coalesce(1), q, k=5).collect()
        }
        assert wide == narrow and len(wide) == 5, op.__name__
        if first is not None:
            assert [wide[(0, rk)][0] for rk in range(1, 6)] == first, op.__name__


def test_zero_norm_corpus_vector_ranks_like_the_full_matrix_window(spark, tmp_path):
    """A zero-norm corpus vector's cosine is NaN, which leaves the scan
    as NULL and ranks after every value. Each operator's result must
    equal the _topk window over its full score matrix: a batch-local
    top-k that ranked the NaN first would spend one of its k rows on it
    and lose the k-th neighbor."""
    from ocr_wrapper_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    n, k = 40, 5
    V = _unit_rows(rng, n, 64)
    V[20] = 0.0  # label 2; past the PQ_K codebook seeds
    labels = np.asarray([i % 3 for i in range(n)])
    sf_dir = _write_embeddings(tmp_path, range(n), V, labels)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").coalesce(1)
    q = e.filter("vec_id % 10 = 1").selectExpr("vec_id AS query_id", "embedding", "label")
    q_ids = np.arange(1, n, 10)

    Vf = V.astype(np.float32).astype(np.float64)  # the stored values
    with np.errstate(invalid="ignore"):
        Vn = Vf / np.linalg.norm(Vf, axis=1, keepdims=True)
    cos = np.round(Vn @ Vn[q_ids].T, 4)
    C8 = sim._quantize_i8(Vf).astype(np.int64)
    norm8 = np.sqrt((C8 * C8).sum(axis=1).astype(np.float64))
    cos8 = np.round(
        (C8 @ C8[q_ids].T) / np.maximum(norm8[:, None] * norm8[q_ids][None, :], sim.ZERO_NORM_EPS), 6
    )
    book = sim.pq_codebook(e)
    codes = sim.pq_encode_batch(Vf.reshape(n, sim.PQ_M, -1), book)
    lut = sim.pq_query_lut(Vf[q_ids], book)
    adc = lut[:, np.arange(sim.PQ_M), codes].sum(axis=2).T

    def window(S, score, dtype, same_label_out=False):
        rows = [
            (int(q_ids[j]), int(i), None if S[i, j] != S[i, j] else dtype(S[i, j]))
            for i in range(n)
            for j in range(len(q_ids))
            if not (same_label_out and labels[i] == labels[q_ids[j]])
        ]
        full = spark.createDataFrame(rows, f"query_id long, vec_id long, {score}")
        return sim._topk(full, k, score.split()[0])

    def key(df, score):
        return sorted((r.query_id, r.rank, r.vec_id, r[score]) for r in df.collect())

    for got, want, score in [
        (sim.cosine_topk_bruteforce(e, q, k=k), window(cos, "cosine double", float), "cosine"),
        (sim.hard_negative_topk(e, q, k=k), window(cos, "cosine double", float, True), "cosine"),
        (sim.cosine_topk_int8(e, q, k=k), window(cos8, "cosine double", float), "cosine"),
        (sim.pq_topk_adc(e, q, k=k), window(adc, "adc_micros long", int), "adc_micros"),
    ]:
        assert key(got, score) == key(want, score)
    # ranked over every corpus row, the planted vector comes last, NULL
    last = sim.cosine_topk_bruteforce(e, q, k=n).filter(f"rank = {n}").collect()
    assert {(r.vec_id, r.cosine) for r in last} == {(20, None)}


def test_matrix_reader_raises_on_null_and_ragged_rows():
    """The shared scan's reader turns a list<float> column into one
    float64 matrix with identical values, also for a sliced column; a
    null row or rows of unequal length raise instead of being
    realigned."""
    import pyarrow as pa
    import pytest

    from ocr_wrapper_spark.operators.similarity import _matrix

    t = pa.list_(pa.float32())
    vals = [[0.1, 0.2], [0.3, 0.4], [0.5, 0.6]]
    M = _matrix(pa.array(vals, type=t))
    assert M.dtype == np.float64
    assert (M == np.asarray(vals, dtype=np.float32).astype(np.float64)).all()
    assert (_matrix(pa.array(vals, type=t).slice(1, 2)) == M[1:]).all()
    with pytest.raises(ValueError):
        _matrix(pa.array([[0.1, 0.2], None], type=t))
    with pytest.raises(ValueError):
        _matrix(pa.array([[0.1, 0.2], [0.3]], type=t))
    with pytest.raises(ValueError):  # four values that would reshape to 2 x 2
        _matrix(pa.array([[0.1, 0.2, 0.3], [0.4]], type=t))


# ---------------------------------------------------------------------------
# label-centroid outliers
# ---------------------------------------------------------------------------


def test_label_outliers_flag_planted_inversion(spark, tmp_path):
    """Six near-identical label-0 vectors plus one flipped vector: the
    flipped one is the label's rank-1 outlier (cosine to centroid < 0)."""
    from ocr_wrapper_spark.embedding_queries import embedding_label_outliers

    rng = np.random.default_rng(9)
    base = _unit_rows(rng, 1, 64)[0]
    vecs, labels = [], []
    for i in range(6):
        v = base + 0.01 * rng.standard_normal(64)
        vecs.append(v / np.linalg.norm(v))
        labels.append(0)
    vecs.append(-base)
    labels.append(0)
    for i in range(5):  # a second label so the join/window have >1 group
        v = rng.standard_normal(64)
        vecs.append(v / np.linalg.norm(v))
        labels.append(1)
    sf_dir = _write_embeddings(tmp_path, range(len(vecs)), vecs, labels)

    rows = embedding_label_outliers(spark, sf_dir).collect()
    lab0 = sorted([r for r in rows if r.label == 0], key=lambda r: r.rank)
    assert lab0[0].vec_id == 6 and lab0[0].cosine < 0
    cosines = [r.cosine for r in lab0]
    assert cosines == sorted(cosines)


# ---------------------------------------------------------------------------
# content-defined chunking
# ---------------------------------------------------------------------------


def _cdc_replica(text: str, w: int, p: int) -> list[str]:
    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    cuts = [i for i in range(w, len(text) + 1) if h(text[i - w : i]) % p == 0]
    b = [0] + cuts + [len(text)]
    return [text[b[j] : b[j + 1]] for j in range(len(b) - 1) if b[j + 1] > b[j]]


def _write_docs(tmp_path, rows):
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "test"
    pdf["n_chars"] = pdf["text"].str.len()
    pdf.to_parquet(tmp_path / "documents.parquet")
    return str(tmp_path)


def test_cdc_chunks_reassemble_and_match_replica(spark, tmp_path):
    """Replica invariants: chunks partition the text exactly; the
    registered query's shared-fingerprint rows equal the replica's
    aggregation over a corpus with a planted repeated passage."""
    from ocr_wrapper_spark.curation_queries import CDC_P, CDC_W, cdc_chunk_dedup

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, f"intro one {shared} outro alpha"),
        (2, f"different preamble {shared} and a different tail"),
        (3, "no overlap here at all, entirely distinct content"),
        (4, "tiny"),  # shorter than CDC_W -> single whole-text chunk
        (5, ""),  # empty doc -> zero chunks
    ]
    sf_dir = _write_docs(tmp_path, docs)

    agg: dict[str, list] = {}
    for doc_id, text in docs:
        chunks = _cdc_replica(text, CDC_W, CDC_P)
        assert "".join(chunks) == text
        for c in chunks:
            fp = hashlib.md5(c.encode()).hexdigest()
            agg.setdefault(fp, [set(), 0, len(c)])
            agg[fp][0].add(doc_id)
            agg[fp][1] += 1
    expected = {
        fp: (len(d), occ, ln) for fp, (d, occ, ln) in agg.items() if len(d) >= 2
    }
    assert expected, "planted passage produced no shared chunks — tune CDC_P"

    rows = cdc_chunk_dedup(spark, sf_dir).collect()
    got = {r.fp: (r.n_docs, r.n_occurrences, r.chunk_len) for r in rows}
    assert got == expected


def test_cdc_boundaries_are_content_local(spark, tmp_path):
    """The CDC property fixed-size chunking lacks: prepending a byte to
    a document shifts every fixed offset but leaves the chunk set of the
    unchanged suffix mostly identical (boundaries depend only on the
    local gram)."""
    from ocr_wrapper_spark.curation_queries import CDC_P, CDC_W

    rng = np.random.default_rng(41)
    body = "".join(rng.choice(list("abcdefgh ")) for _ in range(400))
    a = _cdc_replica(body, CDC_W, CDC_P)
    b = _cdc_replica("X" + body, CDC_W, CDC_P)
    shared = set(a) & set(b)
    # everything after the first boundary of `a` realigns
    assert len(shared) >= len(a) - 2 >= 3


def test_pq_recall_eval_consistent_with_rankings(spark, tmp_path):
    """The eval's n_hits/top1_hit equal a direct intersection of the two
    registered rankings it grades; recall_ppm is the exact ppm of
    n_hits/TOPK."""
    from ocr_wrapper_spark.embedding_queries import (
        TOPK,
        ann_pq_recall_eval,
        ann_topk_pq,
    )
    from ocr_wrapper_spark.operators.similarity import cosine_topk_bruteforce

    rng = np.random.default_rng(31)
    n = 120  # > 100 so two query vectors (0 and 100) exercise the grouping
    V = _unit_rows(rng, n, 64)
    sf_dir = _write_embeddings(tmp_path, range(n), V, [0] * n)

    rows = {r.query_id: r for r in ann_pq_recall_eval(spark, sf_dir).collect()}
    assert set(rows) == {0, 100}

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter("vec_id % 100 = 0").selectExpr("vec_id AS query_id", "embedding")
    truth = {
        (r.query_id, r.vec_id): r.rank
        for r in cosine_topk_bruteforce(e, q, k=TOPK).collect()
    }
    pq = {(r.query_id, r.vec_id) for r in ann_topk_pq(spark, sf_dir).collect()}
    for qid, r in rows.items():
        hits = {p for p in truth if p[0] == qid} & pq
        assert r.n_hits == len(hits)
        assert r.recall_ppm == len(hits) * 1_000_000 // TOPK
        top1 = next(p for p, rk in truth.items() if p[0] == qid and rk == 1)
        assert r.top1_hit == (top1 in pq)
        assert 0 <= r.n_hits <= TOPK
