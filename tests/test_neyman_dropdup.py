"""Neyman allocation and built-in watermark dedup: python replica,
planted variance split, exact-isqrt spot checks, and a planted
late-duplicate stream."""

from __future__ import annotations

import math

import pandas as pd

from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# Neyman-optimal stratified allocation
# ---------------------------------------------------------------------------


def _neyman_replica(rows):
    from ocr_wrapper_spark.curation_queries import NEYMAN_DIV

    strata: dict[tuple, list[int]] = {}
    for source, lang, text in rows:
        n = 0 if text == "" else len(text.split(" "))
        strata.setdefault((source, lang), []).append(n)
    stats = {}
    for key, xs in strata.items():
        n_docs = len(xs)
        s1 = sum(xs)
        s2 = sum(x * x for x in xs)
        t = n_docs * s2 - s1 * s1
        stats[key] = (n_docs, s1, math.isqrt(t))
    wsum = sum(w for _, _, w in stats.values()) or 1
    budget = sum(n for n, _, _ in stats.values()) // NEYMAN_DIV
    base = {k: budget * w // wsum for k, (_, _, w) in stats.items()}
    frac = {k: budget * w % wsum for k, (_, _, w) in stats.items()}
    # all-zero weights: nothing to apportion by, so no leftover seats
    leftover = budget - sum(base.values()) if any(w for _, _, w in stats.values()) else 0
    ranked = sorted(stats, key=lambda k: (-frac[k], k))
    out = {}
    for i, k in enumerate(ranked):
        alloc = base[k] + (1 if i < leftover else 0)
        n_docs, s1, w = stats[k]
        out[k] = (n_docs, s1, w, alloc, min(alloc, n_docs))
    return out


def test_neyman_python_replica_smoke(spark):
    from ocr_wrapper_spark.curation_queries import neyman_sample_alloc

    docs = pd.read_parquet(
        f"{SF_SMOKE}/documents.parquet", columns=["source", "lang", "text"]
    )
    expect = _neyman_replica(
        [(r.source, r.lang, r.text) for r in docs.itertuples()]
    )
    rows = neyman_sample_alloc(spark, SF_SMOKE).collect()
    got = {
        (r.source, r.lang): (r.n_docs, r.tokens, r.weight, r.alloc_docs, r.alloc_capped)
        for r in rows
    }
    assert got == expect
    # the Hamilton-method invariant: allocations sum to EXACTLY budget
    from ocr_wrapper_spark.curation_queries import NEYMAN_DIV

    assert sum(r.alloc_docs for r in rows) == len(docs) // NEYMAN_DIV


def test_neyman_budget_follows_variance(spark, tmp_path):
    """Two equal-size strata, one high-variance one constant: pure
    Neyman sends the WHOLE budget to the noisy stratum (the
    size-proportional apportionment would split it evenly — the
    difference this query exists to express)."""
    from ocr_wrapper_spark.curation_queries import neyman_sample_alloc

    rows = []
    for i in range(50):  # noisy: alternating 1-token / 99-token docs
        rows.append((i, "w " * (98 if i % 2 else 0) + "w", "en", "noisy"))
    for i in range(50, 100):  # constant: every doc 50 tokens
        rows.append((i, " ".join(["w"] * 50), "en", "flat"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    pdf.to_parquet(tmp_path / "documents.parquet")
    got = {r.source: r for r in neyman_sample_alloc(spark, str(tmp_path)).collect()}
    assert got["flat"].weight == 0 and got["flat"].alloc_docs == 0
    assert got["noisy"].alloc_docs == 10  # the full 100//10 budget
    # weight = isqrt(N*sum(x^2) - sum(x)^2) computed from the plant
    xs = [98 + 1 if i % 2 else 1 for i in range(50)]
    assert got["noisy"].weight == math.isqrt(50 * sum(x * x for x in xs) - sum(xs) ** 2)


def test_neyman_all_zero_variance_allocates_nothing(spark, tmp_path):
    """Every stratum constant: every weight is 0, so there is no weight to
    apportion the budget by, and no stratum gets a seat (none from the
    largest-remainder leftover either)."""
    from ocr_wrapper_spark.curation_queries import neyman_sample_alloc

    rows = [(i, " ".join(["w"] * (5 if i < 40 else 7)), "en", "a" if i < 40 else "b")
            for i in range(100)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    pdf.to_parquet(tmp_path / "documents.parquet")
    got = neyman_sample_alloc(spark, str(tmp_path)).collect()
    assert sorted((r.source, r.weight, r.alloc_docs, r.alloc_capped) for r in got) == [
        ("a", 0, 0, 0), ("b", 0, 0, 0)
    ]
    expect = _neyman_replica([(source, lang, text) for _, text, lang, source in rows])
    assert {(r.source, r.lang): (r.n_docs, r.tokens, r.weight, r.alloc_docs, r.alloc_capped)
            for r in got} == expect


def test_isqrt_expression_exact(spark):
    """The +/-2-corrected double-seeded isqrt matches math.isqrt on
    perfect squares, off-by-ones, and large radicands where the double
    seed actually drifts."""
    from ocr_wrapper_spark.curation_queries import _isqrt_sql

    vals = [0, 1, 2, 3, 4, 8, 9, 10, 2**52 - 1, 2**52, (10**9 + 7) ** 2,
            (10**9 + 7) ** 2 - 1, 2**62 + 11]
    expr = _isqrt_sql("CAST(t AS DECIMAL(38,0))", "CAST(floor(sqrt(CAST(t AS DOUBLE))) AS BIGINT)", "DECIMAL(38,0)")
    df = spark.createDataFrame([(v,) for v in vals], "t long")
    got = [r.s for r in df.selectExpr(f"({expr}) AS s").collect()]
    assert got == [math.isqrt(v) for v in vals]


# ---------------------------------------------------------------------------
# built-in watermark-bounded streaming dedup
# ---------------------------------------------------------------------------


def test_dropdup_emits_each_event_once(spark):
    from ocr_wrapper_spark.pipeline_queries import streaming_dropdup_watermark

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["event_id"])
    rows = streaming_dropdup_watermark(spark, SF_SMOKE).collect()
    assert len(rows) == len(ev)
    assert len({r.event_id for r in rows}) == len(ev)


def test_dropdup_planted_late_twin(spark, tmp_path):
    """Three events, each doubled with a +10 s late twin inside the
    watermark: exactly three rows out, fields intact."""
    from ocr_wrapper_spark.pipeline_queries import streaming_dropdup_watermark

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:05:00", "2024-01-01 00:10:00"]
            ),
            "user_id": [7, 8, 9],
            "event_type": ["view", "click", "view"],
            "value": [1.0, 2.0, 3.0],
            "props": ["{}", "{}", "{}"],
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark rejects NANOS
    pdf.to_parquet(tmp_path / "events.parquet")
    got = sorted(
        (r.event_id, r.user_id, r.event_type)
        for r in streaming_dropdup_watermark(spark, str(tmp_path)).collect()
    )
    assert got == [(1, 7, "view"), (2, 8, "click"), (3, 9, "view")]


# ---------------------------------------------------------------------------
# fuzzy (MinHash) decontamination
# ---------------------------------------------------------------------------


def _write_docs(tmp_path, rows):
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "test"
    pdf["n_chars"] = pdf["text"].str.len()
    pdf.to_parquet(tmp_path / "documents.parquet")
    return str(tmp_path)


def _band_set(text: str):
    from ocr_wrapper_spark.operators.dedup import (
        N_BANDS,
        ROWS_PER_BAND,
        minhash_signature,
    )

    sig = minhash_signature(text)
    return {
        (b, tuple(sig[b * ROWS_PER_BAND : (b + 1) * ROWS_PER_BAND]))
        for b in range(N_BANDS)
    }


def test_fuzzy_decon_catches_paraphrase_not_unrelated(spark, tmp_path):
    """An eval doc that is a light edit of a train doc must surface as
    contamination (their signatures share bands — verified from the
    signature function itself, not assumed); an unrelated train doc
    must not."""
    from ocr_wrapper_spark.text_queries import EVAL_MOD, EVAL_REM, decontaminate_fuzzy

    base = " ".join(f"tok{i}" for i in range(60))
    edited = base.replace("tok59", "changed")  # ~0.97 shingle Jaccard
    other = " ".join(f"zzz{i}" for i in range(60))
    assert 7 % EVAL_MOD == EVAL_REM
    sf = _write_docs(tmp_path, [(1, base), (2, other), (7, edited)])
    assert _band_set(base) & _band_set(edited)  # the plant actually collides
    assert not (_band_set(other) & _band_set(edited))
    got = {r.doc_id: r.n_eval_matches for r in decontaminate_fuzzy(spark, sf).collect()}
    assert got == {1: 1}


def test_fuzzy_decon_replica_smoke(spark):
    """Replica from the signature function over the smoke corpus: the
    banded broadcast join must equal the brute-force band-intersection
    pairs (no bucket tops MAX_BUCKET at smoke scale)."""
    from ocr_wrapper_spark.text_queries import EVAL_MOD, EVAL_REM, decontaminate_fuzzy

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    bands = {int(r.doc_id): _band_set(r.text) for r in docs.itertuples()}
    expect: dict[int, int] = {}
    for t, tb in bands.items():
        if t % EVAL_MOD == EVAL_REM:
            continue
        n = sum(
            1
            for e, eb in bands.items()
            if e % EVAL_MOD == EVAL_REM and (tb & eb)
        )
        if n:
            expect[t] = n
    got = {
        r.doc_id: r.n_eval_matches
        for r in decontaminate_fuzzy(spark, SF_SMOKE).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# Wilson-bound source gate
# ---------------------------------------------------------------------------


def _qc_keep(text: str) -> bool:
    import hashlib

    from ocr_wrapper_spark.text_queries import QC_BUCKETS

    if text == "":
        return True
    score = 0
    for t in text.split(" "):
        bucket = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % QC_BUCKETS
        u = ((bucket % 2**32) * 2654435761 % 2**32) / 2**32
        score += math.floor(u * 2_000_000) - 1_000_000
    return score > 0


def _wilson_lb_ppm(k: int, n: int) -> int:
    from ocr_wrapper_spark.curation_queries import _WILSON_SCALE

    arg = (k * (n - k) * _WILSON_SCALE + n * _WILSON_SCALE) // n
    s = math.isqrt(arg)
    return (1_000_000 * (k + 2) - 2 * s) // (n + 4)


def test_wilson_python_replica_smoke(spark):
    from ocr_wrapper_spark.curation_queries import (
        WILSON_GATE_PPM,
        source_quality_wilson_gate,
    )

    docs = pd.read_parquet(
        f"{SF_SMOKE}/documents.parquet", columns=["source", "text"]
    )
    agg: dict[str, list[int]] = {}
    for r in docs.itertuples():
        n, k = agg.get(r.source, (0, 0))
        agg[r.source] = (n + 1, k + (1 if _qc_keep(r.text) else 0))
    rows = source_quality_wilson_gate(spark, SF_SMOKE).collect()
    got = {
        r.source: (r.n_docs, r.n_keep, r.keep_ppm, r.wilson_lb_ppm, r.gated_in)
        for r in rows
    }
    expect = {
        s: (
            n,
            k,
            k * 1_000_000 // n,
            _wilson_lb_ppm(k, n),
            _wilson_lb_ppm(k, n) >= WILSON_GATE_PPM,
        )
        for s, (n, k) in agg.items()
    }
    assert got == expect
    # convention check: published bound within 2 ppm of the float bound
    # (floor on the scaled sqrt pushes up; the outer floor-div pushes
    # down — both mirrored exactly, net error bounded by 2 ppm)
    for s, (n, k) in agg.items():
        p = k / n
        true_lb = (p + 2 / n - 2 * math.sqrt(p * (1 - p) / n + 1 / n / n)) / (1 + 4 / n)
        assert abs(got[s][3] / 1e6 - true_lb) < 2e-6


def test_wilson_small_n_must_prove_itself(spark, tmp_path):
    """Same 60% point rate: a 5-doc source fails the gate, a 1000-doc
    source passes — the asymmetry the bound exists for."""
    from ocr_wrapper_spark.curation_queries import source_quality_wilson_gate

    # find single-token texts with known verdicts
    pos = next(f"tok{i}" for i in range(1000) if _qc_keep(f"tok{i}"))
    neg = next(f"tok{i}" for i in range(1000) if not _qc_keep(f"tok{i}"))
    rows = []
    did = 0
    for i in range(5):  # tiny source: 3/5 keep
        rows.append((did, pos if i < 3 else neg, "en", "tiny"))
        did += 1
    for i in range(1000):  # big source: 600/1000 keep
        rows.append((did, pos if i < 600 else neg, "en", "big"))
        did += 1
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    pdf.to_parquet(tmp_path / "documents.parquet")
    got = {
        r.source: r for r in source_quality_wilson_gate(spark, str(tmp_path)).collect()
    }
    assert got["tiny"].keep_ppm == got["big"].keep_ppm == 600_000
    assert not got["tiny"].gated_in  # 3/5 could be luck
    assert got["big"].gated_in  # 600/1000 cannot
    assert got["tiny"].wilson_lb_ppm < got["big"].wilson_lb_ppm


# ---------------------------------------------------------------------------
# Chao1 / Good-Turing richness
# ---------------------------------------------------------------------------


def test_chao1_python_replica_smoke(spark):
    from ocr_wrapper_spark.fingerprint_queries import (
        GROWTH_SHINGLE,
        vocab_chao1_estimate,
    )

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["text"])
    freq: dict[str, int] = {}
    for text in docs.text:
        tk = text.split(" ") if text else []
        for i in range(len(tk) - GROWTH_SHINGLE + 1):
            sh = " ".join(tk[i : i + GROWTH_SHINGLE])
            freq[sh] = freq.get(sh, 0) + 1
    d = len(freq)
    n = sum(freq.values())
    f1 = sum(1 for c in freq.values() if c == 1)
    f2 = sum(1 for c in freq.values() if c == 2)
    chao1 = d + (f1 * f1 // (2 * f2) if f2 else f1 * (f1 - 1) // 2)
    r = vocab_chao1_estimate(spark, SF_SMOKE).collect()[0]
    assert (r.d_types, r.n_occurrences, r.f1, r.f2) == (d, n, f1, f2)
    assert r.chao1_types == chao1
    assert r.unseen_mass_ppm == f1 * 1_000_000 // n
    assert r.chao1_types >= r.d_types  # the estimate is a lower BOUND >= D


def test_chao1_saturated_vs_singleton_corpora(spark, tmp_path):
    """A corpus where every shingle repeats >= 3x: f1 = 0, Chao1 == D,
    unseen mass 0 (crawl complete). A corpus of all-distinct shingles:
    unseen mass 1e6 and the f2=0 bias-corrected branch fires."""
    from ocr_wrapper_spark.fingerprint_queries import vocab_chao1_estimate

    page = " ".join(f"w{i}" for i in range(10))
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    sf = _write_docs(tmp_path / "a", [(i, page) for i in range(3)])
    r = vocab_chao1_estimate(spark, sf).collect()[0]
    assert r.f1 == 0 and r.chao1_types == r.d_types == 8
    assert r.unseen_mass_ppm == 0
    distinct = " ".join(f"u{i}" for i in range(5))  # 3 shingles, each once
    sf2 = _write_docs(tmp_path / "b", [(0, distinct)])
    r2 = vocab_chao1_estimate(spark, sf2).collect()[0]
    assert r2.f1 == 3 and r2.f2 == 0
    assert r2.chao1_types == 3 + 3 * 2 // 2  # bias-corrected branch
    assert r2.unseen_mass_ppm == 1_000_000


# ---------------------------------------------------------------------------
# filter-overlap ablation matrix
# ---------------------------------------------------------------------------


def test_filter_overlap_matrix_consistency(spark):
    """The matrix must equal the merge of the four registered verdict
    queries, cell for cell, and its marginals must match each filter's
    own keep counts."""
    from ocr_wrapper_spark.curation_queries import filter_overlap_matrix
    from ocr_wrapper_spark.text_queries import (
        doc_lang_id,
        doc_pii_redaction,
        doc_quality_classifier,
        doc_repetition_filter,
    )

    q = {r.doc_id: r.keep for r in doc_quality_classifier(spark, SF_SMOKE).collect()}
    rp = {r.doc_id: r.keep for r in doc_repetition_filter(spark, SF_SMOKE).collect()}
    p = {
        r.doc_id: (r.n_emails + r.n_ips + r.n_phones) == 0
        for r in doc_pii_redaction(spark, SF_SMOKE).collect()
    }
    lg = {
        r.doc_id: r.lang_guess == r.lang
        for r in doc_lang_id(spark, SF_SMOKE).collect()
    }
    expect: dict[tuple, int] = {}
    for d in q:
        key = (q[d], rp[d], p[d], lg[d])
        expect[key] = expect.get(key, 0) + 1
    total = len(q)
    rows = filter_overlap_matrix(spark, SF_SMOKE).collect()
    got = {
        (r.quality_keep, r.repetition_keep, r.pii_clean, r.lang_match): (
            r.n_docs,
            r.share_ppm,
        )
        for r in rows
    }
    assert got == {
        k: (n, n * 1_000_000 // total) for k, n in expect.items()
    }
    assert sum(r.n_docs for r in rows) == total
    # marginal: quality-keep rows sum to the quality filter's own count
    assert sum(r.n_docs for r in rows if r.quality_keep) == sum(q.values())
