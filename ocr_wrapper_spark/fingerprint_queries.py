"""Positional fingerprinting and language-mix profiling.

* **Winnowing** (Schleimer-Wilkerson-Aiken 2003, the MOSS local
  fingerprinting algorithm — public): slide a w-window over the k-gram
  hash sequence and keep each window's MINIMUM hash. Guarantees every
  shared substring of length >= k + w - 1 contributes at least one
  shared fingerprint, while selecting only ~2/(w+1) of positions — the
  position-robust middle ground between exact-substring dup-span
  coverage (stride-1, exhaustive) and MinHash (document-global, loses
  position). Hashes are compared as 8-hex-char STRINGS so the window
  minimum is plain lexicographic order — engine-identical with no
  integer conversion.
* **Language-mix profile** (code-switching detection): the paragraph
  grain of doc_lang_id — per-paragraph marker-word votes rolled up to a
  per-document Gini-Simpson diversity index in exact integer ppm
  (1 - sum(c_l^2)/P^2; entropy without the log, so no libm divergence).
  CCNet buckets whole documents by language; a mixed-language page is
  exactly what that binning mishandles, and simpson_ppm is the monitor.

Both queries carry exact DuckDB oracles; every comparison is integer or
string, no floats on value columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import textstats
from .relational import _t, _td, register

# ---------------------------------------------------------------------------
# winnowing fingerprint dedup
# ---------------------------------------------------------------------------

WINNOW_K = 3  # k-gram size (tokens)
WINNOW_W = 4  # winnowing window over the gram-hash sequence
WINNOW_MIN_TOKENS = WINNOW_K + WINNOW_W - 1  # shortest doc with a full window
WINNOW_MAX_DF = 30  # hot-fingerprint cut (same discipline as ngram jaccard)
WINNOW_SHARED_T = 3  # pair verdict: >= this many shared fingerprints

_WINNOW_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, str_split(text, ' ') AS tk,
             len(str_split(text, ' ')) AS n
      FROM documents WHERE len(str_split(text, ' ')) >= {WINNOW_MIN_TOKENS}),
    g AS (
      SELECT doc_id, n,
             list_transform(generate_series(1, n - {WINNOW_K - 1}),
               i -> substring(md5(array_to_string(tk[i:i+{WINNOW_K - 1}], ' ')),
                              1, 8)) AS gs
      FROM t),
    w AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, n - {WINNOW_MIN_TOKENS - 1}),
               j -> list_min(gs[j:j+{WINNOW_W - 1}]))) AS fps
      FROM g),
    p AS (SELECT doc_id, unnest(fps) AS fp FROM w),
    keep AS (SELECT fp FROM p GROUP BY fp HAVING count(*) <= {WINNOW_MAX_DF}),
    pk AS (SELECT p.doc_id, p.fp FROM p JOIN keep USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM pk a JOIN pk b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= {WINNOW_SHARED_T}
"""


@register("dedup_winnowing", _WINNOW_ORACLE)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint dedup: pairs of documents sharing
    >= {WINNOW_SHARED_T} winnowed fingerprints. Each doc's fingerprints
    are the distinct per-window minima of its {WINNOW_K}-gram md5
    prefix sequence under a {WINNOW_W}-window — any shared run of
    {WINNOW_MIN_TOKENS}+ tokens is guaranteed to surface at least one
    shared fingerprint (the winnowing correctness theorem), at ~2/(w+1)
    the fingerprint density of the exhaustive stride-1 scheme
    (doc_dup_span_coverage).

    Scale shape: gram hashing and window minima are per-document
    higher-order array expressions (pure JVM codegen — transform /
    slice / array_min, no explode until the fingerprints are already
    winnowed ~2/(w+1) sparse); the pair join is an equi-join on a
    uniform content hash with the standard > {WINNOW_MAX_DF}-df
    hot-key cut mirrored in the oracle, and the pair rollup is a
    map-side-combinable count. Docs shorter than {WINNOW_MIN_TOKENS}
    tokens carry no full window and are excluded in both engines."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t = d.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("tk"),
        F.size(F.split(F.col("text"), " ")).alias("n"),
    ).filter(F.col("n") >= WINNOW_MIN_TOKENS)
    # The when() guards make the array expressions TOTAL: under the
    # downstream self-join Catalyst may evaluate a projection
    # speculatively on rows the n-filter later discards, and
    # sequence(1, n-5) DESCENDS through 0 for short docs (sequence with
    # start > stop counts down), feeding slice() an illegal start=0.
    # The filter still owns the semantics; the guard only keeps
    # out-of-order evaluation from throwing.
    guard = F.col("n") >= WINNOW_MIN_TOKENS
    g = t.select(
        "doc_id",
        "n",
        F.when(
            guard,
            F.expr(
                f"transform(sequence(1, n - {WINNOW_K - 1}),"
                f" i -> substring(md5(array_join(slice(tk, i, {WINNOW_K}), ' ')), 1, 8))"
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("gs"),
    )
    # persist g BEFORE the winnow pass: without the materialization
    # barrier CollapseProject inlines the full gram-array expression
    # into every window position of the minima transform — O(n^2) md5
    # calls per document instead of O(n) (measured: the 500k-doc
    # replica went from >10 min to seconds). With g stored, slice(gs,
    # j, w) reads the computed column.
    from pyspark import StorageLevel

    g = g.persist(StorageLevel.MEMORY_AND_DISK)
    w = g.select(
        "doc_id",
        F.when(
            guard,
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, n - {WINNOW_MIN_TOKENS - 1}),"
                    f" j -> array_min(slice(gs, j, {WINNOW_W})))"
                )
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("fps"),
    )
    # persist the winnowed (doc_id, fp) table: it feeds THREE consumers
    # (the df-cut aggregate and both sides of the pair join). Without it
    # each consumer recomputes the full gram/winnow chain — and on the
    # 500k-doc replica AQE coalesced the small semi-join shuffle to ONE
    # partition, pulling an entire recompute into a single task (the
    # session-14 multi-consumer persist lesson, re-learned the hard way).
    from pyspark import StorageLevel

    p = w.select("doc_id", F.explode("fps").alias("fp")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    keep = p.groupBy("fp").count().filter(F.col("count") <= WINNOW_MAX_DF).select("fp")
    pk = p.join(keep, "fp", "left_semi")
    a = pk.select(F.col("doc_id").alias("id_a"), "fp")
    b = pk.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_SHARED_T)
    )


# ---------------------------------------------------------------------------
# language-mix profile (code-switching monitor)
# ---------------------------------------------------------------------------

MIX_PARA_WORDS = 20  # fixed-width word paragraphs (same grain as paragraph_dedup)
MIX_MOD, MIX_RES = 13, 6  # docs that gain an injected foreign paragraph
CS_THRESHOLD_PPM = 200_000  # code-switched verdict on the Simpson index
# deterministic foreign paragraph (German marker words, cycled to the
# paragraph width) appended in-query so planted mixed-language docs
# exist on any input — the same in-query adversary pattern as
# confusable_skeleton_dedup's homoglyph twins
_DE_WORDS = textstats.LANG_MARKERS["de"]
MIX_INJECT_PARA = " ".join(
    _DE_WORDS[i % len(_DE_WORDS)] for i in range(MIX_PARA_WORDS)
)

_MIX_LANGS = sorted(textstats.LANG_MARKERS)
_MIX_ALL = sorted(_MIX_LANGS + ["und"])  # decode table incl. the fallback
_N_MIX = len(_MIX_LANGS)
_N_ALL = len(_MIX_ALL)


def _mix_oracle() -> str:
    from .text_queries import _marker_count_sql

    encoded = ", ".join(
        f"({_marker_count_sql(textstats.LANG_MARKERS[lang])} * {_N_MIX} + {rank})"
        for rank, lang in enumerate(_MIX_LANGS)
    )
    lang_array = ", ".join(f"'{l}'" for l in _MIX_LANGS)
    all_rank = " ".join(
        f"WHEN lang_guess = '{l}' THEN {r}" for r, l in enumerate(_MIX_ALL)
    )
    all_array = ", ".join(f"'{l}'" for l in _MIX_ALL)
    return f"""
    WITH src AS (
      SELECT doc_id,
             CASE WHEN doc_id % {MIX_MOD} = {MIX_RES}
                  THEN text || ' ' || '{MIX_INJECT_PARA}'
                  ELSE text END AS text
      FROM documents WHERE text <> ''),
    t AS (
      SELECT doc_id, str_split(text, ' ') AS tk,
             len(str_split(text, ' ')) AS n
      FROM src),
    paras AS (
      SELECT doc_id,
             array_to_string(
               tk[CAST(s AS INT) + 1 : CAST(s AS INT) + {MIX_PARA_WORDS}],
               ' ') AS text
      FROM t, unnest(range(0, n, {MIX_PARA_WORDS})) AS r(s)),
    lg AS (
      SELECT doc_id,
             CASE WHEN greatest({encoded}) // {_N_MIX} > 0
                  THEN ([{lang_array}])[CAST(greatest({encoded}) % {_N_MIX} AS INT) + 1]
                  ELSE 'und' END AS lang_guess
      FROM paras),
    counts AS (
      SELECT doc_id, lang_guess, CAST(count(*) AS BIGINT) AS c
      FROM lg GROUP BY 1, 2),
    agg AS (
      SELECT doc_id,
             sum(c) AS n_paras,
             sum(c * c) AS ss,
             max(c * {_N_ALL} + CASE {all_rank} END) AS enc
      FROM counts GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_paras AS BIGINT) AS n_paras,
           ([{all_array}])[CAST(enc % {_N_ALL} AS INT) + 1] AS dominant_lang,
           CAST(1000000 - (ss * 1000000) // (n_paras * n_paras) AS BIGINT)
             AS simpson_ppm,
           1000000 - (ss * 1000000) // (n_paras * n_paras) >= {CS_THRESHOLD_PPM}
             AS code_switched
    FROM agg
    """


@register("doc_lang_mix")  # oracle assigned below (needs _marker_count_sql)
def doc_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document language-mix profile (code-switching monitor):
    paragraphs ({MIX_PARA_WORDS}-word windows, the paragraph_dedup
    grain) are language-identified with the registered marker-word vote
    (identical arithmetic-argmax expression to doc_lang_id), then
    rolled up per document into a Gini-Simpson diversity index in exact
    integer ppm — 1 - sum(c_l^2)/P^2, the entropy-family measure with
    no logarithm, so the value is engine-exact. Docs over
    {CS_THRESHOLD_PPM} ppm are flagged code-switched; CCNet-style
    whole-document language bucketing (ccnet_lang_buckets) mis-bins
    exactly these.

    Planted positives: docs with doc_id % {MIX_MOD} == {MIX_RES} gain
    one injected German-marker paragraph in-query (deterministic on any
    input), so the monitor always has true code-switched rows to find.
    Dominant language ties break toward the lexicographically larger
    code via the same c * n + rank encoding the langid vote uses.

    Scale shape: paragraph explode fans out ~n/{MIX_PARA_WORDS} rows
    per doc, then TWO doc-keyed map-side-combinable aggs (per-(doc,
    lang) counts, per-doc rollup) — no window, no skew (doc_id keys),
    marker counting is a pure JVM filter over the token array."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(F.col("text") != "")
    src = d.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % MIX_MOD) == MIX_RES,
            F.concat(F.col("text"), F.lit(" " + MIX_INJECT_PARA)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    t = src.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("tk"),
        F.size(F.split(F.col("text"), " ")).alias("n"),
    )
    paras = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, (n - 1) div {MIX_PARA_WORDS}),"
                f" s -> array_join(slice(tk, s * {MIX_PARA_WORDS} + 1,"
                f" {MIX_PARA_WORDS}), ' '))"
            )
        ).alias("para_text"),
    )
    lg = paras.select(
        "doc_id", textstats.lang_id_cols(F.col("para_text")).alias("lang_guess")
    )
    rank_map = F.array(*[F.lit(l) for l in _MIX_ALL])
    rank = F.array_position(rank_map, F.col("lang_guess")) - 1
    counts = lg.groupBy("doc_id", "lang_guess").agg(F.count("*").alias("c"))
    agg = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_paras"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
        F.max(F.col("c") * _N_ALL + rank).alias("enc"),
    )
    simpson = F.lit(1_000_000) - F.expr("(ss * 1000000) div (n_paras * n_paras)")
    return agg.select(
        "doc_id",
        F.col("n_paras").cast("long").alias("n_paras"),
        F.element_at(rank_map, (F.pmod(F.col("enc"), F.lit(_N_ALL)) + 1).cast("int")).alias(
            "dominant_lang"
        ),
        simpson.cast("long").alias("simpson_ppm"),
        (simpson >= CS_THRESHOLD_PPM).alias("code_switched"),
    )


from .relational import ORACLES as _ORACLES  # noqa: E402

_ORACLES["doc_lang_mix"] = _mix_oracle()


# ---------------------------------------------------------------------------
# vocabulary growth curve (Heaps-law crawl-saturation monitor)
# ---------------------------------------------------------------------------

from pyspark.sql import Window  # noqa: E402

# type grain: 3-word shingles (the dedup/contamination grain — the
# word-level vocabulary of the synthetic corpus is tiny and saturates in
# the first bucket, while the shingle-type space keeps growing, which is
# exactly the property a growth CURVE needs); 10 equal doc-id buckets
# stand in for crawl-arrival order.
GROWTH_SHINGLE = 3
GROWTH_BUCKETS = 10

_GROWTH_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, str_split(text, ' ') AS w,
             len(str_split(text, ' ')) AS nl
      FROM documents WHERE text <> ''),
    width AS (
      SELECT max(doc_id) // {GROWTH_BUCKETS} + 1 AS width FROM d),
    occ AS (
      SELECT doc_id // width AS bucket,
             CAST(sum(greatest(nl - {GROWTH_SHINGLE - 1}, 0)) AS BIGINT)
               AS occurrences,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM d CROSS JOIN width GROUP BY 1),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(range(0, nl - {GROWTH_SHINGLE - 1}),
               i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3])) AS shingle
      FROM d WHERE nl >= {GROWTH_SHINGLE}),
    first AS (
      SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle),
    newt AS (
      SELECT first_doc // width AS bucket,
             CAST(count(*) AS BIGINT) AS new_types
      FROM first CROSS JOIN width GROUP BY 1),
    curve AS (
      SELECT occ.bucket, occurrences, n_docs,
             coalesce(new_types, 0) AS new_types
      FROM occ LEFT JOIN newt ON newt.bucket = occ.bucket)
    SELECT bucket, n_docs, occurrences, new_types,
           CAST(sum(new_types) OVER (ORDER BY bucket) AS BIGINT) AS cum_types,
           CAST(sum(occurrences) OVER (ORDER BY bucket) AS BIGINT)
             AS cum_occurrences,
           CAST(new_types * 1000000 // greatest(occurrences, 1) AS BIGINT)
             AS novelty_ppm
    FROM curve
    """


@register("vocab_growth_curve", _GROWTH_ORACLE)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve — the crawl-saturation monitor
    (Heaps 1978; the "is more crawling still buying new data?" signal a
    corpus team reads before paying for the next 10 TB). Documents are
    binned into {GROWTH_BUCKETS} equal doc-id ranges standing in for
    crawl-arrival order; per bucket the query reports how many NEW
    {GROWTH_SHINGLE}-word shingle types first appear there, the
    cumulative type count, and novelty_ppm — new types per million
    shingle occurrences scanned, the marginal return of that crawl
    slice. A healthy open crawl shows the Heaps-shape decay (sublinear
    but unsaturated); novelty_ppm collapsing toward 0 says the frontier
    is re-crawling what the corpus already holds (the same verdict
    crawl_overlap_sketch estimates ACROSS two crawls, measured here
    WITHIN one, exactly). All arithmetic is int64 — type counts,
    occurrence counts, and a floor-div ppm rate; no logs, no floats
    (the Heaps exponent itself would need cross-engine libm, so the
    curve publishes the exact integer points a fit would consume).

    Scale shape at 10^12 docs: the only corpus-sized exchange is the
    shingle-keyed min(doc_id) aggregation — uniform keys (md5-free:
    the shingle string itself), map-side partial min, output bounded by
    the type population. Bucket width is a 1-row broadcast (max doc id,
    house scalar-subquery shape) onto per-DOC rows, never onto the
    exploded shingles; per-bucket occurrence totals come from a pure
    length expression (greatest(nl-{GROWTH_SHINGLE - 1}, 0)) with no
    explode at all, so documents is scanned twice with narrow
    projections instead of persisting a corpus-sized shingle frame (the
    cheap side of the crawl_ingest_funnel tradeoff). The final
    cumulative window runs over exactly {GROWTH_BUCKETS} rows."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text") != "")
        .select(
            "doc_id",
            F.split("text", " ").alias("w"),
            F.size(F.split("text", " ")).alias("nl"),
        )
    )
    width = F.broadcast(
        d.agg(
            (F.expr(f"max(doc_id) div {GROWTH_BUCKETS}") + 1).alias("width")
        )
    )
    occ = (
        d.select("doc_id", "nl")
        .crossJoin(width)
        .groupBy(F.expr("doc_id div width").alias("bucket"))
        .agg(
            F.sum(
                F.greatest(F.col("nl") - (GROWTH_SHINGLE - 1), F.lit(0))
            ).cast("long").alias("occurrences"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )
    sh = (
        d.filter(F.col("nl") >= GROWTH_SHINGLE)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, nl - {GROWTH_SHINGLE}),"
                    " i -> concat_ws(' ', w[i], w[i + 1], w[i + 2]))"
                )
            ).alias("shingle"),
        )
    )
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    newt = (
        first.crossJoin(width)
        .groupBy(F.expr("first_doc div width").alias("bucket"))
        .agg(F.count("*").cast("long").alias("new_types"))
    )
    curve = occ.join(newt, "bucket", "left").select(
        "bucket",
        "n_docs",
        "occurrences",
        F.coalesce("new_types", F.lit(0)).cast("long").alias("new_types"),
    )
    cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return curve.select(
        "bucket",
        "n_docs",
        "occurrences",
        "new_types",
        F.sum("new_types").over(cum).cast("long").alias("cum_types"),
        F.sum("occurrences").over(cum).cast("long").alias("cum_occurrences"),
        F.expr(
            "CAST(new_types * 1000000 div greatest(occurrences, 1) AS BIGINT)"
        ).alias("novelty_ppm"),
    )


# ---------------------------------------------------------------------------
# Chao1 / Good-Turing vocabulary richness (the growth curve's asymptote)
# ---------------------------------------------------------------------------

_CHAO1_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, str_split(text, ' ') AS w,
             len(str_split(text, ' ')) AS nl
      FROM documents WHERE text <> ''),
    sh AS (
      SELECT unnest(list_transform(range(0, nl - {GROWTH_SHINGLE - 1}),
               i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3])) AS shingle
      FROM d WHERE nl >= {GROWTH_SHINGLE}),
    df AS (SELECT shingle, count(*) AS c FROM sh GROUP BY shingle)
    SELECT CAST(count(*) AS BIGINT) AS d_types,
           CAST(sum(c) AS BIGINT) AS n_occurrences,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           CAST(count(*) +
             CASE WHEN sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) > 0
               THEN CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT)
                    * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                    // (2 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END))
               ELSE CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT)
                    * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1) // 2
             END AS BIGINT) AS chao1_types,
           CAST(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT)
                * 1000000 // sum(c) AS BIGINT) AS unseen_mass_ppm
    FROM df
    """


@register("vocab_chao1_estimate", _CHAO1_ORACLE)
def vocab_chao1_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric vocabulary-richness estimate — the ASYMPTOTE the
    vocab_growth_curve is climbing toward (Chao 1984 species-richness
    lower bound; Good 1953 missing-mass estimator; both public and both
    standard in corpus linguistics): from the {GROWTH_SHINGLE}-shingle
    frequency spectrum's first two cells alone, chao1_types = D +
    f1^2/(2*f2) estimates how many shingle TYPES the source population
    holds including the never-crawled ones (bias-corrected
    f1*(f1-1)/2 form when f2 = 0), and unseen_mass_ppm = f1/N is the
    Good-Turing probability that the NEXT shingle crawled is a new
    type. Together with the growth curve they answer the budget
    question quantitatively: the curve shows the trend, Chao1 names the
    ceiling, Good-Turing prices the next unit of crawl. All floor-div
    int64 with 128-bit f1^2 intermediates (f1 can reach the type
    population ~1e12; f1^2 ~1e24 needs HUGEINT/DECIMAL(38,0)).

    Scale shape at 10^12 docs: the shingle-df aggregation (uniform
    string keys, map-side partial counts, |types|-bounded output) —
    the same single corpus exchange as vocab_growth_curve — then ONE
    partial-aggregated global rollup to a single row: count, sum, and
    two conditional sums all combine map-side, so the final exchange
    carries |partitions| pre-reduced rows. No windows, no joins, no
    Python, no broadcast side at all."""
    d = (
        _td(spark, sf_dir)
        .filter(F.col("text") != "")
        .select(
            F.split("text", " ").alias("w"),
            F.size(F.split("text", " ")).alias("nl"),
        )
    )
    sh = d.filter(F.col("nl") >= GROWTH_SHINGLE).select(
        F.explode(
            F.expr(
                f"transform(sequence(0, nl - {GROWTH_SHINGLE}),"
                " i -> concat_ws(' ', w[i], w[i + 1], w[i + 2]))"
            )
        ).alias("shingle")
    )
    df = sh.groupBy("shingle").agg(F.count("*").alias("c"))
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long")
    agg = df.agg(
        F.count("*").cast("long").alias("d_types"),
        F.sum("c").cast("long").alias("n_occurrences"),
        f1.alias("f1"),
        f2.alias("f2"),
    )
    chao1 = F.expr(
        "CAST(d_types + CASE WHEN f2 > 0"
        " THEN CAST(f1 AS DECIMAL(38,0)) * f1 div (2 * f2)"
        " ELSE CAST(f1 AS DECIMAL(38,0)) * (f1 - 1) div 2 END AS BIGINT)"
    )
    return agg.select(
        "d_types",
        "n_occurrences",
        "f1",
        "f2",
        chao1.alias("chao1_types"),
        F.expr(
            "CAST(CAST(f1 AS DECIMAL(38,0)) * 1000000 div n_occurrences AS BIGINT)"
        ).alias("unseen_mass_ppm"),
    )


# ---------------------------------------------------------------------------
# per-host Good-Turing novelty (crawl-where-the-new-content-is)
# ---------------------------------------------------------------------------


@register("host_novelty_ranking")  # oracle assigned below (needs hosted CTE)
def host_novelty_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host Good-Turing novelty — the frontier signal
    crawl_priority_fusion does NOT have: for each host, the unseen-mass
    estimate f1/N over its own {GROWTH_SHINGLE}-shingle frequency
    spectrum, i.e. the probability that the next shingle fetched FROM
    THAT HOST is one the corpus has never seen. Authority x quality
    (the OPIC fusion) says which hosts matter; this says which hosts
    still have new material — a template farm re-serving its own
    boilerplate scores near 0 no matter how authoritative, a fresh
    forum scores high, and a scheduler multiplying the two fetches
    important AND novel. Chao1 per host names each host's remaining
    ceiling (chao1_types - d_types =~ types still uncrawled there).

    Scale shape at 10^12 docs: the spectrum aggregation keys on
    (host_idx, shingle) — the shingle component keeps the Zipf host
    skew OFF the exchange (the hottest host's shingles spread over the
    full hash space; contrast a host-only key, the skew
    pipeline_host_stats salts against); per-host rollup is then a
    |hosts|-bounded agg of map-side-combinable conditional sums. Host
    assignment is the shared in-row Knuth/CDF expression — no join to
    assign hosts. No windows, no broadcast, no Python."""
    from .sources.pages import _host_idx_col

    # spread read (_td): the per-doc shingle transform + explode feeds the
    # (host_idx, shingle) group keys, so none of it is count-prunable — on
    # the single-row-group test file a bare scan runs every gram hash on
    # one core (measured 2.72 s bare vs 1.06 s spread at sf1.0).
    d = (
        _td(spark, sf_dir)
        .filter(F.col("text") != "")
        .select(
            _host_idx_col().alias("host_idx"),
            F.split("text", " ").alias("w"),
            F.size(F.split("text", " ")).alias("nl"),
        )
    )
    sh = d.filter(F.col("nl") >= GROWTH_SHINGLE).select(
        "host_idx",
        F.explode(
            F.expr(
                f"transform(sequence(0, nl - {GROWTH_SHINGLE}),"
                " i -> concat_ws(' ', w[i], w[i + 1], w[i + 2]))"
            )
        ).alias("shingle"),
    )
    spec = sh.groupBy("host_idx", "shingle").agg(F.count("*").alias("c"))
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long")
    agg = spec.groupBy("host_idx").agg(
        F.count("*").cast("long").alias("d_types"),
        F.sum("c").cast("long").alias("n_occurrences"),
        f1.alias("f1"),
        f2.alias("f2"),
    )
    return agg.select(
        F.col("host_idx").cast("int").alias("host_idx"),
        "d_types",
        "n_occurrences",
        "f1",
        F.expr(
            "CAST(d_types + CASE WHEN f2 > 0"
            " THEN CAST(f1 AS DECIMAL(38,0)) * f1 div (2 * f2)"
            " ELSE CAST(f1 AS DECIMAL(38,0)) * (f1 - 1) div 2 END AS BIGINT)"
        ).alias("chao1_types"),
        F.expr(
            "CAST(CAST(f1 AS DECIMAL(38,0)) * 1000000 div n_occurrences AS BIGINT)"
        ).alias("unseen_mass_ppm"),
    )


def _host_novelty_oracle() -> str:
    from .text_queries import _HOSTED_CTE_SQL

    return f"""
    WITH {_HOSTED_CTE_SQL},
    d AS (
      SELECT host_idx, str_split(text, ' ') AS w,
             len(str_split(text, ' ')) AS nl
      FROM hosted WHERE text <> ''),
    sh AS (
      SELECT host_idx,
             unnest(list_transform(range(0, nl - {GROWTH_SHINGLE - 1}),
               i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3])) AS shingle
      FROM d WHERE nl >= {GROWTH_SHINGLE}),
    spec AS (
      SELECT host_idx, shingle, count(*) AS c
      FROM sh GROUP BY host_idx, shingle)
    SELECT CAST(host_idx AS INT) AS host_idx,
           CAST(count(*) AS BIGINT) AS d_types,
           CAST(sum(c) AS BIGINT) AS n_occurrences,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(count(*) +
             CASE WHEN sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) > 0
               THEN CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT)
                    * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                    // (2 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END))
               ELSE CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT)
                    * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1) // 2
             END AS BIGINT) AS chao1_types,
           CAST(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT)
                * 1000000 // sum(c) AS BIGINT) AS unseen_mass_ppm
    FROM spec GROUP BY host_idx
    """


_ORACLES["host_novelty_ranking"] = _host_novelty_oracle()
