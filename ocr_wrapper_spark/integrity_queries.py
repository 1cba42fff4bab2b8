"""Release-integrity family: the checks a corpus release runs before
shipping — redirect-chain canonicalization (pointer jumping), homoglyph
/ zero-width evasion dedup (confusable skeletons), and a k-anonymity
release gate over quasi-identifier tuples.

Three ops a web-corpus release pipeline needs that nothing else in the
registry covers:

* **Redirect canonicalization** — CDX/WARC revisit records carry
  ``Location:`` chains (A -> B -> C); training-data provenance wants
  every url resolved to its final target plus the hop count. The chain
  edges here are synthesized deterministically from ``doc_id`` (standing
  in for the WARC redirect records), but the RESOLUTION ALGORITHM is the
  real one: pointer jumping / path doubling — ``ceil(log2(L))``
  equi-join rounds resolve chains of length <= L, vs L sequential joins.
  At 10^12 urls that is 4 shuffles instead of 15, each on a uniform
  high-cardinality key.
* **Confusable-skeleton dedup** — spam/SEO farms evade exact dedup by
  swapping ASCII letters for Cyrillic homoglyphs and injecting
  zero-width characters (the Unicode TR39 "confusables" attack). The
  skeleton map (strip zero-width, fold homoglyphs) re-unifies what raw
  md5 splits; groups whose members differ in RAW bytes but share a
  skeleton are exactly the evasion clusters an exact-dedup pass misses.
* **k-anonymity gate** — before a release ships, quasi-identifier
  tuples (host, lang, size bucket) with fewer than K documents are
  suppressed so no rare combination can be tied to a single origin
  (Sweeney 2002; the standard privacy release rule). One map-side
  combinable groupBy — scale-trivial by construction.

Every query carries an exact DuckDB oracle; all arithmetic is integer
(BIGINT ids, floor-div buckets, md5 hex), so cross-engine value hashes
are byte-stable. Engine-parity notes: Spark ``translate``/DuckDB
``translate`` both operate on CHARACTERS (verified for the Cyrillic
fold used here), and ``md5`` in both engines hashes the UTF-8 bytes of
the string (Spark via an explicit ``encode(.., 'UTF-8')``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .relational import ORACLES as _ORACLES
from .relational import _t, _td, register

# ---------------------------------------------------------------------------
# redirect-chain resolution (pointer jumping / path doubling)
# ---------------------------------------------------------------------------

REDIRECT_CHAIN = 16  # max chain length: doc at position p points at p-1
PJ_ROUNDS = 4  # ceil(log2(REDIRECT_CHAIN - 1)) doubling rounds

# The oracle walks the chain SEQUENTIALLY (recursive CTE, one hop per
# iteration) — deliberately the naive algorithm, so the log-round
# pointer-jump implementation is checked against an independent
# formulation rather than a mirror of itself. The walk is
# existence-aware: a doc whose arithmetic parent is absent from the
# table is its own canonical target (chains break at gaps), which is
# also what the Spark side computes — no contiguity assumption.
_REDIRECT_ORACLE = f"""
    WITH RECURSIVE walk(doc_id, cur, hops) AS (
      SELECT doc_id, doc_id, 0 FROM documents
      UNION ALL
      SELECT w.doc_id, p.doc_id, w.hops + 1
      FROM walk w
      JOIN documents p
        ON w.cur % {REDIRECT_CHAIN} <> 0 AND p.doc_id = w.cur - 1)
    SELECT doc_id,
           max_by(cur, hops) AS canonical_id,
           CAST(max(hops) AS BIGINT) AS hops
    FROM walk GROUP BY doc_id
"""


@register("redirect_chain_resolution", _REDIRECT_ORACLE)
def redirect_chain_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve every url's redirect chain to its final target in
    O(log L) join rounds (pointer jumping / path doubling, the textbook
    parallel list-ranking step — Wyllie 1979, public).

    Edge synthesis: doc at chain position ``doc_id % {REDIRECT_CHAIN}``
    redirects to ``doc_id - 1``; position 0 is canonical. The edge is
    real only if the parent id EXISTS in the table (chains break at
    gaps), so the semantics hold for any id set — contiguous testdata,
    the 10x id-remapped replica, or a sparse production id space.

    Algorithm: maintain (doc_id, ptr, hops) where ptr starts at the
    direct parent (or self for roots) and each round substitutes
    ptr <- ptr(ptr), hops <- hops + hops(ptr). After k rounds ptr is
    the ancestor min(2^k, depth) hops up; {PJ_ROUNDS} rounds cover
    depth {REDIRECT_CHAIN - 1}. Roots carry (self, 0) so they are the
    fixed point and hop sums stop exactly at the canonical target.

    Scale shape: each round is ONE equi shuffle join of the frame with
    itself on a uniform high-cardinality key (ptr) — 10^12 rows resolve
    16-deep chains in 4 shuffles where the sequential walk needs 15;
    no window, no collect, no skew (chain structure is id-arithmetic,
    independent of the Zipf host draw)."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    pos = F.col("doc_id") % REDIRECT_CHAIN
    want = d.select(
        "doc_id",
        F.when(pos != 0, F.col("doc_id") - 1).alias("parent_cand"),
    )
    parents = d.select(F.col("doc_id").alias("parent_cand"), F.lit(1).alias("_ex"))
    cur = want.join(parents, "parent_cand", "left").select(
        "doc_id",
        F.when(F.col("_ex").isNotNull(), F.col("parent_cand"))
        .otherwise(F.col("doc_id"))
        .alias("ptr"),
        F.when(F.col("_ex").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("hops"),
    )
    from pyspark import StorageLevel

    for _ in range(PJ_ROUNDS):
        # persist each round: the frame feeds BOTH sides of its own
        # self-join (shuffled on different keys — ptr vs doc_id), so
        # without it every round recomputes its full lineage twice and
        # the final plan scans the source 2^PJ_ROUNDS times. This is
        # the standard checkpoint discipline of distributed
        # list-ranking; at 10^12 rows each round materializes one
        # (id, ptr, hops) table.
        cur = cur.persist(StorageLevel.MEMORY_AND_DISK)
        jump = cur.select(
            F.col("doc_id").alias("j_id"),
            F.col("ptr").alias("j_ptr"),
            F.col("hops").alias("j_hops"),
        )
        cur = cur.join(jump, cur["ptr"] == jump["j_id"], "inner").select(
            "doc_id",
            F.col("j_ptr").alias("ptr"),
            (F.col("hops") + F.col("j_hops")).alias("hops"),
        )
    return cur.select("doc_id", F.col("ptr").alias("canonical_id"), "hops")


# ---------------------------------------------------------------------------
# confusable-skeleton dedup (homoglyph / zero-width evasion)
# ---------------------------------------------------------------------------

CONF_ASCII = "aeo"  # fold targets (skeleton alphabet)
CONF_CYRIL = "аео"  # Cyrillic а е о — pixel-identical homoglyphs
ZERO_WIDTH = "\u200b\u200c\u200d\ufeff"  # ZWSP ZWNJ ZWJ BOM
VARIANT_MOD = 7  # docs with doc_id % 7 == VARIANT_RES gain an obfuscated twin
VARIANT_RES = 3
VARIANT_OFFSET = 1_000_000_000_000  # twin ids, disjoint from any real id

_CONF_ORACLE = f"""
    WITH v AS (
      SELECT doc_id + {VARIANT_OFFSET} AS doc_id,
             regexp_replace(translate(text, '{CONF_ASCII}', '{CONF_CYRIL}'),
                            ' ', ' {ZERO_WIDTH[0]}', 'g') AS text
      FROM documents WHERE doc_id % {VARIANT_MOD} = {VARIANT_RES}),
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id, text FROM v),
    sk AS (
      SELECT doc_id,
             md5(translate(regexp_replace(text, '[{ZERO_WIDTH}]', '', 'g'),
                           '{CONF_CYRIL}', '{CONF_ASCII}')) AS skeleton_fp,
             md5(text) AS raw_fp
      FROM corpus)
    SELECT skeleton_fp,
           count(*) AS n_docs,
           count(DISTINCT raw_fp) AS n_raw_variants,
           min(doc_id) AS canonical_doc,
           count(DISTINCT raw_fp) >= 2 AS evades_exact_dedup
    FROM sk GROUP BY skeleton_fp HAVING count(*) >= 2
"""


@register("confusable_skeleton_dedup", _CONF_ORACLE)
def confusable_skeleton_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup groups that survive homoglyph/zero-width obfuscation
    (Unicode TR39 confusable skeletons, public).

    The adversarial side is synthesized IN-QUERY so the planted
    positives are deterministic on any input: every doc with
    ``doc_id % {VARIANT_MOD} == {VARIANT_RES}`` gains a twin whose
    ASCII '{CONF_ASCII}' letters are swapped for Cyrillic homoglyphs
    and whose spaces carry a trailing zero-width space — byte-distinct,
    pixel-identical. Raw md5 splits every such pair; the skeleton
    (strip zero-width chars, fold homoglyphs back) re-unifies them.
    Output: one row per skeleton group of >= 2 docs with the member
    count, the count of distinct RAW fingerprints, and the verdict
    ``evades_exact_dedup`` (>= 2 raw variants means an exact-dedup pass
    would have missed the group). Natural exact duplicates in the
    corpus appear with ``n_raw_variants = 1`` — the control group.

    Scale shape: one narrow map (translate/regexp per row, JVM
    codegen), a union, and ONE groupBy on a uniform content hash with
    map-side partial aggregation; count(DISTINCT) is the standard
    two-phase expand — no window, no skew, no Python."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = d.filter((F.col("doc_id") % VARIANT_MOD) == VARIANT_RES).select(
        (F.col("doc_id") + VARIANT_OFFSET).alias("doc_id"),
        F.regexp_replace(
            F.translate(F.col("text"), CONF_ASCII, CONF_CYRIL),
            " ",
            " " + ZERO_WIDTH[0],
        ).alias("text"),
    )
    corpus = d.unionByName(variants)
    skeleton = F.translate(
        F.regexp_replace(F.col("text"), f"[{ZERO_WIDTH}]", ""),
        CONF_CYRIL,
        CONF_ASCII,
    )
    fps = corpus.select(
        "doc_id",
        F.md5(F.encode(skeleton, "UTF-8")).alias("skeleton_fp"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("raw_fp"),
    )
    return (
        fps.groupBy("skeleton_fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("raw_fp").alias("n_raw_variants"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .withColumn("evades_exact_dedup", F.col("n_raw_variants") >= 2)
    )


# ---------------------------------------------------------------------------
# k-anonymity release gate
# ---------------------------------------------------------------------------

K_ANON = 5  # minimum group size for release (Sweeney's k)
SIZE_BUCKET_CHARS = 256  # quasi-identifier size bucket width


def _k_anon_oracle() -> str:
    from .operators.sampling import DOC_U_SQL as u

    return f"""
    WITH h AS (
      SELECT doc_id, lang, n_chars // {SIZE_BUCKET_CHARS} AS size_bucket,
             len(list_filter({{cdf}}, c -> c < ({u}))) AS host_idx
      FROM documents)
    SELECT concat('host', lpad(CAST(host_idx AS VARCHAR), 2, '0'),
                  '.example.com') AS host,
           lang, CAST(size_bucket AS BIGINT) AS size_bucket,
           count(*) AS n_docs,
           count(*) >= {K_ANON} AS released
    FROM h GROUP BY host_idx, lang, size_bucket
    """


@register("release_k_anonymity", _k_anon_oracle())
def release_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gate: quasi-identifier tuples (host, lang,
    {SIZE_BUCKET_CHARS}-char size bucket) with fewer than {K_ANON}
    documents are flagged suppressed so no rare combination in the
    shipped corpus can be tied to a single origin (Sweeney 2002,
    public; the standard privacy rule for data releases).

    Host comes from the shared Zipf draw (same Knuth-hash + cdf mapping
    as the crawl family), lang from the table, the size bucket by exact
    integer floor-div — every grouping key is engine-stable.

    Scale shape: ONE groupBy with map-side partial aggregation over a
    bounded-cardinality key space (|hosts| x |langs| x |buckets|) — the
    result is a tiny table regardless of input size, and the Zipf host
    skew is irrelevant because counting is combinable (no per-host
    window anywhere)."""
    from .sources.pages import _host_idx_col, _host_name

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    grouped = (
        d.select(
            _host_idx_col().alias("host_idx"),
            "lang",
            F.expr(f"n_chars div {SIZE_BUCKET_CHARS}").alias("size_bucket"),
        )
        .groupBy("host_idx", "lang", "size_bucket")
        .agg(F.count("*").alias("n_docs"))
    )
    return grouped.select(
        _host_name().alias("host"),
        "lang",
        F.col("size_bucket").cast("long").alias("size_bucket"),
        "n_docs",
        (F.col("n_docs") >= K_ANON).alias("released"),
    )


# ---------------------------------------------------------------------------
# token-budget quality cut (curating to a fixed token budget)
# ---------------------------------------------------------------------------

BUDGET_PPM = 250_000  # token budget as ppm of the corpus total (25%)
QB_WIDTH = 50_000  # classifier-score bucket width (ppm of score)
# shift scores non-negative before the floor-div bucketing: Spark `div`
# truncates toward zero while DuckDB `//` floors, so they agree ONLY on
# non-negative dividends (the same divergence pq_encode_batch guards).
# |score_ppm| <= n_tokens * 1e6 < 2^40 for any document under ~1M
# tokens, so the shift makes the dividend provably non-negative.
QB_SHIFT = 1 << 40


def _budget_oracle() -> str:
    from .text_queries import _QC_SCORE_SQL

    return f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN text = '' THEN CAST(0 AS BIGINT)
                  ELSE CAST(len(str_split(text, ' ')) AS BIGINT) END AS n_tokens,
             CASE WHEN text = '' THEN CAST(0 AS BIGINT)
                  ELSE {_QC_SCORE_SQL} END AS score_ppm
      FROM documents),
    b AS (
      SELECT (score_ppm + {QB_SHIFT}) // {QB_WIDTH} AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS bucket_tokens
      FROM t GROUP BY 1),
    c AS (
      SELECT bucket, n_docs, bucket_tokens,
             CAST(sum(bucket_tokens) OVER (ORDER BY bucket DESC) AS BIGINT)
               AS cum_tokens,
             CAST(sum(bucket_tokens) OVER () AS BIGINT) AS total_tokens
      FROM b)
    SELECT bucket * {QB_WIDTH} - {QB_SHIFT} AS score_floor_ppm,
           n_docs, bucket_tokens, cum_tokens,
           CAST(cum_tokens - bucket_tokens AS HUGEINT) * 1000000
             < CAST(total_tokens AS HUGEINT) * {BUDGET_PPM} AS in_budget
    FROM c
    """


@register("token_budget_quality_cut")  # oracle assigned below (needs _QC_SCORE_SQL)
def token_budget_quality_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curate to a fixed TOKEN budget: keep the highest-quality
    documents until the release holds ~BUDGET_PPM of the corpus tokens
    (the production question is "give me the best 1.4T tokens", not
    "the best 20% of documents" — long low-quality docs must not crowd
    out short good ones, so the cumulative is TOKEN-weighted).

    Shape: classifier scores (the registered hashed-linear model —
    identical expression tree to doc_quality_classifier, so this cut
    provably gates on the same ranking) are bucketed at QB_WIDTH ppm
    grain; ONE map-side-combinable groupBy aggregates docs + tokens per
    bucket; the token cumulative runs from the TOP bucket down over
    that bounded table (constant-key window, the _cum_counts idiom from
    the quantile sketch); a bucket is in_budget while the tokens taken
    ABOVE it are still under budget, so the boundary bucket is included
    and the overshoot is visible in cum_tokens. The budget comparison
    is 128-bit (decimal(38,0) / HUGEINT) because cum_tokens * 1e6
    passes int64 at 10^12-doc scale. No per-document ranking anywhere —
    the only per-doc work is the narrow JVM score map."""
    from .text_queries import _qc_score_col

    d = _td(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    empty = F.col("text") == ""
    scored = d.select(
        F.when(empty, F.lit(0).cast("long"))
        .otherwise(F.size(toks).cast("long"))
        .alias("n_tokens"),
        F.when(empty, F.lit(0).cast("long"))
        .otherwise(_qc_score_col(toks))
        .alias("score_ppm"),
    )
    b = scored.groupBy(
        F.expr(f"(score_ppm + {QB_SHIFT}) div {QB_WIDTH}").alias("bucket")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("bucket_tokens"),
    )
    from pyspark.sql import Window

    one = F.col("bucket") % 1  # constant partition over the bounded bucket table
    w_cum = (
        Window.partitionBy(one)
        .orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(one)
    c = b.select(
        "bucket",
        "n_docs",
        "bucket_tokens",
        F.sum("bucket_tokens").over(w_cum).cast("long").alias("cum_tokens"),
        F.sum("bucket_tokens").over(w_all).cast("long").alias("total_tokens"),
    )
    dec = "decimal(38,0)"
    return c.select(
        (F.col("bucket") * QB_WIDTH - QB_SHIFT).alias("score_floor_ppm"),
        "n_docs",
        "bucket_tokens",
        "cum_tokens",
        (
            (F.col("cum_tokens") - F.col("bucket_tokens")).cast(dec) * F.lit(1_000_000)
            < F.col("total_tokens").cast(dec) * F.lit(BUDGET_PPM)
        ).alias("in_budget"),
    )


# ---------------------------------------------------------------------------
# host-disjoint train/val/test split + leakage audit
# ---------------------------------------------------------------------------

SPLIT_SALT = 7777  # decorrelates the split hash from the host draw itself
SPLIT_TRAIN, SPLIT_VAL = 0.8, 0.9  # knuth_u(host_idx + salt) thresholds


def _host_split_oracle() -> str:
    from .operators.sampling import KNUTH_U_SQL
    from .text_queries import FP_MD5_SQL, _HOSTED_CTE_SQL

    u = KNUTH_U_SQL.format(k=f"host_idx + {SPLIT_SALT}")
    return f"""
    WITH {_HOSTED_CTE_SQL},
    s AS (
      SELECT doc_id, host_idx,
             CASE WHEN {u} < {SPLIT_TRAIN} THEN 'train'
                  WHEN {u} < {SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split,
             {FP_MD5_SQL} AS fp
      FROM hosted),
    ps AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(count(DISTINCT host_idx) AS BIGINT) AS n_hosts,
                  CAST(count(DISTINCT fp) AS BIGINT) AS n_fps
           FROM s GROUP BY split),
    sf AS (SELECT DISTINCT split, fp FROM s),
    fs AS (SELECT fp, count(*) AS n_splits FROM sf GROUP BY fp),
    lk AS (SELECT sf.split, CAST(count(*) AS BIGINT) AS n_leaked_fps
           FROM sf JOIN fs ON fs.fp = sf.fp AND fs.n_splits >= 2
           GROUP BY sf.split)
    SELECT ps.split, n_docs, n_hosts, n_fps,
           coalesce(lk.n_leaked_fps, 0) AS n_leaked_fps
    FROM ps LEFT JOIN lk ON lk.split = ps.split
    """


@register("host_disjoint_split", _host_split_oracle())
def host_disjoint_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free eval split: assign WHOLE HOSTS to train/val/test
    (hash the host, not the document — the GPT-3/C4 deduplication
    lesson that URL-level splits leak near-identical pages across the
    boundary), then AUDIT what host-disjointness cannot fix: content
    fingerprints that still appear in more than one split because the
    same text lives on multiple hosts (mirrors, syndication).

    Output: one row per split with doc/host/fingerprint counts and
    n_leaked_fps — the measured residual cross-split contamination
    that a decontamination pass (corpus_decontamination) must remove.

    Scale shape: the split is a pure map (Knuth hash of host_idx +
    salt); the audit is two fingerprint-keyed aggs and one
    fingerprint-keyed join, all on the uniform md5 key; per-split
    rollups are 3-row aggregates with map-side partials. Zipf host
    skew only affects split-size balance (visible in n_docs — that IS
    the telemetry), never a hot join key."""
    from .operators.sampling import knuth_u
    from .sources.pages import _host_idx_col
    from .text_queries import fp_md5_col

    d = _t(spark, sf_dir, "documents")
    u = knuth_u(F.col("host_idx") + SPLIT_SALT)
    s = d.select(
        _host_idx_col().alias("host_idx"), fp_md5_col(F.col("text")).alias("fp")
    ).select(
        "host_idx",
        "fp",
        F.when(u < SPLIT_TRAIN, F.lit("train"))
        .when(u < SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    # persist the split-tagged scan (feeds the per-split rollup AND the
    # leakage branch) and the distinct (split, fp) table (feeds the
    # fp-cardinality agg AND the semi-join) — without these the corpus
    # is re-scanned and re-hashed once per consumer
    from pyspark import StorageLevel

    s = s.persist(StorageLevel.MEMORY_AND_DISK)
    ps = s.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("host_idx").alias("n_hosts"),
        F.countDistinct("fp").alias("n_fps"),
    )
    sf = s.select("split", "fp").distinct().persist(StorageLevel.MEMORY_AND_DISK)
    fs = sf.groupBy("fp").agg(F.count("*").alias("n_splits"))
    lk = (
        sf.join(fs.filter(F.col("n_splits") >= 2).select("fp"), "fp", "left_semi")
        .groupBy("split")
        .agg(F.count("*").alias("n_leaked_fps"))
    )
    return (
        ps.join(lk, "split", "left")
        .na.fill({"n_leaked_fps": 0})
        .select("split", "n_docs", "n_hosts", "n_fps", "n_leaked_fps")
    )


# ---------------------------------------------------------------------------
# pagination stitch join (multi-page article reassembly)
# ---------------------------------------------------------------------------

OVERLAP_K = 5  # stitch key: trailing/leading k-token overlap
STITCH_MIN_TOKENS = 12  # only docs this long are split into pages
STITCH_MOD, STITCH_RES = 11, 5  # which docs get paginated twins
STITCH_OFF1 = 2_000_000_000_000  # page-1 pseudo-ids
STITCH_OFF2 = 3_000_000_000_000  # page-2 pseudo-ids
STITCH_MAX_DF = 20  # hot-key cut on the overlap fingerprint


_STITCH_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, text, str_split(text, ' ') AS tk,
             len(str_split(text, ' ')) AS n
      FROM documents),
    elig AS (
      SELECT doc_id, tk, n, n // 2 AS m FROM base
      WHERE doc_id % {STITCH_MOD} = {STITCH_RES} AND n >= {STITCH_MIN_TOKENS}),
    parts AS (
      SELECT doc_id + {STITCH_OFF1} AS doc_id,
             array_to_string(tk[1:m], ' ') AS text FROM elig
      UNION ALL
      SELECT doc_id + {STITCH_OFF2},
             array_to_string(tk[m-{OVERLAP_K - 1}:n], ' ') FROM elig),
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id, text FROM parts),
    pg AS (
      SELECT doc_id, str_split(text, ' ') AS tk,
             len(str_split(text, ' ')) AS n
      FROM corpus),
    fps AS (
      SELECT doc_id,
             md5(array_to_string(tk[1:{OVERLAP_K}], ' ')) AS head_fp,
             md5(array_to_string(tk[n-{OVERLAP_K - 1}:n], ' ')) AS tail_fp
      FROM pg WHERE n >= {OVERLAP_K}),
    t AS (SELECT doc_id AS prev_id, tail_fp AS fp FROM fps),
    h AS (SELECT doc_id AS next_id, head_fp AS fp FROM fps),
    tok AS (SELECT fp FROM t GROUP BY fp HAVING count(*) <= {STITCH_MAX_DF}),
    hok AS (SELECT fp FROM h GROUP BY fp HAVING count(*) <= {STITCH_MAX_DF})
    SELECT t.prev_id, h.next_id, t.fp AS overlap_fp
    FROM t
    JOIN tok ON tok.fp = t.fp
    JOIN h ON h.fp = t.fp AND h.next_id <> t.prev_id
    JOIN hok ON hok.fp = t.fp
"""


@register("doc_pagination_stitch", _STITCH_ORACLE)
def doc_pagination_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-page article reassembly: sites paginate long articles and
    scrapers re-fetch them as separate pages whose text OVERLAPS at the
    boundary (the repeated last paragraph). Stitch candidates are
    (prev, next) pairs where prev's trailing OVERLAP_K tokens equal
    next's leading OVERLAP_K tokens — a directional equi-join on the
    overlap fingerprint that exact dedup (whole-doc hash) and MinHash
    (symmetric similarity) both miss.

    The paginated side is synthesized in-query so planted positives are
    deterministic on any input: every doc with
    doc_id % {STITCH_MOD} == {STITCH_RES} and >= {STITCH_MIN_TOKENS}
    tokens contributes two pseudo-pages — the first half, and the
    second half prefixed with the first half's last {OVERLAP_K} tokens
    (the scraped-overlap model). The join must recover exactly those
    (page1, page2) pairs plus any natural tail/head coincidences.

    Scale shape: fingerprints are narrow JVM maps (slice + md5); the
    join is an equi-join on a uniform content hash with an explicit
    frequency cut (> {STITCH_MAX_DF} occurrences on either side
    dropped, mirrored in the oracle) so a boilerplate ending can never
    fan out quadratically — the same hot-key discipline as the
    syndication and n-gram dedup joins."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.select(
        "doc_id",
        "text",
        F.split(F.col("text"), " ").alias("tk"),
        F.size(F.split(F.col("text"), " ")).alias("n"),
    )
    elig = base.filter(
        ((F.col("doc_id") % STITCH_MOD) == STITCH_RES)
        & (F.col("n") >= STITCH_MIN_TOKENS)
    ).withColumn("m", F.expr("n div 2"))
    part1 = elig.select(
        (F.col("doc_id") + STITCH_OFF1).alias("doc_id"),
        F.array_join(F.expr("slice(tk, 1, m)"), " ").alias("text"),
    )
    # when() keeps the slice total: under downstream joins Catalyst may
    # evaluate this projection speculatively on rows the n-filter later
    # discards, and m - 4 is a non-positive slice start for short docs
    # (the dedup_winnowing lesson). The filter still owns the semantics.
    part2 = elig.select(
        (F.col("doc_id") + STITCH_OFF2).alias("doc_id"),
        F.when(
            F.col("n") >= STITCH_MIN_TOKENS,
            F.array_join(
                F.expr(f"slice(tk, m - {OVERLAP_K - 1}, n - m + {OVERLAP_K})"), " "
            ),
        )
        .otherwise(F.lit(""))
        .alias("text"),
    )
    corpus = d.unionByName(part1).unionByName(part2)
    pg = corpus.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("tk"),
        F.size(F.split(F.col("text"), " ")).alias("n"),
    ).filter(F.col("n") >= OVERLAP_K)
    fps = pg.select(
        "doc_id",
        F.md5(
            F.encode(F.array_join(F.expr(f"slice(tk, 1, {OVERLAP_K})"), " "), "UTF-8")
        ).alias("head_fp"),
        F.md5(
            F.encode(
                # when() guard: n - 4 is slice start 0 for a 4-token doc
                # if this projection is evaluated before the n-filter
                F.when(
                    F.col("n") >= OVERLAP_K,
                    F.array_join(
                        F.expr(f"slice(tk, n - {OVERLAP_K - 1}, {OVERLAP_K})"), " "
                    ),
                ).otherwise(F.lit("")),
                "UTF-8",
            )
        ).alias("tail_fp"),
    )
    # persist: fps feeds four consumers (two df-cut aggregates + both
    # join sides); without it each consumer re-scans and re-fingerprints
    # the whole corpus (the multi-consumer persist discipline)
    from pyspark import StorageLevel

    fps = fps.persist(StorageLevel.MEMORY_AND_DISK)
    tails = fps.select(F.col("doc_id").alias("prev_id"), F.col("tail_fp").alias("fp"))
    heads = fps.select(F.col("doc_id").alias("next_id"), F.col("head_fp").alias("fp"))
    t_ok = tails.groupBy("fp").count().filter(F.col("count") <= STITCH_MAX_DF).select("fp")
    h_ok = heads.groupBy("fp").count().filter(F.col("count") <= STITCH_MAX_DF).select("fp")
    return (
        tails.join(t_ok, "fp", "left_semi")
        .join(heads.join(h_ok, "fp", "left_semi"), "fp")
        .filter(F.col("prev_id") != F.col("next_id"))
        .select("prev_id", "next_id", F.col("fp").alias("overlap_fp"))
    )


_ORACLES["token_budget_quality_cut"] = _budget_oracle()


# ---------------------------------------------------------------------------
# max-min fair crawl-budget allocation (water filling)
# ---------------------------------------------------------------------------

CRAWL_BUDGET_DIV = 5  # per-cycle crawl budget = total_docs div 5 (20%)


def _fair_share_oracle() -> str:
    from .text_queries import _HOSTED_CTE_SQL

    return f"""
    WITH {_HOSTED_CTE_SQL},
    counts AS (
      SELECT host_idx, CAST(count(*) AS BIGINT) AS demand
      FROM hosted GROUP BY host_idx),
    r AS (
      SELECT host_idx, demand,
             row_number() OVER (ORDER BY demand, host_idx) AS i,
             sum(demand) OVER (ORDER BY demand, host_idx) AS pfx,
             sum(demand) OVER () AS total,
             count(*) OVER () AS n_hosts
      FROM counts),
    r3 AS (
      SELECT host_idx, demand, i, n_hosts,
             total // {CRAWL_BUDGET_DIV} AS budget,
             CASE WHEN total // {CRAWL_BUDGET_DIV} <= pfx - demand THEN 0
                  ELSE (total // {CRAWL_BUDGET_DIV} - (pfx - demand))
                       // (n_hosts - i + 1) END AS cand
      FROM r),
    lvl AS (
      SELECT coalesce(arg_min(CASE WHEN cand < demand THEN cand END,
                              CASE WHEN cand < demand THEN i END),
                      max(demand)) AS water_level,
             max(budget) AS budget
      FROM r3),
    a AS (
      SELECT r3.host_idx, r3.demand,
             CASE WHEN r3.demand < lvl.water_level THEN r3.demand
                  ELSE lvl.water_level END AS alloc,
             r3.demand > lvl.water_level AS saturated,
             lvl.water_level, lvl.budget
      FROM r3, lvl),
    left_over AS (SELECT max(budget) - sum(alloc) AS leftover_slots FROM a)
    SELECT concat('host', lpad(CAST(a.host_idx AS VARCHAR), 2, '0'),
                  '.example.com') AS host,
           a.demand, CAST(a.alloc AS BIGINT) AS alloc, a.saturated,
           CAST(a.water_level AS BIGINT) AS water_level,
           CAST(left_over.leftover_slots AS BIGINT) AS leftover_slots
    FROM a, left_over
    """


@register("host_fair_share_alloc", _fair_share_oracle())
def host_fair_share_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair (water-filling) crawl-budget allocation: a crawl
    cycle has budget B = total_docs div {CRAWL_BUDGET_DIV} fetch slots;
    every host demands its full document count; each host receives
    min(demand, t) where the water level t is the largest integer with
    sum_h min(demand_h, t) <= B — the classic max-min fairness rule
    (Bertsekas-Gallager; RCP/processor-sharing water filling, public).
    Small hosts are fully served, the Zipf head is capped at t, and no
    budget is wasted beyond the sub-t integer remainder (reported as
    leftover_slots; sub-level slot-by-slot distribution is deliberately
    NOT done — the remainder is < the saturated-host count and visible).

    Algorithm: on the ~|hosts|-row demand table sorted ascending,
    segment i's candidate level is (B - prefix_{{i-1}}) div (n-i+1);
    the first i whose candidate falls below its own demand yields t
    (first-by-order via min_by / arg_min, null ordering keys skipped in
    both engines). B < total guarantees the mask is non-empty; the
    max(demand) coalesce covers the degenerate no-saturation case if
    the budget rule ever changes.

    Scale shape: ONE map-side-combinable groupBy over documents; every
    window runs constant-key over the bounded host table; the water
    level and the leftover are 1-row broadcasts (whitelisted). The
    Zipf skew is the POINT here — it determines t — and never touches
    a per-document shuffle key."""
    from pyspark.sql import Window

    from .sources.pages import _host_idx_col, _host_name

    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy(_host_idx_col().alias("host_idx")).agg(
        F.count("*").alias("demand")
    )
    one = F.col("host_idx") % 1  # constant partition over the |hosts|-row table
    w_ord = (
        Window.partitionBy(one)
        .orderBy("demand", "host_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(one)
    r = counts.select(
        "host_idx",
        "demand",
        F.row_number().over(Window.partitionBy(one).orderBy("demand", "host_idx")).alias("i"),
        F.sum("demand").over(w_ord).alias("pfx"),
        F.sum("demand").over(w_all).alias("total"),
        F.count("*").over(w_all).alias("n_hosts"),
    )
    r3 = r.select(
        "host_idx",
        "demand",
        "i",
        "n_hosts",
        F.expr(f"total div {CRAWL_BUDGET_DIV}").alias("budget"),
        F.expr(
            f"CASE WHEN total div {CRAWL_BUDGET_DIV} <= pfx - demand THEN 0"
            f" ELSE (total div {CRAWL_BUDGET_DIV} - (pfx - demand))"
            f" div (n_hosts - i + 1) END"
        ).alias("cand"),
    )
    mask = F.col("cand") < F.col("demand")
    lvl = r3.agg(
        F.coalesce(
            F.min_by(F.when(mask, F.col("cand")), F.when(mask, F.col("i"))),
            F.max("demand"),
        ).alias("water_level"),
    )
    a = r3.crossJoin(F.broadcast(lvl)).select(
        "host_idx",
        "demand",
        F.least(F.col("demand"), F.col("water_level")).alias("alloc"),
        (F.col("demand") > F.col("water_level")).alias("saturated"),
        "water_level",
        "budget",
    )
    left_over = a.agg((F.max("budget") - F.sum("alloc")).alias("leftover_slots"))
    return a.crossJoin(F.broadcast(left_over)).select(
        _host_name().alias("host"),
        "demand",
        "alloc",
        "saturated",
        "water_level",
        "leftover_slots",
    )
