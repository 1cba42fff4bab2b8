"""Crawl-archive operations: the bookkeeping a long-lived web archive
runs BETWEEN crawls — revisit-record compression (the CDX dedup trick),
syndication linkage by edit distance, host mirror detection, release
diffing by set digest, and corpus-concentration monitoring.

Everything here is exact integer arithmetic (128-bit via
HUGEINT/DECIMAL(38,0) where a ppm numerator can pass int64) with a
closed-form DuckDB oracle per query. Blocking keys are always
high-cardinality content hashes with an explicit frequency cap mirrored
in the oracle, so no self-join can fan out on a hot key at 10^12 rows.

Engine-parity note on `levenshtein`: Spark computes it over CHARACTERS,
DuckDB over BYTES — identical only on ASCII. The linkage key is
therefore explicitly projected to printable ASCII (`[^\\x20-\\x7e]`
stripped) in BOTH engines before the distance, making the semantics
engine-equal for any input, not just this corpus.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .curation_queries import _HEX_A_SQL, _hex_slice_col
from .relational import ORACLES as _ORACLES
from .relational import register, _t, _td
from .sources.pages import _host_idx_col, _host_name
from .text_queries import FP_MD5_SQL, _HOSTED_CTE_SQL, fp_md5_col

# ---------------------------------------------------------------------------
# headline syndication linkage (edit-distance record linkage)
# ---------------------------------------------------------------------------

LINK_BLOCK_T = 3  # blocking key: first 3 tokens (classic prefix blocking)
LINK_HEAD_T = 8  # headline = first 8 tokens
LINK_MAX_BLOCK = 50  # hot-block cut: skip blocks larger than this
LINK_MAX_DIST = 10  # linked verdict threshold (edit ops over ~40 chars)

_ASCII_RE = r"[^\x20-\x7e]"


@register(
    "headline_syndication_pairs",
    f"""
    WITH d AS (SELECT doc_id, str_split(text, ' ') AS tk
               FROM documents WHERE text <> ''),
    h AS (SELECT doc_id,
                 md5(array_to_string(tk[1:{LINK_BLOCK_T}], ' ')) AS bk,
                 regexp_replace(array_to_string(tk[1:{LINK_HEAD_T}], ' '),
                                '{_ASCII_RE}', '', 'g') AS head
          FROM d),
    keep AS (SELECT bk FROM h GROUP BY bk HAVING count(*) <= {LINK_MAX_BLOCK}),
    hk AS (SELECT h.doc_id, h.bk, h.head FROM h JOIN keep USING (bk))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist,
           levenshtein(a.head, b.head) <= {LINK_MAX_DIST} AS linked
    FROM hk a JOIN hk b ON a.bk = b.bk AND a.doc_id < b.doc_id
    """,
)
def headline_syndication_pairs(spark: SparkSession, sf_dir: str, _spread: bool = False) -> DataFrame:
    """Syndicated-article detection: candidate pairs from prefix
    blocking (identical first-{LINK_BLOCK_T}-token hash, the standard
    record-linkage blocking key), verified by Levenshtein distance over
    the first-{LINK_HEAD_T}-token headline. Wire services re-publish
    the same story with local edits; exact-dup passes miss it, the
    MinHash grain is too coarse for 8-token heads — edit distance on a
    blocked candidate set is the classic middle path (Fellegi-Sunter
    record linkage; public).

    Scale shape: the blocking key is a content hash, joined equi; the
    hot-block cut (> {LINK_MAX_BLOCK} members skipped, mirrored in the
    oracle's `keep` CTE) bounds per-key fanout the same way
    dedup_ngram_jaccard's stop-shingle cut does, so a boilerplate
    headline shared by millions of pages never quadratic-joins. The
    distance runs JVM-side (`levenshtein` is codegen'd); heads are
    projected to printable ASCII in both engines first — Spark counts
    characters, DuckDB counts bytes, and the explicit projection makes
    them provably equal on any input."""
    # standalone, the expensive head/edit-distance columns are count-
    # prunable and a scan spread only adds an exchange; composed
    # (syndication_direction forces the distance for every pair) the
    # caller asks for the spread read explicitly.
    d = (_td(spark, sf_dir) if _spread else _t(spark, sf_dir, "documents")).filter(
        F.col("text") != ""
    )
    tk = F.split("text", " ")
    h = d.select(
        "doc_id",
        F.md5(F.array_join(F.slice(tk, 1, LINK_BLOCK_T), " ")).alias("bk"),
        F.regexp_replace(
            F.array_join(F.slice(tk, 1, LINK_HEAD_T), " "), _ASCII_RE, ""
        ).alias("head"),
    )
    # three consumers (block-size cut + both self-join sides) — persist
    # the narrow (doc_id, bk, head) projection so the documents scan
    # runs ONCE (the funnel lesson: re-scan is 3x the projection cost)
    h = h.persist(StorageLevel.MEMORY_AND_DISK)
    keep = h.groupBy("bk").agg(F.count("*").alias("_c")).filter(
        F.col("_c") <= LINK_MAX_BLOCK
    ).select("bk")
    hk = h.join(keep, "bk")
    a = hk.alias("a")
    b = hk.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dist.cast("long").alias("edit_dist"),
            (dist <= LINK_MAX_DIST).alias("linked"),
        )
    )


# ---------------------------------------------------------------------------
# capture-revisit interval compression (CDX revisit records)
# ---------------------------------------------------------------------------

REVISIT_CAPTURES = 6  # adjacent doc_ids fold into one url's capture history


@register(
    "capture_revisit_intervals",
    f"""
    WITH d AS (SELECT doc_id, {FP_MD5_SQL} AS fp FROM documents),
    cap AS (
      SELECT doc_id // {REVISIT_CAPTURES} AS url_key,
             doc_id % {REVISIT_CAPTURES} AS capture_idx,
             (doc_id // {REVISIT_CAPTURES}) * {REVISIT_CAPTURES}
               + least(doc_id % {REVISIT_CAPTURES},
                       (doc_id // {REVISIT_CAPTURES}) % {REVISIT_CAPTURES})
               AS src_id
      FROM d),
    j AS (SELECT cap.url_key, cap.capture_idx, d.fp
          FROM cap JOIN d ON d.doc_id = cap.src_id),
    m AS (SELECT url_key, capture_idx, fp,
                 CASE WHEN fp = lag(fp) OVER
                        (PARTITION BY url_key ORDER BY capture_idx)
                      THEN 0 ELSE 1 END AS chg
          FROM j),
    v AS (SELECT url_key, capture_idx, fp,
                 CAST(sum(chg) OVER (PARTITION BY url_key ORDER BY capture_idx)
                      AS BIGINT) AS version_seq
          FROM m)
    SELECT url_key, version_seq, min(fp) AS digest,
           CAST(min(capture_idx) AS BIGINT) AS first_capture,
           CAST(max(capture_idx) AS BIGINT) AS last_capture,
           CAST(count(*) AS BIGINT) AS n_captures,
           count(*) > 1 AS has_revisits
    FROM v GROUP BY url_key, version_seq
    """,
)
def capture_revisit_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX revisit-record compression: a url's capture history collapses
    into one row per CONTENT VERSION — [first_capture, last_capture]
    intervals over runs of identical digests. This is exactly how the
    Internet Archive's CDX index stores refetches that returned
    unchanged content (a `revisit` record pointing at the original
    capture), and the input recrawl_schedule's change-rate estimate
    would consume at interval grain.

    The capture history is synthesized deterministically in-corpus:
    url u's capture i fetches the content of doc
    ``u*{REVISIT_CAPTURES} + min(i, u % {REVISIT_CAPTURES})`` — every
    url changes for its first ``u % {REVISIT_CAPTURES}`` fetches, then
    freezes (the Cho/Garcia-Molina mixed-rate shape: some urls change
    every fetch, some never).

    Scale shape: one keyed equi-join (capture -> source doc id) and two
    windows PARTITIONED BY url_key with group size bounded by
    {REVISIT_CAPTURES} — never a global window; the final rollup is a
    keyed aggregation with map-side partials. At 10^12 captures every
    stage shuffles on the uniform url_key."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", fp_md5_col(F.col("text")).alias("fp")
    )
    u = F.expr(f"doc_id div {REVISIT_CAPTURES}")
    i = F.col("doc_id") % REVISIT_CAPTURES
    cap = d.select(
        u.alias("url_key"),
        i.alias("capture_idx"),
        (u * REVISIT_CAPTURES + F.least(i, u % REVISIT_CAPTURES)).alias("src_id"),
    )
    j = cap.join(d, cap.src_id == d.doc_id).select("url_key", "capture_idx", "fp")
    w = Window.partitionBy("url_key").orderBy("capture_idx")
    chg = F.when(F.col("fp") == F.lag("fp").over(w), 0).otherwise(1)
    v = j.withColumn("chg", chg).withColumn(
        "version_seq", F.sum("chg").over(w).cast("long")
    )
    return v.groupBy("url_key", "version_seq").agg(
        F.min("fp").alias("digest"),
        F.min("capture_idx").cast("long").alias("first_capture"),
        F.max("capture_idx").cast("long").alias("last_capture"),
        F.count("*").cast("long").alias("n_captures"),
        (F.count("*") > 1).alias("has_revisits"),
    )


# ---------------------------------------------------------------------------
# host concentration profile (crawl-health monitoring)
# ---------------------------------------------------------------------------


@register(
    "host_concentration_profile",
    f"""
    WITH {_HOSTED_CTE_SQL},
    hc AS (SELECT host_idx, CAST(count(*) AS BIGINT) AS c
           FROM hosted GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_hosts,
                   CAST(sum(c) AS BIGINT) AS n_docs,
                   CAST(max(c) AS BIGINT) AS mx
            FROM hc),
    ranked AS (SELECT c, row_number() OVER (ORDER BY c, host_idx) AS r FROM hc),
    g AS (SELECT CAST(sum(r * c) AS BIGINT) AS s1 FROM ranked),
    h2 AS (SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sq FROM hc)
    SELECT n_hosts, n_docs,
           mx * 1000000 // n_docs AS top1_share_ppm,
           CAST(sq * 1000000 // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT)
             AS hhi_ppm,
           CAST((CAST(2 * s1 AS HUGEINT) - CAST((n_hosts + 1) AS HUGEINT) * n_docs)
                * 1000000 // (CAST(n_hosts AS HUGEINT) * n_docs) AS BIGINT)
             AS gini_ppm
    FROM tot, g, h2
    """,
)
def host_concentration_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row crawl-concentration monitor: Herfindahl-Hirschman index,
    exact Gini coefficient, and top-host share of the per-host document
    distribution, all in integer ppm. The alarm a crawl operator
    watches for frontier capture (one host eating the fetch budget) —
    the numbers the politeness/host-cap knobs (host_downsample_cap,
    crawl_frontier_slots) are tuned against.

    Gini over counts sorted ascending: G = (2*sum(i*x_i) - (n+1)*S)
    / (n*S), numerator provably non-negative for ascending order.
    HHI = sum(x_i^2)/S^2. Both numerators pass int64 at 10^12 docs
    (x^2 ~ 10^24), so the divisions run 128-bit — HUGEINT in DuckDB,
    DECIMAL(38,0) `div` in Spark, floor semantics identical on
    non-negative operands.

    Scale shape: ONE map-side-combinable host aggregation over the
    corpus; everything after runs on the ~|hosts|-row counts table
    (rank window under the non-foldable constant-key idiom, three 1-row
    aggregates cross-joined — each side provably tiny)."""
    d = _t(spark, sf_dir, "documents")
    # three consumers (totals, Gini rank sum, HHI square sum) — persist
    # the ~|hosts|-row counts table so the corpus host agg runs ONCE
    hc = (
        d.select(_host_idx_col().alias("host_idx"))
        .groupBy("host_idx")
        .agg(F.count("*").cast("long").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = hc.agg(
        F.count("*").cast("long").alias("n_hosts"),
        F.sum("c").cast("long").alias("n_docs"),
        F.max("c").cast("long").alias("mx"),
    )
    # rank window on the tiny counts table — constant non-foldable key
    # keeps the partition spec non-empty (plan-audit rule)
    w = Window.partitionBy(F.col("host_idx") % 1).orderBy("c", "host_idx")
    g = hc.withColumn("r", F.row_number().over(w)).agg(
        F.sum(F.col("r") * F.col("c")).cast("long").alias("s1")
    )
    h2 = hc.agg(
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("sq")
    )
    return tot.crossJoin(g).crossJoin(h2).selectExpr(
        "n_hosts",
        "n_docs",
        "mx * 1000000 div n_docs AS top1_share_ppm",
        "CAST(CAST(sq AS DECIMAL(38,0)) * 1000000"
        " div (CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT) AS hhi_ppm",
        "CAST((CAST(2 * s1 AS DECIMAL(38,0)) - CAST(n_hosts + 1 AS DECIMAL(38,0)) * n_docs)"
        " * 1000000 div (CAST(n_hosts AS DECIMAL(38,0)) * n_docs) AS BIGINT) AS gini_ppm",
    )


# ---------------------------------------------------------------------------
# shard manifest diff (incremental dataset publishing)
# ---------------------------------------------------------------------------

DIFF_SHARDS = 64  # matches training_shard_manifest's N_SHARDS shape
DIFF_ADD_MOD, DIFF_ADD_REM = 50, 3  # docs new in v2 (crawled since v1)
DIFF_DEL_MOD, DIFF_DEL_REM = 41, 5  # docs dropped from v2 (dead pages)

_FP60_SQL = _HEX_A_SQL.format(fp=FP_MD5_SQL)


@register(
    "shard_manifest_diff",
    f"""
    WITH v1 AS (SELECT {_FP60_SQL} AS f FROM documents
                WHERE doc_id % {DIFF_ADD_MOD} <> {DIFF_ADD_REM}),
    v2 AS (SELECT {_FP60_SQL} AS f FROM documents
           WHERE doc_id % {DIFF_DEL_MOD} <> {DIFF_DEL_REM}),
    a1 AS (SELECT f % {DIFF_SHARDS} AS shard_id,
                  CAST(count(*) AS BIGINT) AS n, bit_xor(f) AS x
           FROM v1 GROUP BY 1),
    a2 AS (SELECT f % {DIFF_SHARDS} AS shard_id,
                  CAST(count(*) AS BIGINT) AS n, bit_xor(f) AS x
           FROM v2 GROUP BY 1)
    SELECT coalesce(a1.shard_id, a2.shard_id) AS shard_id,
           coalesce(a1.n, 0) AS n_v1, coalesce(a2.n, 0) AS n_v2,
           coalesce(a1.x, 0) AS digest_v1, coalesce(a2.x, 0) AS digest_v2,
           CASE WHEN a1.shard_id IS NULL THEN 'added'
                WHEN a2.shard_id IS NULL THEN 'removed'
                WHEN a1.n = a2.n AND a1.x = a2.x THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM a1 FULL JOIN a2 ON a1.shard_id = a2.shard_id
    """,
)
def shard_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-release diff: which content-addressed shards changed
    between two corpus versions, decided by per-shard set digests
    (count + XOR of 60-bit content fingerprints — the order-independent
    set-hash trick rsync-style publishers use to skip unchanged
    shards). v1/v2 are deterministic in-corpus slices: v2 gains the
    docs crawled since v1 (doc_id % {DIFF_ADD_MOD} == {DIFF_ADD_REM})
    and loses the dead pages (doc_id % {DIFF_DEL_MOD} == {DIFF_DEL_REM}).
    A publisher re-uploads only the 'changed'/'added' shards; the
    training_shard_manifest table is the thing being diffed.

    Scale shape: two full scans, each reduced by ONE {DIFF_SHARDS}-group
    aggregation with map-side partials (count and bit_xor both
    combine); the diff itself is a {DIFF_SHARDS}-row full outer join.
    XOR never overflows and is insensitive to row order/partitioning,
    so a resumed or re-partitioned writer produces the identical
    digest."""
    d = _t(spark, sf_dir, "documents")
    f = _hex_slice_col(fp_md5_col(F.col("text")), 1)

    def side(pred):
        return (
            d.filter(pred)
            .select(f.alias("f"))
            .groupBy((F.col("f") % DIFF_SHARDS).alias("shard_id"))
            .agg(
                F.count("*").cast("long").alias("n"),
                F.expr("bit_xor(f)").alias("x"),
            )
        )

    a1 = side(F.col("doc_id") % DIFF_ADD_MOD != DIFF_ADD_REM).alias("a1")
    a2 = side(F.col("doc_id") % DIFF_DEL_MOD != DIFF_DEL_REM).alias("a2")
    return a1.join(a2, F.col("a1.shard_id") == F.col("a2.shard_id"), "full").select(
        F.coalesce(F.col("a1.shard_id"), F.col("a2.shard_id")).alias("shard_id"),
        F.coalesce(F.col("a1.n"), F.lit(0)).alias("n_v1"),
        F.coalesce(F.col("a2.n"), F.lit(0)).alias("n_v2"),
        F.coalesce(F.col("a1.x"), F.lit(0)).alias("digest_v1"),
        F.coalesce(F.col("a2.x"), F.lit(0)).alias("digest_v2"),
        F.when(F.col("a1.shard_id").isNull(), "added")
        .when(F.col("a2.shard_id").isNull(), "removed")
        .when(
            (F.col("a1.n") == F.col("a2.n")) & (F.col("a1.x") == F.col("a2.x")),
            "unchanged",
        )
        .otherwise("changed")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# host mirror detection (paragraph-set Jaccard between hosts)
# ---------------------------------------------------------------------------

MIRROR_PARA_WORDS = 20  # same paragraph grain as graph_queries
MIRROR_MAX_HOSTS = 16  # stop-paragraph cut: fp on more hosts is template
MIRROR_PPM = 5_000  # mirror verdict threshold on paragraph-set Jaccard


@register(
    "host_mirror_pairs",
    f"""
    WITH {_HOSTED_CTE_SQL},
    t AS (SELECT host_idx, str_split(text, ' ') AS tk,
                 len(str_split(text, ' ')) AS n
          FROM hosted WHERE text <> ''),
    paras AS (
      SELECT DISTINCT host_idx,
             md5(array_to_string(
               tk[CAST(s AS INT) + 1 : CAST(s AS INT) + {MIRROR_PARA_WORDS}],
               ' ')) AS fp
      FROM t, unnest(range(0, n, {MIRROR_PARA_WORDS})) AS r(s)),
    keep AS (SELECT fp FROM paras GROUP BY fp
             HAVING count(*) <= {MIRROR_MAX_HOSTS}),
    pk AS (SELECT paras.host_idx, paras.fp FROM paras JOIN keep USING (fp)),
    sizes AS (SELECT host_idx, CAST(count(*) AS BIGINT) AS np
              FROM pk GROUP BY 1),
    inter AS (
      SELECT a.host_idx AS host_a, b.host_idx AS host_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM pk a JOIN pk b ON a.fp = b.fp AND a.host_idx < b.host_idx
      GROUP BY 1, 2)
    SELECT host_a, host_b, n_shared,
           sa.np AS n_paras_a, sb.np AS n_paras_b,
           CAST(CAST(n_shared AS HUGEINT) * 1000000
                // (sa.np + sb.np - n_shared) AS BIGINT) AS jaccard_ppm,
           CAST(CAST(n_shared AS HUGEINT) * 1000000
                // (sa.np + sb.np - n_shared) AS BIGINT) >= {MIRROR_PPM}
             AS is_mirror
    FROM inter JOIN sizes sa ON sa.host_idx = host_a
               JOIN sizes sb ON sb.host_idx = host_b
    """,
)
def host_mirror_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-site detection: host pairs ranked by Jaccard similarity of
    their distinct paragraph-fingerprint sets (the Bharat/Broder 1999
    "mirror hosts on the web" shape; public). A crawler that finds two
    hosts serving near-identical paragraph sets fetches one and maps
    the other — the host-level complement of the per-document dedup
    family.

    Scale shape: paragraph fps are uniform content hashes; the
    stop-paragraph cut (fp on > {MIRROR_MAX_HOSTS} hosts skipped,
    mirrored in the oracle) bounds the fp self-join's per-key fanout —
    site-template boilerplate shared by thousands of hosts never
    explodes, same discipline as dedup_ngram_jaccard's stop-shingle
    cut. The pair aggregation shuffles on (host_a, host_b); the sizes
    table is ~|hosts| rows and broadcasts. The ppm division runs
    128-bit (intersections can pass int64 ppm-scaled at archive
    scale)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text") != "")
    tk = F.split("text", " ")
    t = d.select(
        _host_idx_col().alias("host_idx"),
        tk.alias("tk"),
        F.size(tk).alias("n"),
    )
    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(MIRROR_PARA_WORDS))
    paras = (
        t.select("host_idx", F.explode(starts).alias("s"), "tk")
        .select(
            "host_idx",
            F.md5(
                F.array_join(
                    F.slice(F.col("tk"), F.col("s") + 1, MIRROR_PARA_WORDS), " "
                )
            ).alias("fp"),
        )
        .distinct()
    )
    # three consumers (the frequency cut + both self-join sides) —
    # persist the distinct (host, fp) table so the paragraph explode +
    # distinct exchange runs ONCE
    paras = paras.persist(StorageLevel.MEMORY_AND_DISK)
    keep = (
        paras.groupBy("fp")
        .agg(F.count("*").alias("_h"))
        .filter(F.col("_h") <= MIRROR_MAX_HOSTS)
        .select("fp")
    )
    pk = paras.join(keep, "fp")
    sizes = pk.groupBy("host_idx").agg(F.count("*").cast("long").alias("np"))
    a = pk.alias("a")
    b = pk.alias("b")
    inter = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.host_idx") < F.col("b.host_idx")))
        .groupBy(
            F.col("a.host_idx").alias("host_a"), F.col("b.host_idx").alias("host_b")
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    sa = F.broadcast(sizes.withColumnRenamed("np", "n_paras_a").withColumnRenamed("host_idx", "host_a"))
    sb = F.broadcast(sizes.withColumnRenamed("np", "n_paras_b").withColumnRenamed("host_idx", "host_b"))
    jac = F.expr(
        "CAST(CAST(n_shared AS DECIMAL(38,0)) * 1000000"
        " div (n_paras_a + n_paras_b - n_shared) AS BIGINT)"
    )
    return (
        inter.join(sa, "host_a")
        .join(sb, "host_b")
        .select(
            "host_a",
            "host_b",
            "n_shared",
            "n_paras_a",
            "n_paras_b",
            jac.alias("jaccard_ppm"),
            (jac >= MIRROR_PPM).alias("is_mirror"),
        )
    )


# ---------------------------------------------------------------------------
# vocabulary drift between releases (tokenizer-stability monitor)
# ---------------------------------------------------------------------------

VOCAB_DRIFT_K = 20  # the "tokenizer vocabulary" = v1's top-K terms


@register(
    "vocab_drift",
    f"""
    WITH t AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term
               FROM documents WHERE text <> ''),
    c1 AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM t
           WHERE doc_id % {DIFF_ADD_MOD} <> {DIFF_ADD_REM} GROUP BY 1),
    c2 AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM t
           WHERE doc_id % {DIFF_DEL_MOD} <> {DIFF_DEL_REM} GROUP BY 1),
    vocab AS (SELECT term FROM
                (SELECT term, row_number() OVER (ORDER BY c DESC, term) AS r
                 FROM c1)
              WHERE r <= {VOCAB_DRIFT_K})
    SELECT
      CAST((SELECT count(*) FROM vocab) AS BIGINT) AS n_vocab,
      CAST((SELECT count(*) FROM c1) AS BIGINT) AS n_terms_v1,
      CAST((SELECT count(*) FROM c2) AS BIGINT) AS n_terms_v2,
      CAST((SELECT count(*) FROM c2
            WHERE term NOT IN (SELECT term FROM c1)) AS BIGINT) AS n_new_terms,
      CAST((SELECT count(*) FROM c1
            WHERE term NOT IN (SELECT term FROM c2)) AS BIGINT)
        AS n_dropped_terms,
      CAST((SELECT sum(c) FROM c2) AS BIGINT) AS v2_tokens,
      CAST((SELECT coalesce(sum(c), 0) FROM c2
            WHERE term NOT IN (SELECT term FROM vocab)) AS BIGINT)
        AS v2_oov_tokens,
      CAST(CAST((SELECT coalesce(sum(c), 0) FROM c2
                 WHERE term NOT IN (SELECT term FROM vocab)) AS HUGEINT)
           * 1000000 // greatest((SELECT sum(c) FROM c2), 1) AS BIGINT)
        AS oov_ppm
    """,
)
def vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-stability monitor between the same two release slices
    shard_manifest_diff compares: how much of the NEW release a
    tokenizer vocabulary trained on the OLD release still covers. The
    vocabulary is v1's top-{VOCAB_DRIFT_K} terms by count (the
    fixed-size-vocab abstraction of a trained tokenizer); the row
    reports v2's out-of-vocabulary token share in ppm plus the raw
    drift counts (terms new in v2, terms dropped from v1) — the alarm a
    training pipeline reads before deciding whether a tokenizer retrain
    must gate the release.

    Scale shape: ONE keyed term aggregation with map-side combine
    counts both slices (term -> (c1, c2), each a conditional count; a
    term with c1 = 0 is not in v1). The top-K window over the v1 terms
    (the optimizer prunes its copy of the aggregation to c1) uses the
    non-foldable constant-key idiom so Spark's WindowGroupLimit takes a
    per-partition top-{VOCAB_DRIFT_K} BEFORE the exchange (the
    corpus_vocabulary lesson); the vocabulary is broadcast back onto the
    term table and every output is one conditional aggregate over it;
    the OOV share division runs 128-bit (token totals * 1e6 pass int64
    at 10^12 docs). Nothing is persisted."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text") != "")
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    c = t.groupBy("term").agg(
        F.count(F.when(F.col("doc_id") % DIFF_ADD_MOD != DIFF_ADD_REM, 1)).alias("c1"),
        F.count(F.when(F.col("doc_id") % DIFF_DEL_MOD != DIFF_DEL_REM, 1)).alias("c2"),
    )
    w = Window.partitionBy(F.col("c1") % 1).orderBy(F.col("c1").desc(), "term")
    vocab = F.broadcast(
        c.filter(F.col("c1") > 0)
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= VOCAB_DRIFT_K)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    v1, v2 = F.col("c1") > 0, F.col("c2") > 0
    return (
        c.join(vocab, "term", "left")
        .agg(
            F.count("in_vocab").alias("n_vocab"),
            F.count(F.when(v1, 1)).alias("n_terms_v1"),
            F.count(F.when(v2, 1)).alias("n_terms_v2"),
            F.count(F.when(v2 & ~v1, 1)).alias("n_new_terms"),
            F.count(F.when(v1 & ~v2, 1)).alias("n_dropped_terms"),
            F.sum(F.when(v2, F.col("c2"))).alias("v2_tokens"),
            F.coalesce(F.sum(F.when(v2 & F.col("in_vocab").isNull(), F.col("c2"))), F.lit(0))
            .alias("v2_oov_tokens"),
        )
        .selectExpr(
            "n_vocab",
            "n_terms_v1",
            "n_terms_v2",
            "n_new_terms",
            "n_dropped_terms",
            "v2_tokens",
            "v2_oov_tokens",
            "CAST(CAST(v2_oov_tokens AS DECIMAL(38,0)) * 1000000"
            " div greatest(v2_tokens, 1) AS BIGINT) AS oov_ppm",
        )
    )


# ---------------------------------------------------------------------------
# CDX front-coding compression (zipnum-block prefix elimination)
# ---------------------------------------------------------------------------

CDX_ZIP_BLOCK = 64  # front-coding restarts every 64 ids (the zipnum block)


def _frontcode_oracle() -> str:
    from .operators.sampling import DOC_U_SQL
    from .sources import pages as pages_src

    host_idx = f"len(list_filter({{cdf}}, c -> c < ({DOC_U_SQL})))"
    ext = f"""CASE
        WHEN doc_id % {pages_src.PDF_MOD} = 3 THEN 'pdf'
        WHEN doc_id % {pages_src.PDF_MOD} = {pages_src.JSON_REM} THEN 'json'
        WHEN doc_id % {pages_src.PDF_MOD} = {pages_src.HOCR_REM} THEN 'hocr'
        WHEN doc_id % {pages_src.TEXTRACT_MOD} = {pages_src.TEXTRACT_REM} THEN 'textract'
        ELSE 'html' END"""
    idpart = (
        "CASE WHEN length(CAST(doc_id AS VARCHAR)) >= 10 THEN CAST(doc_id AS VARCHAR) "
        "ELSE lpad(CAST(doc_id AS VARCHAR), 10, '0') END"
    )
    return f"""
    WITH h AS (
      SELECT doc_id, CAST({host_idx} AS INT) AS host_idx,
             concat('com,example,host',
                    lpad(CAST({host_idx} AS VARCHAR), 2, '0'), ')/',
                    lang, '/', {idpart}, '.', {ext}) AS urlkey
      FROM documents),
    b AS (
      SELECT host_idx, doc_id // {CDX_ZIP_BLOCK} AS block, urlkey,
             lag(urlkey) OVER (PARTITION BY host_idx, doc_id // {CDX_ZIP_BLOCK}
                               ORDER BY urlkey) AS prev
      FROM h),
    lc AS (
      SELECT host_idx, length(urlkey) AS raw,
             CASE WHEN prev IS NULL THEN 0
                  ELSE len(list_filter(
                         generate_series(1, least(length(urlkey), length(prev))),
                         i -> substring(urlkey, 1, CAST(i AS INT))
                              = substring(prev, 1, CAST(i AS INT)))) END AS lcp
      FROM b)
    SELECT concat('host', lpad(CAST(host_idx AS VARCHAR), 2, '0'),
                  '.example.com') AS host,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(sum(raw) AS BIGINT) AS raw_bytes,
           CAST(sum(raw - lcp) AS BIGINT) AS coded_bytes,
           CAST(sum(lcp) * 1000000 // sum(raw) AS BIGINT) AS savings_ppm
    FROM lc GROUP BY host_idx
    """


@register("cdx_prefix_compression", _frontcode_oracle())
def cdx_prefix_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Front-coding budget for the CDX index (the pywb/OpenWayback
    zipnum trick, public): within each compressed block, every SURT
    urlkey stores only its suffix after the longest common prefix with
    the PREVIOUS sorted key. This query measures the exact byte savings
    per host — the number that decides the index's storage bill.

    The urlkeys are parsed from the REAL pages table (same anatomy
    check as cdx_url_index — a wrong byte in any url desyncs the
    closed-form oracle). Front-coding restarts every {CDX_ZIP_BLOCK}
    ids per host, which is precisely the zipnum block structure: blocks
    are independently decompressible AND the sort-prefix window is
    bounded at {CDX_ZIP_BLOCK} rows, so the per-block lag window can
    never become a single-task sort no matter how Zipf-hot a host is
    (the crawl_frontier_slots lesson applied at design time).

    The LCP is computed with a monotone prefix-equality count —
    len(filter(1..min(len), i -> prefix_i(a) = prefix_i(b))) — which
    equals the longest common prefix exactly because prefix equality
    is downward-closed; the identical expression runs in both engines
    (no LCP builtin exists in either).

    Scale shape: a narrow map over the page scan, a lag window over
    <= {CDX_ZIP_BLOCK}-row partitions, one map-side-combinable host
    rollup."""
    from pyspark.sql import Window

    from .sources.pages import DOC_ID_URL_RE, materialize_pages

    pages = spark.read.parquet(materialize_pages(spark, sf_dir))
    parsed = pages.select(
        F.regexp_extract("url", r"https://host(\d{2})\.example\.com/", 1)
        .cast("int")
        .alias("host_idx"),
        F.regexp_extract("url", r"\.com/([a-z]*)/", 1).alias("langpart"),
        F.regexp_extract("url", DOC_ID_URL_RE, 1).alias("idpart"),
        F.regexp_extract("url", r"\.([a-z]+)$", 1).alias("ext"),
    )
    h = parsed.select(
        "host_idx",
        F.col("idpart").cast("long").alias("doc_id"),
        F.concat(
            F.lit("com,example,host"),
            F.lpad(F.col("host_idx").cast("string"), 2, "0"),
            F.lit(")/"),
            F.col("langpart"),
            F.lit("/"),
            F.col("idpart"),
            F.lit("."),
            F.col("ext"),
        ).alias("urlkey"),
    )
    w = Window.partitionBy(
        "host_idx", F.expr(f"doc_id div {CDX_ZIP_BLOCK}")
    ).orderBy("urlkey")
    b = h.select("host_idx", "urlkey", F.lag("urlkey").over(w).alias("prev"))
    lc = b.select(
        "host_idx",
        F.length("urlkey").alias("raw"),
        F.when(F.col("prev").isNull(), F.lit(0))
        .otherwise(
            F.expr(
                "size(filter(sequence(1, least(length(urlkey), length(prev))),"
                " i -> substring(urlkey, 1, i) = substring(prev, 1, i)))"
            )
        )
        .alias("lcp"),
    )
    return (
        lc.groupBy("host_idx")
        .agg(
            F.count("*").alias("n_urls"),
            F.sum("raw").alias("raw_bytes"),
            F.sum(F.col("raw") - F.col("lcp")).alias("coded_bytes"),
            F.expr("sum(lcp) * 1000000 div sum(raw)").alias("savings_ppm"),
        )
        .select(
            _host_name().alias("host"), "n_urls", "raw_bytes", "coded_bytes", "savings_ppm"
        )
    )



# ---------------------------------------------------------------------------
# syndication direction (who published first)
# ---------------------------------------------------------------------------

# capture time in epoch-offset SECONDS, closed-form in doc_id — the same
# deterministic warc_ts the pages source emits (sources/pages.py), kept
# as pure int64 here so the direction verdict never touches timestamps:
# (doc_id % 365) days + (doc_id * 7919) % 86400 seconds past 2024-01-01.
_CAP_SEC_SQL = "((({d}) % 365) * 86400 + (({d}) * 7919) % 86400)"


@register("syndication_direction")  # oracle assigned below (nests the pairs CTEs)
def syndication_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal source attribution over the syndication linkage: for
    every LINKED headline pair, which side published FIRST (the
    canonical/source copy — earlier capture timestamp, doc_id
    tie-break) and the republication lag in seconds — the step that
    turns undirected "these two are the same story" edges into the
    directed copy graph an attribution or canonical-selection policy
    consumes (news dedup keeps the source, drops the syndicated
    copies; lag percentiles profile wire-service propagation). The
    capture instant is the generator's closed-form warc_ts kept in
    pure int64 seconds — no timestamp types anywhere near the verdict,
    so both engines order identically.

    Scale shape: headline_syndication_pairs' plan verbatim (blocked
    equi-join with the hot-block cut; its pair population is bounded by
    the block cap) plus per-pair int64 expressions — no new shuffle, no
    new join. The oracle nests the pairs query's CTE chain and adds the
    same arithmetic, so the direction verdict is graded against the
    exact same linkage both engines already agree on."""
    pairs = headline_syndication_pairs(spark, sf_dir, _spread=True).filter(F.col("linked"))
    ts_a = F.expr(_CAP_SEC_SQL.format(d="id_a"))
    ts_b = F.expr(_CAP_SEC_SQL.format(d="id_b"))
    src_is_a = (ts_a < ts_b) | ((ts_a == ts_b) & (F.col("id_a") < F.col("id_b")))
    return pairs.select(
        "id_a",
        "id_b",
        "edit_dist",
        F.when(src_is_a, F.col("id_a")).otherwise(F.col("id_b")).alias("source_id"),
        F.when(src_is_a, F.col("id_b")).otherwise(F.col("id_a")).alias("copy_id"),
        F.greatest(ts_a - ts_b, ts_b - ts_a).cast("long").alias("lag_seconds"),
    )


def _syndication_direction_oracle() -> str:
    base = _ORACLES["headline_syndication_pairs"]
    with_part, select_part = base.rsplit("SELECT a.doc_id AS id_a", 1)
    ts_a = _CAP_SEC_SQL.format(d="id_a")
    ts_b = _CAP_SEC_SQL.format(d="id_b")
    return f"""{with_part.rstrip()},
    pairs AS (SELECT a.doc_id AS id_a{select_part})
    SELECT id_a, id_b, edit_dist,
           CASE WHEN {ts_a} < {ts_b}
                  OR ({ts_a} = {ts_b} AND id_a < id_b)
                THEN id_a ELSE id_b END AS source_id,
           CASE WHEN {ts_a} < {ts_b}
                  OR ({ts_a} = {ts_b} AND id_a < id_b)
                THEN id_b ELSE id_a END AS copy_id,
           CAST(greatest({ts_a} - {ts_b}, {ts_b} - {ts_a}) AS BIGINT)
             AS lag_seconds
    FROM pairs WHERE linked
    """


_ORACLES["syndication_direction"] = _syndication_direction_oracle()
