"""Training-data-pipeline queries: dedup, similarity search, text analysis.

Registered into the same queries()/oracle_sql() registry as relational.py.
Every query carries an exact DuckDB oracle — including the MinHash/SimHash
LSH paths (md5 + UHUGEINT mod-2^64 mirrors assigned via _ORACLES below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import dedup, similarity, textstats
from .operators.sampling import DOC_U_SQL, KNUTH_U_SQL
from .relational import _t, _td, register
from .sources.pages import _host_idx_col, _host_name


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_LANGS = sorted(textstats.LANG_MARKERS)
_N_LANGS = len(_LANGS)


def _marker_count_sql(words: list[str]) -> str:
    lits = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(str_split(text, ' '), x -> list_contains([{lits}], x)))"


def _lang_id_oracle() -> str:
    encoded = ", ".join(
        f"({_marker_count_sql(textstats.LANG_MARKERS[lang])} * {_N_LANGS} + {rank})"
        for rank, lang in enumerate(_LANGS)
    )
    lang_array = ", ".join(f"'{l}'" for l in _LANGS)
    return f"""
    WITH scored AS (
      SELECT doc_id, lang, greatest({encoded}) AS best FROM documents)
    SELECT doc_id, lang,
           CASE WHEN best // {_N_LANGS} > 0
                THEN ([{lang_array}])[CAST(best % {_N_LANGS} AS INT) + 1]
                ELSE 'und' END AS lang_guess
    FROM scored
    """


@register("doc_lang_id", _lang_id_oracle())
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", textstats.lang_id_cols(F.col("text")).alias("lang_guess"))


_STOP_LITS = ", ".join(f"'{w}'" for w in textstats.STOPWORDS_EN)


@register(
    "doc_quality_scores",
    f"""
    SELECT doc_id,
           CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n_tokens,
           CASE WHEN text <> '' THEN
             round((length(text) - (len(str_split(text, ' ')) - 1))
                   / CAST(len(str_split(text, ' ')) AS DOUBLE), 4) ELSE 0.0 END AS mean_word_len,
           CASE WHEN text <> '' THEN
             round(len(list_filter(str_split(text, ' '), x -> list_contains([{_STOP_LITS}], x)))
                   / CAST(len(str_split(text, ' ')) AS DOUBLE), 4) ELSE 0.0 END AS stopword_ratio,
           CASE WHEN length(text) > 0 THEN
             round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                   / CAST(length(text) AS DOUBLE), 4) ELSE 0.0 END AS alpha_ratio,
           CASE WHEN length(text) > 0 THEN
             round(length(regexp_replace(text, '[^0-9]', '', 'g'))
                   / CAST(length(text) AS DOUBLE), 4) ELSE 0.0 END AS digit_ratio
    FROM documents
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", *textstats.quality_score_cols(F.col("text")))


@register(
    "doc_repetition_filter",
    """
    WITH w AS (
      SELECT doc_id,
             CASE WHEN text = '' THEN [] ELSE str_split(text, ' ') END AS words
      FROM documents),
    base AS (
      SELECT doc_id, len(words) AS n_words, len(list_distinct(words)) AS n_distinct
      FROM w),
    ug AS (SELECT doc_id, unnest(words) AS gram FROM w WHERE len(words) >= 1),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])) AS gram
      FROM w WHERE len(words) >= 2),
    t1 AS (SELECT doc_id, max(c) AS top1 FROM
             (SELECT doc_id, gram, count(*) AS c FROM ug GROUP BY doc_id, gram)
           GROUP BY doc_id),
    t2 AS (SELECT doc_id, max(c) AS top2 FROM
             (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY doc_id, gram)
           GROUP BY doc_id)
    SELECT b.doc_id, b.n_words,
           CASE WHEN b.n_words > 0
                THEN round(1 - b.n_distinct / CAST(b.n_words AS DOUBLE), 6)
                ELSE 0.0 END AS dup_word_frac,
           round(coalesce(t1.top1, 0) / CAST(greatest(b.n_words, 1) AS DOUBLE), 6)
             AS top_word_frac,
           round(coalesce(t2.top2, 0) * 2 / CAST(greatest(b.n_words, 1) AS DOUBLE), 6)
             AS top_bigram_frac,
           (CASE WHEN b.n_words > 0
                 THEN round(1 - b.n_distinct / CAST(b.n_words AS DOUBLE), 6)
                 ELSE 0.0 END) <= 0.9
           AND (round(coalesce(t2.top2, 0) * 2 / CAST(greatest(b.n_words, 1) AS DOUBLE), 6) <= 0.10
                OR coalesce(t2.top2, 0) < 2)
             AS keep
    FROM base b
    LEFT JOIN t1 ON t1.doc_id = b.doc_id
    LEFT JOIN t2 ON t2.doc_id = b.doc_id
    """,
)
def doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition cut (Rae et al. 2021 §A1.1): duplicate-word
    fraction, top-unigram coverage, top-bigram coverage, and the keep
    decision. n-gram modes are relational (explode -> count -> max), both
    shuffles keyed by doc_id with map-side combine — scale-safe at any
    document length or corpus size."""
    d = _t(spark, sf_dir, "documents")
    return textstats.with_repetition_stats(d)


@register(
    "doc_pii_redaction",
    r"""
    WITH pii AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                     THEN ' reach user' || doc_id || '@example.org' ELSE '' END
             || CASE WHEN doc_id % 4 = 1
                     THEN ' node 10.' || (doc_id % 256) || '.0.1 up' ELSE '' END
             || CASE WHEN doc_id % 5 = 2
                     THEN ' call +43' || (1000000 + doc_id) ELSE '' END AS t
      FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
             '\+[0-9]{7,15}', '<PHONE>', 'g') AS redacted_text,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '', 'g'),
             '\+[0-9]{7,15}')) AS BIGINT) AS n_phones
    FROM pii
    """,
)
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction for training corpora: emails / IPv4 / intl phones
    replaced by typed placeholder tokens, per-type match counts kept for
    curation metrics. Pure JVM regexp passes (functions/redact.py), no
    Python in the loop. The fixture text carries no PII, so the query
    injects it deterministically from doc_id (mirrored in the oracle) —
    every row exercises real replacements."""
    from .functions import redact

    d = _t(spark, sf_dir, "documents")
    pii = d.select("doc_id", _pii_injected_text().alias("text"))
    return redact.with_pii_redaction(pii).select(
        "doc_id", "redacted_text", "n_emails", "n_ips", "n_phones"
    )


def _pii_injected_text():
    """`text` plus the email / IPv4 / phone PII injected from doc_id."""
    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" reach user"), F.col("doc_id").cast("string"), F.lit("@example.org")),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit(" node 10."), (F.col("doc_id") % 256).cast("string"), F.lit(".0.1 up")),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 5 == 2,
            F.concat(F.lit(" call +43"), (F.col("doc_id") + 1000000).cast("string")),
        ).otherwise(""),
    )


@register(
    "url_canonical_dedup",
    r"""
    WITH m AS (
      SELECT doc_id,
             'HTTP://crawler:pw@WWW.Host' || (doc_id % 20) || '.Example.COM:80/p/'
             || (doc_id % 50)
             || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'
                     ELSE '?b=2&a=1&fbclid=xyz' END
             || CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END AS url
      FROM documents),
    parts AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://(.*)$', 1)     AS rest,
             regexp_extract(regexp_replace(url, '#[\s\S]*$', ''),
                            '\?([\s\S]*)$', 1)                              AS query
      FROM m),
    canon AS (
      SELECT doc_id,
             scheme || '://'
             || regexp_replace(
                  regexp_replace(
                    lower(regexp_replace(regexp_extract(rest, '^([^/?#]*)', 1),
                                         '^[^@]*@', '')),
                    CASE WHEN scheme = 'http' THEN ':80$'
                         WHEN scheme = 'https' THEN ':443$' ELSE 'a^' END, ''),
                  '^www\.', '')
             || CASE WHEN regexp_extract(rest, '^[^/?#]*([^?#]*)', 1) = '' THEN '/'
                     ELSE regexp_extract(rest, '^[^/?#]*([^?#]*)', 1) END
             || CASE WHEN len(list_filter(str_split(query, '&'),
                        p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)(=|$)'))) > 0
                     THEN '?' || array_to_string(list_sort(list_filter(str_split(query, '&'),
                        p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)(=|$)'))), '&')
                     ELSE '' END AS canonical_url
      FROM parts)
    SELECT canonical_url, min(doc_id) AS keeper, count(*) AS n_dupes
    FROM canon GROUP BY canonical_url
    """,
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl URL canonicalization + dedup (functions/urls.py): scheme and
    host lowercased, userinfo/www./default-port stripped, tracking params
    cut, remaining params sorted, fragment dropped; then one hash
    aggregate on the canonical string (map-side combinable). The fixture
    has no messy URLs, so the query synthesizes scheme-case / userinfo /
    port / param-order / tracking / fragment variants deterministically
    from doc_id (mirrored in the oracle); canonicalization collapses
    them ~5:1."""
    from .functions import urls

    d = _t(spark, sf_dir, "documents")
    messy = d.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://crawler:pw@WWW.Host"),
            (F.col("doc_id") % 20).cast("string"),
            F.lit(".Example.COM:80/p/"),
            (F.col("doc_id") % 50).cast("string"),
            F.when(F.col("doc_id") % 2 == 0, "?utm_source=feed&b=2&a=1").otherwise(
                "?b=2&a=1&fbclid=xyz"
            ),
            F.when(F.col("doc_id") % 3 == 0, "#frag").otherwise(""),
        ).alias("url"),
    )
    return urls.canonical_dedup(messy)


@register(
    "corpus_source_mix",
    f"""
    WITH s AS (
      SELECT doc_id, source,
             {DOC_U_SQL} AS u,
             CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.25 ELSE 0.5 END AS rate
      FROM documents),
    c AS (
      SELECT doc_id, source,
             CAST(floor(rate) AS INT)
             + CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END AS n
      FROM s)
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_samples,
           count(*) FILTER (WHERE n > 0) AS n_unique
    FROM c GROUP BY source HAVING sum(n) > 0
    """,
)
def corpus_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction (operators/sampling.py): per-source
    epoch weights — src0 repeated 2.5x (2 epochs + half the docs a 3rd
    time), src1 downsampled to 0.25, everything else 0.5 — via the
    deterministic multiplicative hash. The sample operator is narrow
    (filter + explode, no shuffle); only this monitoring rollup
    aggregates."""
    from .operators.sampling import source_mix_summary

    d = _t(spark, sf_dir, "documents")
    return source_mix_summary(d, {"src0": 2.5, "src1": 0.25})


@register(
    "corpus_vocabulary",
    """
    SELECT term, n_occurrences, n_docs, rank FROM (
      SELECT term, n_occurrences, n_docs,
             row_number() OVER (ORDER BY n_occurrences DESC, term) AS rank
      FROM (
        SELECT term,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term
              FROM documents WHERE text <> '')
        GROUP BY term))
    WHERE rank <= 50
    """,
)
def corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary rollup (tokenizer-training primitive): global
    term and document frequencies, top 50 by count. explode -> two-level
    aggregate; the term-count shuffle combines map-side, and only a
    per-partition top-50 crosses the final single-partition window.

    The window key ``n_occurrences % 1`` is constant 0 but non-foldable
    — and here that is not just the warning-silencing idiom: Spark 4's
    InferWindowGroupLimit only fires for windows WITH a partition spec,
    so the constant key is what gets the rank<=50 filter pushed down to
    a per-partition WindowGroupLimit before the exchange (verified in
    test_vocabulary_topk_has_group_limit). With a bare global
    ``Window.orderBy`` the ENTIRE vocabulary — hundreds of millions of
    terms at the brief's scale — would sort in one task."""
    d = _t(spark, sf_dir, "documents")
    terms = d.filter(F.col("text") != "").select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    counts = terms.groupBy("term").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    w = Window.partitionBy(F.col("n_occurrences") % 1).orderBy(
        F.col("n_occurrences").desc(), "term"
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 50)
        .select("term", "n_occurrences", "n_docs", "rank")
    )


@register(
    "doc_dup_span_coverage",
    """
    WITH m AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 4 = 1
                     THEN ' subscribe to our newsletter and click here right now today'
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' all rights reserved copyright two thousand twenty four inc'
                     ELSE '' END AS text
      FROM documents),
    t AS (
      SELECT doc_id, str_split(text, ' ') AS tk,
             CASE WHEN coalesce(text, '') = '' THEN 0
                  ELSE len(str_split(text, ' ')) END AS n_tokens
      FROM m),
    wins AS (
      SELECT doc_id, CAST(s AS INT) AS i,
             array_to_string(tk[CAST(s AS INT) + 1 : CAST(s AS INT) + 8], ' ') AS gram
      FROM t, unnest(range(0, n_tokens - 7)) AS r(s)
      WHERE n_tokens >= 8),
    dup_grams AS (
      SELECT gram FROM wins GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    covered AS (
      SELECT doc_id, count(DISTINCT p) AS cov
      FROM (SELECT w.doc_id, unnest(range(w.i, w.i + 8)) AS p
            FROM wins w JOIN dup_grams d ON d.gram = w.gram)
      GROUP BY doc_id)
    SELECT t.doc_id, t.n_tokens,
           CASE WHEN t.n_tokens = 0 THEN 0.0
                ELSE round(coalesce(c.cov, 0) / CAST(t.n_tokens AS DOUBLE), 6)
           END AS dup_span_frac,
           CASE WHEN t.n_tokens = 0 THEN 0.0
                ELSE round(coalesce(c.cov, 0) / CAST(t.n_tokens AS DOUBLE), 6)
           END <= 0.2 AS keep
    FROM t LEFT JOIN covered c ON c.doc_id = t.doc_id
    """,
)
def doc_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication coverage (Lee et al. 2022 windowed
    shape, operators/textstats.py): fraction of token positions covered
    by an 8-gram occurring in >= 2 documents, with the keep/cut call.
    The fixture has no cross-doc substrings, so boilerplate sentences
    are appended deterministically from doc_id (mirrored in the oracle);
    against the 0.2 threshold the sf0.01 fixture splits 378 keep / 122
    cut (short docs dominated by the boilerplate score up to ~0.57)."""
    d = _t(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 1,
                " subscribe to our newsletter and click here right now today",
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 5 == 0,
                " all rights reserved copyright two thousand twenty four inc",
            ).otherwise(""),
        ).alias("text"),
    )
    return textstats.with_dup_span_coverage(m)


@register(
    "doc_token_counts",
    """
    SELECT doc_id,
           CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS ws_tokens,
           CAST(ceil(length(replace(text, ' ', '')) / 4.0) AS BIGINT)   AS est_bpe_tokens,
           CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\f]+'))
                AS BIGINT) AS bpe_pretokens
    FROM documents
    """,
)
def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", *textstats.token_count_cols(F.col("text")))


# Content fingerprint: md5 of whitespace-normalized lowercase text —
# the single definition every fingerprint consumer shares. The
# whitespace class is written out explicitly because Java regex \s
# includes vertical tab \x0B while DuckDB's RE2 \s does not: with
# '\s+' a document containing \x0B fingerprints differently in the two
# engines, which would flip dup/kept classifications downstream.
FP_WS_RE = r"[ \t\n\x0B\f\r]+"
FP_MD5_SQL = r"md5(lower(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g')))"


def fp_md5_col(text_col):
    return F.md5(F.lower(F.regexp_replace(F.trim(text_col), FP_WS_RE, " ")))


@register(
    "doc_fingerprint",
    f"""
    SELECT doc_id,
           {FP_MD5_SQL} AS fp_md5
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fp_md5_col(F.col("text")).alias("fp_md5"))


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


NGRAM_MAX_DF = 30  # stop-shingle cut: drop shingles in > this many docs


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH shingled AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(str_split(text, ' ')) >= {dedup.SHINGLE_K}
               THEN list_transform(range(0, len(str_split(text, ' ')) - {dedup.SHINGLE_K} + 1),
                    i -> array_to_string((str_split(text, ' '))[i + 1 : i + {dedup.SHINGLE_K}], ' '))
               ELSE [text] END) AS shingles
      FROM documents),
    exploded_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
    keep AS (SELECT shingle FROM exploded_all GROUP BY shingle HAVING count(*) <= {NGRAM_MAX_DF}),
    exploded AS (SELECT e.doc_id, e.shingle FROM exploded_all e JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM exploded GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM exploded a JOIN exploded b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b,
           round(n_inter / CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE), 4) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
               JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter / CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs WITH the stop-shingle cut
    (max_df): at web scale a boilerplate shingle appearing in millions
    of docs makes the shingle self-join O(n^2); dropping shingles with
    document frequency > NGRAM_MAX_DF bounds fanout per shingle while
    keeping Jaccard over the discriminative set. Mirrored in the oracle
    (`keep` CTE)."""
    d = _td(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(d, threshold=0.8, max_df=NGRAM_MAX_DF)


@register("dedup_minhash_lsh")  # oracle assigned below (_minhash_oracle)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _td(spark, sf_dir)
    return dedup.lsh_candidate_pairs(d)


@register("dedup_simhash")  # oracle assigned below (_simhash_oracle)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _td(spark, sf_dir)
    return dedup.simhash_near_pairs(d)


# Monitoring threshold for the dropped-bucket query: deliberately far
# below the production MAX_BUCKET cap so the query returns real rows at
# test scale (max bucket size at sf0.01 is 3) — the operator's point is
# visibility, not the cut itself.
LSH_MONITOR_BUCKET = 1

# Same idea for the shingle-df monitor (max df at sf0.01 is 7).
SHINGLE_MONITOR_DF = 5


@register(
    "ngram_dropped_shingles",
    f"""
    WITH shingled AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(str_split(text, ' ')) >= {dedup.SHINGLE_K}
               THEN list_transform(range(0, len(str_split(text, ' ')) - {dedup.SHINGLE_K} + 1),
                    i -> array_to_string((str_split(text, ' '))[i + 1 : i + {dedup.SHINGLE_K}], ' '))
               ELSE [text] END) AS shingles
      FROM documents)
    SELECT shingle, CAST(count(*) AS BIGINT) AS doc_freq
    FROM (SELECT unnest(shingles) AS shingle FROM shingled)
    GROUP BY shingle HAVING count(*) > {SHINGLE_MONITOR_DF}
    """,
)
def ngram_dropped_shingles_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring twin of the ngram-Jaccard stop-shingle cut: shingles
    whose document frequency exceeds the threshold (each forfeits
    df*(df-1)/2 intersection rows when cut). Registered at a low
    monitor threshold so the query returns real rows at test scale."""
    d = _t(spark, sf_dir, "documents")
    return dedup.ngram_dropped_shingles(d, max_df=SHINGLE_MONITOR_DF)


@register("lsh_dropped_buckets")  # oracle assigned below (_dropped_buckets_oracle)
def lsh_dropped_buckets_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring twin of dedup_minhash_lsh: which (band_id, bucket)
    groups exceed the cap and how many docs sit in them — what a crawl
    operator alerts on (each dropped bucket forfeits n*(n-1)/2 candidate
    pairs). band_hash is engine-specific (xxhash64) so the registered
    projection is (band_id, bucket_size); the oracle groups by the band
    vector itself, which is equality-equivalent."""
    d = _t(spark, sf_dir, "documents")
    return (
        dedup.lsh_dropped_buckets(d, max_bucket=LSH_MONITOR_BUCKET)
        .select("band_id", "bucket_size")
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

TOPK = 5


@register(
    "ann_topk_cosine",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id,
             round(list_cosine_similarity(c.embedding, q.embedding), 4) AS cosine
      FROM embeddings c CROSS JOIN q),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOPK}
    """,
)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _td(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # 4dp rounding before ranking on both engines -> identical ties
    return similarity.cosine_topk_bruteforce(e, queries, k=TOPK)


def _ivf_oracle(lloyd: bool = False) -> str:
    """Exact SQL mirror of the IVF path: seeded centroids (vec_id <
    N_CENTROIDS), packed (rounded-cosine, cid) argmax codes, top-n_probe
    probing, in-cluster exact rerank.

    lloyd=True prepends one k-means iteration: assign every vector to
    its seeded centroid with the same argmax codes, then recompute each
    centroid as the element-wise mean rounded at 1e-6
    (similarity.MEAN_ROUND — the grain that makes float64
    accumulation-order noise engine-invisible); empty clusters keep
    their seed. The refined centroids feed the identical
    assign/probe/rerank tail."""
    nc = similarity.N_CENTROIDS
    npr = similarity.N_PROBE
    off = similarity._CODE_OFFSET
    seed_cte = f"""
    c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings WHERE vec_id < {nc})"""
    lloyd_cte = f"""
    c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings WHERE vec_id < {nc}),
    enc0 AS (
      SELECT e.vec_id, e.embedding, c0.cid,
             CAST(round(list_cosine_similarity(e.embedding::DOUBLE[], c0.cvec), 6)
                  * 1000000 + {off} AS BIGINT) * {nc} + ({nc} - 1 - c0.cid) AS code
      FROM embeddings e CROSS JOIN c0),
    assigned0 AS (
      SELECT vec_id, embedding, CAST({nc} - 1 - (max(code) % {nc}) AS INT) AS cluster
      FROM enc0 GROUP BY vec_id, embedding),
    exploded0 AS (
      SELECT cluster, unnest(embedding::DOUBLE[]) AS v,
             generate_subscripts(embedding, 1) AS i
      FROM assigned0),
    cmeans0 AS (
      SELECT cluster, i, round(avg(v), {similarity.MEAN_ROUND}) AS m
      FROM exploded0 GROUP BY cluster, i),
    newc0 AS (
      SELECT cluster AS cid, list(m ORDER BY i) AS cvec FROM cmeans0 GROUP BY cluster),
    c AS (
      SELECT c0.cid, coalesce(n.cvec, c0.cvec) AS cvec
      FROM c0 LEFT JOIN newc0 n ON n.cid = c0.cid)"""
    head = lloyd_cte if lloyd else seed_cte
    return f"""
    WITH {head},
    enc AS (
      SELECT e.vec_id, e.embedding, c.cid,
             CAST(round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec::DOUBLE[]), 6)
                  * 1000000 + {off} AS BIGINT) * {nc} + ({nc} - 1 - c.cid) AS code
      FROM embeddings e CROSS JOIN c),
    assigned AS (
      SELECT vec_id, embedding, CAST({nc} - 1 - (max(code) % {nc}) AS INT) AS cluster
      FROM enc GROUP BY vec_id, embedding),
    probes AS (
      SELECT vec_id AS query_id, CAST({nc} - 1 - (code % {nc}) AS INT) AS cluster
      FROM (SELECT vec_id, code,
                   row_number() OVER (PARTITION BY vec_id ORDER BY code DESC) AS rn
            FROM enc WHERE vec_id % 100 = 0)
      WHERE rn <= {npr}),
    cand AS (
      SELECT p.query_id, a.vec_id, a.embedding AS cvec, q.embedding AS qvec
      FROM probes p
      JOIN assigned a ON a.cluster = p.cluster
      JOIN embeddings q ON q.vec_id = p.query_id),
    scored AS (
      SELECT query_id, vec_id,
             round(list_cosine_similarity(cvec::DOUBLE[], qvec::DOUBLE[]), 4) AS cosine
      FROM cand),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOPK}
    """


@register("ann_topk_ivf", _ivf_oracle())
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors: seeded coarse quantizer,
    inverted lists met in a cluster-id equi-join, exact in-list rerank
    (the k-means-bucketed scale path next to the hyperplane-LSH one)."""
    e = _td(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk_cosine(e, queries, k=TOPK)


@register("ann_topk_ivf_lloyd", _ivf_oracle(lloyd=True))
def ann_topk_ivf_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with one distributed Lloyd refinement round (ROADMAP item:
    k-means refinement via tree-aggregated partial sums): per-partition
    (cluster, sum, count) partials, a numPartitions x n_centroids-row
    shuffle, means rounded at 1e-6 so the DuckDB oracle recomputes the
    refined centroids exactly. Same equi-join probe/rerank tail as
    ann_topk_ivf."""
    e = _td(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk_cosine(e, queries, k=TOPK, lloyd_iters=1)


@register(
    "ann_topk_int8",
    f"""
    WITH quant AS (
      SELECT vec_id,
             CASE WHEN m < 1e-100
                  THEN list_transform(embedding::DOUBLE[], x -> CAST(0 AS BIGINT))
                  ELSE list_transform(embedding::DOUBLE[],
                         x -> CAST(floor(x * (127.0 / m) + 0.5) AS BIGINT)) END AS q
      FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS m
            FROM embeddings)),
    n AS (SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS nrm FROM quant),
    scored AS (
      SELECT qr.vec_id AS query_id, c.vec_id,
             round(list_dot_product(c.q, qr.q)
                   / greatest(c.nrm * qr.nrm, 1e-100), 6) AS cosine
      FROM n c CROSS JOIN (SELECT * FROM n WHERE vec_id % 100 = 0) qr),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOPK}
    """,
)
def ann_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized brute-force ANN: per-vector symmetric scalar
    quantization (floor(x*127/max|x| + 0.5)), cosine on the integer
    codes — the 4x-smaller-scan scale path. Integer dot products are
    order-exact, so the oracle mirrors every score bit-for-bit."""
    e = _td(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk_int8(e, queries, k=TOPK)


@register("ann_topk_lsh")  # oracle assigned below (_lsh_oracle)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _td(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk_lsh(e, queries, k=TOPK)


# ---------------------------------------------------------------------------
# custom join operators (as-of, range-predicate) + corpus curation
# ---------------------------------------------------------------------------


@register(
    "asof_purchase_last_click",
    """
    SELECT p.event_id AS purchase_id, p.user_id,
           round(p.value, 4) AS purchase_value,
           c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent click
    at-or-before it. Spark lacks the operator; composed from a tagged
    union + last-non-null window (operators/asof.py). DuckDB's native
    ASOF JOIN is the oracle."""
    from .operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    out = asof_join(purchases, clicks, ["click_event_id"])
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.round("value", 4).alias("purchase_value"),
        F.col("asof_click_event_id").alias("click_id"),
    )


@register(
    "range_join_shipments",
    """
    SELECT o.o_orderkey AS o_orderkey, count(*) AS n_in_window
    FROM orders o JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <  o.o_orderdate + INTERVAL 60 DAY
    GROUP BY o.o_orderkey
    """,
)
def range_join_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-predicate join: lineitems shipped within 60 days of their
    order date. Equi-key + range residual -> hash join with filter (no
    cartesian); at scale the equi key carries the shuffle."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        )
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n_in_window"))
    )


@register(
    "corpus_curation",
    f"""
    WITH stats AS (
      SELECT doc_id, lang, md5(text) AS fp,
             CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n_tokens,
             CASE WHEN length(text) > 0 THEN
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / CAST(length(text) AS DOUBLE)
             ELSE 0.0 END AS alpha_ratio
      FROM documents),
    kept AS (
      SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM stats WHERE n_tokens BETWEEN 20 AND 1000 AND alpha_ratio >= 0.7)
    SELECT lang, count(*) AS n_docs, round(avg(n_tokens), 4) AS avg_tokens
    FROM kept WHERE rn = 1 GROUP BY lang
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation: quality gate (token count +
    alpha ratio) -> exact dedup keep-first -> per-language corpus stats.
    The composed shape of the C4/Gopher-style cleaning pipelines."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    toks = F.when(F.col("text") == "", 0).otherwise(F.size(F.split(F.col("text"), " ")))
    alpha = F.when(
        F.length("text") > 0,
        F.length(F.regexp_replace(F.col("text"), r"[^a-zA-Z]", "")) / F.length("text"),
    ).otherwise(0.0)
    stats = d.select("doc_id", "lang", F.md5("text").alias("fp"), toks.alias("n_tokens"), alpha.alias("alpha_ratio"))
    kept = stats.filter(F.col("n_tokens").between(20, 1000) & (F.col("alpha_ratio") >= 0.7))
    w = Window.partitionBy("fp").orderBy("doc_id")
    first = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return first.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.round(F.avg("n_tokens"), 4).alias("avg_tokens")
    )


@register(
    "corpus_curation_v2",
    f"""
    WITH w AS (
      SELECT doc_id,
             CASE WHEN text = '' THEN [] ELSE str_split(text, ' ') END AS words
      FROM documents),
    base AS (
      SELECT doc_id, len(words) AS n_words, len(list_distinct(words)) AS n_distinct
      FROM w),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i + 1])) AS gram
      FROM w WHERE len(words) >= 2),
    t2 AS (SELECT doc_id, max(c) AS top2 FROM
             (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY doc_id, gram)
           GROUP BY doc_id),
    rep_keep AS (
      SELECT b.doc_id FROM base b LEFT JOIN t2 ON t2.doc_id = b.doc_id
      WHERE (CASE WHEN b.n_words > 0
                  THEN round(1 - b.n_distinct / CAST(b.n_words AS DOUBLE), 6)
                  ELSE 0.0 END) <= 0.9
        AND (round(coalesce(t2.top2, 0) * 2 / CAST(greatest(b.n_words, 1) AS DOUBLE), 6) <= 0.10
             OR coalesce(t2.top2, 0) < 2)),
    stats AS (
      SELECT doc_id, lang, md5(text) AS fp,
             CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n_tokens,
             CASE WHEN length(text) > 0 THEN
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / CAST(length(text) AS DOUBLE)
             ELSE 0.0 END AS alpha_ratio
      FROM documents),
    kept AS (
      SELECT s.*, row_number() OVER (PARTITION BY fp ORDER BY s.doc_id) AS rn
      FROM stats s JOIN rep_keep r ON r.doc_id = s.doc_id
      WHERE n_tokens BETWEEN 20 AND 1000 AND alpha_ratio >= 0.7),
    split AS (
      SELECT *, CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT *, {DOC_U_SQL} AS u
            FROM kept WHERE rn = 1))
    SELECT lang, split, count(*) AS n_docs, round(avg(n_tokens), 4) AS avg_tokens
    FROM split GROUP BY lang, split
    """,
)
def corpus_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation pipeline v2 — the round-3 operators composed end to end:
    Gopher repetition cut -> quality gate (token count + alpha ratio) ->
    exact dedup keep-first -> deterministic train/val/test split ->
    per-(lang, split) corpus stats. Same scale shapes as the parts:
    doc_id-keyed combines, one window per dedup group, hash split with
    no extra shuffle."""
    from pyspark.sql import Window

    from .operators.sampling import knuth_u

    d = _t(spark, sf_dir, "documents")
    rep_keep = (
        textstats.with_repetition_stats(d).filter(F.col("keep")).select("doc_id")
    )
    toks = F.when(F.col("text") == "", 0).otherwise(F.size(F.split(F.col("text"), " ")))
    alpha = F.when(
        F.length("text") > 0,
        F.length(F.regexp_replace(F.col("text"), r"[^a-zA-Z]", "")) / F.length("text"),
    ).otherwise(0.0)
    stats = d.select(
        "doc_id", "lang", F.md5("text").alias("fp"), toks.alias("n_tokens"), alpha.alias("alpha_ratio")
    )
    kept = stats.join(rep_keep, "doc_id").filter(
        F.col("n_tokens").between(20, 1000) & (F.col("alpha_ratio") >= 0.7)
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    first = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    u = knuth_u(F.col("doc_id"))
    split = F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").alias("split")
    return first.select("lang", "n_tokens", split).groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"), F.round(F.avg("n_tokens"), 4).alias("avg_tokens")
    )


@register(
    "dedup_embedding_cosine",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.4 — the synthetic
    embeddings are near-orthogonal, so the check exercises a non-empty
    pair set): numpy matmul per
    Arrow batch against the broadcast normalized corpus."""
    from .operators.similarity import cosine_near_pairs

    # exact like the oracle's all-pairs join; a corpus too large to
    # broadcast raises rather than diverging from it
    return cosine_near_pairs(_td(spark, sf_dir, "embeddings"))


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE shingled AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(str_split(text, ' ')) >= {dedup.SHINGLE_K}
               THEN list_transform(range(0, len(str_split(text, ' ')) - {dedup.SHINGLE_K} + 1),
                    i -> array_to_string((str_split(text, ' '))[i + 1 : i + {dedup.SHINGLE_K}], ' '))
               ELSE [text] END) AS shingles
      FROM documents),
    exploded_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
    keep AS (SELECT shingle FROM exploded_all GROUP BY shingle HAVING count(*) <= 30),
    exploded AS (SELECT e.doc_id, e.shingle FROM exploded_all e JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM exploded GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM exploded a JOIN exploded b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT id_a, id_b FROM inter JOIN sizes sa ON sa.doc_id = id_a
                                   JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_inter / CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE) >= 0.6),
    und AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
    walk(a, b) AS (
      SELECT a, b FROM und
      UNION
      SELECT w.a, u.b FROM walk w JOIN und u ON w.b = u.a
    )
    SELECT a AS node, least(a, min(b)) AS component FROM walk GROUP BY a
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> duplicate clusters via distributed min-label
    propagation (operators/components.py); the oracle computes the same
    components with a recursive transitive-closure CTE."""
    from .operators.components import connected_components

    d = _t(spark, sf_dir, "documents")
    # stop-shingle cut (df <= 30) bounds the self-join fanout; mirrored
    # exactly in the oracle SQL above
    pairs = dedup.ngram_jaccard_pairs(d, threshold=0.6, max_df=30)
    return connected_components(pairs).select("node", "component")


def _lsh_oracle() -> str:
    """Mirror the hyperplane-LSH candidate generation + rerank in SQL:
    identical plane literals, identical in-order float64 dot products,
    so signatures match bit for bit."""
    planes = similarity._random_planes()
    per_band = similarity.N_PLANES // 4
    dot_terms = []
    for i, plane in enumerate(planes):
        lits = ", ".join(f"{float(v)!r}" for v in plane)
        dot_terms.append(
            f"CASE WHEN list_inner_product(embedding::DOUBLE[], [{lits}]) >= 0 "
            f"THEN {1 << i} ELSE 0 END"
        )
    sig = " + ".join(dot_terms)
    bands = ", ".join(
        f"(sig // {1 << (b * per_band)}) % {1 << per_band} AS b{b}" for b in range(4)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, embedding, {b} AS band_id, b{b} AS bucket FROM sigs" for b in range(4)
    )
    return f"""
    WITH sigs AS (
      SELECT vec_id, embedding, {bands}
      FROM (SELECT vec_id, embedding, {sig} AS sig FROM embeddings)),
    banded AS ({band_rows}),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, band_id, bucket
          FROM banded WHERE vec_id % 100 = 0),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id, c.embedding AS cvec, q.qvec
      FROM banded c JOIN q ON c.band_id = q.band_id AND c.bucket = q.bucket),
    scored AS (
      SELECT query_id, vec_id,
             round(list_inner_product(cvec::DOUBLE[], qvec::DOUBLE[]) /
                   (sqrt(list_inner_product(cvec::DOUBLE[], cvec::DOUBLE[])) *
                    sqrt(list_inner_product(qvec::DOUBLE[], qvec::DOUBLE[]))), 6) AS cosine
      FROM cand),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
    SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
    """


from .relational import ORACLES as _ORACLES  # noqa: E402

_ORACLES["ann_topk_lsh"] = _lsh_oracle()


def _host_top10_oracle() -> str:
    return f"""
    WITH hosted AS (
      SELECT doc_id, lang,
             len(list_filter({{cdf}},
                 c -> c < ({DOC_U_SQL})))
             AS host_idx
      FROM documents)
    SELECT concat('host', lpad(CAST(host_idx AS VARCHAR), 2, '0'), '.example.com') AS host,
           count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs
    FROM hosted GROUP BY host_idx
    ORDER BY n_docs DESC, host LIMIT 10
    """


# host_skew_topk (relational.py) uses approx_count_distinct(lang); Spark's
# HLL++ has no sparse mode, so the sketch is never GUARANTEED exact — the
# query therefore emits a tolerance flag (approx within max(1, 10%) of the
# exact count) and the oracle asserts the literal 1, not sketch == exact.
_ORACLES["host_skew_topk"] = _host_top10_oracle().replace(
    "count(DISTINCT lang) AS n_langs", "1 AS approx_langs_ok"
)


@register("host_top10_exact", _host_top10_oracle())
def host_top10_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hosts by page count with exact distinct-language counts —
    the oracle-checked twin of host_skew_topk (which demonstrates the
    approx_count_distinct scale path)."""
    from .plans.partitioning import host_of, salted_host_counts
    from .sources.pages import synthesize_pages

    pages = synthesize_pages(spark, sf_dir)
    counts = salted_host_counts(pages)
    langs = (
        pages.select(host_of(F.col("url")).alias("host"), "lang")
        .groupBy("host")
        .agg(F.countDistinct("lang").alias("n_langs"))
    )
    return (
        counts.join(langs, "host")
        .orderBy(F.col("n_docs").desc(), "host")
        .limit(10)
    )


def _bands_cte_sql() -> str:
    """Shared WITH-prefix ending in the `bands` CTE: exact SQL mirror of
    the MinHash banding path — md5 token hashes combined per shingle with
    the SHINGLE_P polynomial mod 2^64 (UHUGEINT arithmetic),
    multiply-shift family, min per permutation, 8 bands x 8 rows."""
    perm_rows = ", ".join(
        f"({j}, {int(dedup._PERM_A[j])}::UBIGINT, {int(dedup._PERM_B[j])}::UBIGINT)"
        for j in range(dedup.N_PERM)
    )
    k = dedup.SHINGLE_K
    rows = dedup.ROWS_PER_BAND
    m = 1 << 64
    # polynomial combine, reduced mod 2^64 between terms so every
    # intermediate stays < 2^125 (UHUGEINT-safe; numpy computes the same
    # residues via native uint64 wraparound)
    poly = f"{int(dedup.SHINGLE_P[0])}::UHUGEINT * th[i + 1]"
    for j in range(1, k):
        poly = f"({poly}) % {m} + {int(dedup.SHINGLE_P[j])}::UHUGEINT * th[i + {j + 1}]"
    poly = f"(({poly}) % {m})::UBIGINT"
    return f"""
    WITH toks AS (
      SELECT doc_id, text, str_split(text, ' ') AS tk FROM documents),
    th_t AS (
      SELECT doc_id, text, len(tk) AS n,
             list_transform(tk, t -> ('0x' || left(md5(t), 16))::UBIGINT) AS th
      FROM toks),
    sh AS (
      SELECT doc_id, unnest(xs) AS x FROM (
        SELECT doc_id,
               CASE WHEN n >= {k}
                 THEN list_transform(range(0, n - {k} + 1), i -> {poly})
                 ELSE [('0x' || left(md5(text), 16))::UBIGINT] END AS xs
        FROM th_t)),
    perms(j, a, b) AS (VALUES {perm_rows}),
    sigs AS (
      SELECT doc_id, j,
             min((((a::UHUGEINT * x + b) % 18446744073709551616)::UBIGINT >> 1)::BIGINT) AS sig
      FROM sh CROSS JOIN perms GROUP BY doc_id, j),
    sig_arr AS (SELECT doc_id, list(sig ORDER BY j) AS sig FROM sigs GROUP BY doc_id),
    bands AS (
      SELECT doc_id, CAST(t.b AS INT) AS band_id,
             sig[CAST(t.b AS INT) * {rows} + 1 : CAST(t.b AS INT) * {rows} + {rows}] AS band
      FROM sig_arr, unnest(range(0, {dedup.N_BANDS})) AS t(b))
    """


def _minhash_oracle() -> str:
    """Band-equality candidate join over the shared bands CTE, with the
    over-cap buckets dropped first (mirrors MAX_BUCKET)."""
    return f"""
    {_bands_cte_sql()},
    capped AS (
      SELECT * FROM bands
      QUALIFY count(*) OVER (PARTITION BY band_id, band) <= {dedup.MAX_BUCKET})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM capped a JOIN capped b
      ON a.band_id = b.band_id AND a.band = b.band AND a.doc_id < b.doc_id
    """


def _dropped_buckets_oracle() -> str:
    """Over-threshold buckets per band; groups by the band vector itself
    (equality-equivalent to Spark's xxhash64 of the vector)."""
    return f"""
    {_bands_cte_sql()}
    SELECT band_id, count(*) AS bucket_size
    FROM bands GROUP BY band_id, band
    HAVING count(*) > {LSH_MONITOR_BUCKET}
    """


_ORACLES["dedup_minhash_lsh"] = _minhash_oracle()
_ORACLES["lsh_dropped_buckets"] = _dropped_buckets_oracle()


def _simhash_oracle() -> str:
    """SQL mirror of the SimHash near-pair path: md5 token hashes, +-1
    votes per bit, 63-bit packed value, 16-bit-chunk blocking, Hamming
    verify via bit_count(xor(...))."""
    return f"""
    WITH tok AS (
      SELECT doc_id, ('0x' || left(md5(t), 16))::UBIGINT AS x
      FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents)),
    votes AS (
      SELECT doc_id, CAST(b AS INT) AS bit,
             sum(CASE WHEN (x >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM tok CROSS JOIN unnest(range(0, 63)) AS r(b)
      GROUP BY doc_id, b),
    sig AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN (1::UBIGINT << bit)::BIGINT ELSE 0 END)::BIGINT AS simhash
      FROM votes GROUP BY doc_id),
    chunks AS (
      SELECT doc_id, simhash, CAST(k AS INT) AS chunk_id,
             (simhash::UBIGINT >> (CAST(k AS INT) * 16)) & 65535 AS chunk
      FROM sig CROSS JOIN unnest(range(0, 4)) AS r(k)
      QUALIFY count(*) OVER (PARTITION BY chunk_id, chunk) <= {dedup.MAX_BUCKET})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM chunks a JOIN chunks b
      ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    GROUP BY a.doc_id, b.doc_id, a.simhash, b.simhash
    """


_ORACLES["dedup_simhash"] = _simhash_oracle()


# ---------------------------------------------------------------------------
# training-sequence preparation (chunking + packing)
# ---------------------------------------------------------------------------

CHUNK_SIZE = 64
CHUNK_STRIDE = 48  # 16-token overlap
PACK_CAPACITY = 2048
# doc_id-range bucket width for the packing prefix sum's pass 1; at
# corpus scale tune toward sqrt(N) so pass-1 windows and the pass-2
# totals table stay balanced (64 keeps >1 bucket even at sf0.001)
PACK_BUCKET_WIDTH = 64


@register(
    "doc_token_chunks",
    f"""
    WITH t AS (
      SELECT doc_id, str_split(text, ' ') AS tk, len(str_split(text, ' ')) AS n
      FROM documents WHERE text <> '')
    SELECT doc_id,
           CAST(s / {CHUNK_STRIDE} AS INT) AS chunk_id,
           array_to_string(tk[CAST(s AS INT) + 1 : CAST(s AS INT) + {CHUNK_SIZE}], ' ') AS chunk_text,
           least({CHUNK_SIZE}, n - s) AS n_tokens
    FROM t, unnest(range(0, n, {CHUNK_STRIDE})) AS r(s)
    """,
)
def doc_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (size 64, stride 48): the training
    pre-tokenization shape — pure built-ins (sequence/explode/slice), no
    UDF, so Catalyst keeps the whole plan in codegen."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text") != "")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), n - 1, F.lit(CHUNK_STRIDE))
    return (
        d.select("doc_id", toks.alias("tk"), n.alias("n"), F.explode(starts).alias("s"))
        .select(
            "doc_id",
            (F.col("s") / CHUNK_STRIDE).cast("int").alias("chunk_id"),
            F.array_join(F.slice(F.col("tk"), F.col("s") + 1, CHUNK_SIZE), " ").alias("chunk_text"),
            F.least(F.lit(CHUNK_SIZE), F.col("n") - F.col("s")).cast("long").alias("n_tokens"),
        )
    )


@register(
    "doc_sequence_packing",
    f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n
      FROM documents)
    SELECT doc_id, n AS n_tokens,
           CAST(floor(coalesce(sum(n) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / {PACK_CAPACITY}) AS BIGINT) AS bin_id,
           CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                % {PACK_CAPACITY} AS BIGINT) AS bin_offset
    FROM t
    """,
)
def doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing: documents fill fixed-capacity
    training bins in doc_id order (bin = prefix-token-count / capacity).

    Distributed two-pass prefix sum — the global running total is NEVER
    computed with an unpartitioned window (which would sort the whole
    corpus in one task). Pass 1: cumulative token count *within*
    doc_id-range buckets (``doc_id div PACK_BUCKET_WIDTH`` is monotone
    in doc_id, so bucket-local order composes into global order) — one
    parallel window per bucket. Pass 2: per-bucket token totals
    (~|docs|/width rows) get their own exclusive prefix sum on the tiny
    totals table, and each bucket's offset is broadcast back. Global
    prefix = bucket offset + within-bucket prefix, exactly the single
    global window's value, so the oracle is unchanged. At 10^12 docs,
    width ~ sqrt(N) keeps both the per-bucket windows and the totals
    table at ~10^6 rows each."""
    d = _t(spark, sf_dir, "documents")
    n = F.when(F.col("text") == "", 0).otherwise(F.size(F.split(F.col("text"), " ")))
    docs = d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.expr(f"doc_id div {PACK_BUCKET_WIDTH}").alias("bucket"),
    )
    wb = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum("n_tokens").over(wb), F.lit(0))
    totals = docs.groupBy("bucket").agg(F.sum("n_tokens").alias("bucket_tokens"))
    # exclusive prefix over the totals table: |buckets| rows. The
    # partition key `bucket % 1` is constant 0 but non-foldable, so the
    # spec survives Catalyst (a bare lit(0) gets constant-folded away)
    # and the deliberate single-partition sort of the TINY table is
    # visible in the plan instead of tripping WindowExec's
    # whole-input-collapse warning.
    wo = (
        Window.partitionBy(F.col("bucket") % 1)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(wo), F.lit(0)).alias("bucket_offset"),
    )
    before = F.col("bucket_offset") + within
    return (
        docs.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            F.floor(before / PACK_CAPACITY).cast("long").alias("bin_id"),
            (before % PACK_CAPACITY).alias("bin_offset"),
        )
    )


EVAL_MOD, EVAL_REM = 50, 7  # doc_id % 50 == 7 -> held-out eval slice
DECON_K = 5  # shingle width for contamination detection


@register(
    "corpus_decontamination",
    f"""
    WITH docs AS (
      SELECT doc_id, str_split(text, ' ') AS tk FROM documents WHERE text <> ''),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(0, greatest(len(tk) - {DECON_K - 1}, 0)),
               i -> array_to_string(tk[i + 1 : i + {DECON_K}], ' ')))) AS s
      FROM docs)
    SELECT doc_id, count(*) AS n_shared
    FROM sh
    WHERE doc_id % {EVAL_MOD} <> {EVAL_REM}
      AND s IN (SELECT DISTINCT s FROM sh WHERE doc_id % {EVAL_MOD} = {EVAL_REM})
    GROUP BY doc_id
    """,
)
def corpus_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training documents sharing any token
    5-gram with the held-out eval slice, with the count of distinct
    shared shingles. The eval shingle set is small by construction, so
    the contamination check is a broadcast semi-join — at 100 TB the
    eval side stays the broadcast side and the corpus never shuffles."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text") != "")
    toks = F.split(F.col("text"), " ")
    shingles = F.array_distinct(
        F.when(
            F.size(toks) >= DECON_K,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - DECON_K),
                lambda i: F.array_join(F.slice(toks, i + 1, DECON_K), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    exploded = d.select("doc_id", F.explode(shingles).alias("s"))
    eval_sh = (
        exploded.filter(F.col("doc_id") % EVAL_MOD == EVAL_REM).select("s").distinct()
    )
    return (
        exploded.filter(F.col("doc_id") % EVAL_MOD != EVAL_REM)
        .join(F.broadcast(eval_sh), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


@register(
    "doc_train_split",
    # same Knuth multiplicative hash the host assignment uses — the
    # overflow-safe 16-bit-split form (sampling.knuth_u), identical
    # values wherever the naive (id * K) % 2^32 doesn't overflow int64
    f"""
    SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs
    FROM (SELECT {DOC_U_SQL} AS u FROM documents)
    GROUP BY 1
    """,
)
def doc_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by multiplicative hash of
    doc_id (0.8/0.1/0.1): stable across runs and cluster sizes, no
    shuffle beyond the count rollup."""
    from .operators.sampling import knuth_u

    d = _t(spark, sf_dir, "documents")
    u = knuth_u(F.col("doc_id"))
    split = (
        F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").alias("split")
    )
    return d.select(split).groupBy("split").agg(F.count("*").alias("n_docs"))


POLITENESS_BATCH = 16  # fetch-slot width per host (crawl scheduling)
# salt fan-out for the skew-safe frontier rank: the hottest (Zipf-top)
# host's rank sorts in FRONTIER_SALTS parallel tasks instead of one
FRONTIER_SALTS = 16
TFIDF_TOP_K = 5


@register(
    "corpus_incremental_dedup",
    # new crawl = doc_id % 5 == 4 slice; old corpus = the rest. A new
    # doc is kept iff its content fingerprint is unseen in the old
    # corpus AND it is the first holder of that fingerprint within the
    # new batch (min doc_id wins) — the recurring-crawl production op.
    f"""
    WITH fp AS (
      SELECT doc_id, {FP_MD5_SQL} AS fp_md5
      FROM documents),
    old AS (SELECT DISTINCT fp_md5 FROM fp WHERE doc_id % 5 <> 4),
    new AS (
      SELECT doc_id, fp_md5,
             min(doc_id) OVER (PARTITION BY fp_md5) AS first_id
      FROM fp WHERE doc_id % 5 = 4)
    SELECT n.doc_id, n.fp_md5,
           CASE WHEN o.fp_md5 IS NOT NULL THEN 'dup_of_old'
                WHEN n.doc_id <> n.first_id THEN 'dup_in_batch'
                ELSE 'kept' END AS status
    FROM new n LEFT JOIN old o ON o.fp_md5 = n.fp_md5
    """,
)
def corpus_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl-over-crawl dedup: classify every document of a
    new crawl batch against the existing corpus by content fingerprint
    (dup_of_old via a fingerprint-keyed left join, dup_in_batch via a
    min-id window within the batch, else kept). Both shuffles are keyed
    on the fingerprint — at 10^12 rows the old side is a bucketed
    fingerprint table and the join stays co-located; nothing is
    collected. The production shape for recurring Common-Crawl ingests:
    only `kept` rows proceed to extraction, so the cost of a re-crawl
    is one hash join, not a re-extraction."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select("doc_id", fp_md5_col(F.col("text")).alias("fp_md5"))
    old = fp.filter(F.col("doc_id") % 5 != 4).select("fp_md5").distinct()
    new = fp.filter(F.col("doc_id") % 5 == 4).withColumn(
        "first_id", F.min("doc_id").over(Window.partitionBy("fp_md5"))
    )
    joined = new.join(old.withColumn("_in_old", F.lit(1)), "fp_md5", "left")
    status = (
        F.when(F.col("_in_old").isNotNull(), "dup_of_old")
        .when(F.col("doc_id") != F.col("first_id"), "dup_in_batch")
        .otherwise("kept")
    )
    return joined.select("doc_id", "fp_md5", status.alias("status"))


@register(
    "doc_tfidf_topk",
    # relevance_ppm = floor(tf*N * 1e6 / df) — the integer tf-idf
    # surrogate: tf*N is exact int64 (tf<=1e5 doc tokens x N<=1e12 docs
    # stays under 2^63), the *1e6 and the division are the same IEEE
    # double ops in both engines (any >2^53 rounding is identical), and
    # floor of the shared double is engine-exact — unlike ln() (libm
    # differs) or round(double, 6) (Spark HALF_UPs the shortest decimal
    # repr, DuckDB rounds the scaled double — half-boundary values
    # diverge, and relevance is also the rank ORDER key). Ties break on
    # the term string, so ranks are engine-independent.
    f"""
    WITH t AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS term
      FROM documents WHERE text <> ''),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents WHERE text <> ''),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST(floor(CAST(tf.tf * (SELECT n FROM n) AS DOUBLE) * 1000000.0
                        / CAST(df.df AS DOUBLE)) AS BIGINT) AS relevance_ppm
      FROM tf JOIN df USING (term))
    SELECT doc_id, term, tf, df, relevance_ppm, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY relevance_ppm DESC, term) AS rank
          FROM scored)
    WHERE rank <= {TFIDF_TOP_K}
    """,
)
def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-k terms by tf x N/df
    relevance (corpus-analysis primitive — e.g. building topic filters
    or dedup-resistant doc signatures). Two keyed aggregations (term
    frequencies per doc, document frequencies per term), one equi-join
    on the term, a per-doc window for the top-k — every shuffle keyed,
    map-side combinable, no global sort. The df table is the corpus
    vocabulary (bounded); at 10^12 docs it broadcast-joins."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text") != "")
    # corpus size as a 1-row broadcast cross join (no eager collect —
    # the lazy analogue of the scalar subquery, same pattern as
    # scalar_subquery_above_avg in relational.py)
    n_docs = F.broadcast(d.agg(F.count("*").alias("n_docs")))
    terms = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    rel_ppm = F.floor(
        (F.col("tf") * F.col("n_docs")).cast("double")
        * F.lit(1000000.0)
        / F.col("df").cast("double")
    )
    scored = tf.join(df_t, "term").crossJoin(n_docs).select(
        "doc_id",
        "term",
        "tf",
        "df",
        rel_ppm.alias("relevance_ppm"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("relevance_ppm").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "relevance_ppm", "rank")
    )


# Zipf host assignment shared by the crawl-scheduling/reputation
# queries: host_idx = count of cdf entries below the doc's uniform
# Knuth hash (mirrors sources/pages.py host_for_doc). The Spark
# definition is pages._host_idx_col; this is the SQL CTE, whose `{cdf}`
# oracle_sql() substitutes.
_HOSTED_CTE_SQL = f"""hosted AS (
      SELECT doc_id, text,
             len(list_filter({{cdf}},
                 c -> c < ({DOC_U_SQL})))
             AS host_idx
      FROM documents)"""
_HOST_NAME_SQL = "concat('host', lpad(CAST(host_idx AS VARCHAR), 2, '0'), '.example.com')"


@register(
    "crawl_frontier_slots",
    # politeness scheduling: per-host fetch order (stable by doc_id),
    # grouped into fixed-width fetch slots — the crawl-frontier
    # partitioning story at 10^12 urls (one host never hammered by
    # more than POLITENESS_BATCH concurrent fetches per slot)
    f"""
    WITH {_HOSTED_CTE_SQL},
    ordered AS (
      SELECT doc_id, host_idx,
             row_number() OVER (PARTITION BY host_idx ORDER BY doc_id) - 1 AS fetch_rank
      FROM hosted)
    SELECT doc_id,
           {_HOST_NAME_SQL} AS host,
           CAST(fetch_rank AS BIGINT)                        AS fetch_rank,
           CAST(fetch_rank // {POLITENESS_BATCH} AS BIGINT)  AS slot
    FROM ordered
    """,
)
def crawl_frontier_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier politeness scheduling: per-host fetch order
    (deterministic by doc_id) bucketed into fixed-width slots, so no
    host receives more than POLITENESS_BATCH fetches per scheduling
    round; at 10^12 urls the slot column IS the micro-batch id a
    frontier executor consumes.

    Skew-safe salted two-phase rank. The host distribution is
    deliberately Zipfian (top host ~13% of the corpus), so a plain
    ``row_number() over (partition by host)`` would sort 13% of all
    rows in ONE task — a straggler no AQE setting fixes (AQE cannot
    split a window partition the way it splits a join side). Phase 1:
    rank within (host, salt), where salt = doc_id div width for a width
    derived from max(doc_id)/FRONTIER_SALTS — monotone in doc_id, so
    salt-local order composes into per-host global order, and the top
    host's rows spread over FRONTIER_SALTS parallel tasks. Phase 2:
    per-(host, salt) row counts (≤ |hosts|·FRONTIER_SALTS rows) get an
    exclusive prefix sum over salts within each host and are broadcast
    back as rank offsets. Output is identical to the single host
    window, so the oracle is unchanged; max(doc_id) arrives via a
    1-row broadcast, no collect."""
    d = _t(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id").alias("max_id"))
    docs = (
        d.select("doc_id", _host_idx_col().alias("host_idx"))
        .crossJoin(F.broadcast(mx))
        # int64 div end-to-end; width = ceil-ish split of the id range
        # keeps salt in [0, FRONTIER_SALTS] with no multiply overflow
        .withColumn("salt", F.expr(f"doc_id div ((max_id div {FRONTIER_SALTS}) + 1)"))
        .drop("max_id")
    )
    ws = Window.partitionBy("host_idx", "salt").orderBy("doc_id")
    counts = docs.groupBy("host_idx", "salt").count()
    wo = (
        Window.partitionBy("host_idx")
        .orderBy("salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "host_idx",
        "salt",
        F.coalesce(F.sum("count").over(wo), F.lit(0)).alias("rank_offset"),
    )
    return (
        docs.join(F.broadcast(offsets), ["host_idx", "salt"])
        .withColumn(
            "fetch_rank",
            (F.row_number().over(ws) - 1 + F.col("rank_offset")).cast("long"),
        )
        .select(
            "doc_id",
            _host_name().alias("host"),
            "fetch_rank",
            # int64 `div`, not double-divide-and-cast: at 10^15 fetch
            # ranks the double quotient can misround the boundary
            F.expr(f"fetch_rank div {POLITENESS_BATCH}").alias("slot"),
        )
    )


QC_BUCKETS = 1024  # hashing-trick feature dimension (fasttext-style)

# per-token weight in ppm: bucket = first 32 md5 bits mod QC_BUCKETS,
# weight = floor(knuth_u(bucket) * 2e6) - 1e6 in [-1e6, 1e6). All-integer
# scoring: doubles appear only in knuth_u's exact power-of-two division
# and the *2e6 product (32+14 significand bits < 53 — exact), so the sum
# is an int64 both engines agree on bit-for-bit; no libm, no rounding.
_QC_BUCKET_SQL = f"CAST(CAST(('0x' || left(md5(t), 8)) AS UBIGINT) % {QC_BUCKETS} AS BIGINT)"
_QC_WEIGHT_SQL = (
    f"CAST(floor(({KNUTH_U_SQL.format(k=_QC_BUCKET_SQL)}) * 2000000) AS BIGINT) - 1000000"
)
_QC_SCORE_SQL = (
    f"CAST(list_sum(list_transform(str_split(text, ' '), t -> {_QC_WEIGHT_SQL})) AS BIGINT)"
)


def _qc_weight_ppm(tok):
    from .operators.sampling import knuth_u

    bucket = F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % QC_BUCKETS
    return F.floor(knuth_u(bucket) * 2000000) - 1000000


def _qc_score_col(toks):
    return F.aggregate(
        F.transform(toks, _qc_weight_ppm), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def _qc_keep_col(score=None):
    """Quality verdict of doc_quality_classifier: empty docs keep, the
    rest keep on a positive score (default: the score of `text`)."""
    if score is None:
        score = _qc_score_col(F.split(F.col("text"), " "))
    return F.when(F.col("text") == "", F.lit(True)).otherwise(score > 0)


@register(
    "doc_quality_classifier",
    f"""
    WITH scored AS (
      SELECT doc_id, text,
             CASE WHEN text = '' THEN CAST(0 AS BIGINT)
                  ELSE {_QC_SCORE_SQL} END AS score_ppm
      FROM documents)
    SELECT doc_id,
           CASE WHEN text = '' THEN 0
                ELSE CAST(len(str_split(text, ' ')) AS INT) END AS n_tokens,
           score_ppm,
           (text = '' OR score_ppm > 0) AS keep
    FROM scored
    """,
)
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: a hashed-linear (fasttext-style)
    classifier scored entirely JVM-side — the CCNet/fineweb production
    shape where a learned linear model over hashed bag-of-words features
    gates which documents enter training. Tokens hash into QC_BUCKETS
    features (first 32 md5 bits), each feature carries a deterministic
    integer ppm weight, and the doc score is the exact int64 sum via
    `F.aggregate` over the split array: NO shuffle, NO explode, NO
    Python — a narrow map at any scale. Real learned weights drop in as
    a broadcast bucket->weight map without changing the plan. Empty
    docs get an explicit n_tokens=0/keep=true verdict rather than being
    dropped (same contract as with_repetition_stats)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    score = _qc_score_col(toks)
    empty = F.col("text") == ""
    return d.select(
        "doc_id",
        F.when(empty, F.lit(0)).otherwise(F.size(toks)).alias("n_tokens"),
        F.when(empty, F.lit(0).cast("long")).otherwise(score).alias("score_ppm"),
        _qc_keep_col(score).alias("keep"),
    )


MIN_HOST_SHARE_PCT = 1  # keep docs only from hosts holding >= this % of the corpus
MAX_HOST_EMPTY_PCT = 5  # ... and with <= this % empty documents

# One definition of the reputation rule (integer comparisons only),
# shared by host_reputation_filter and crawl_ingest_funnel in both
# engines — editing a threshold cannot desync Spark vs oracle or
# filter vs funnel. The stats/total CTE pair likewise: the corpus
# total is the sum of the ~|hosts|-row stats table, not a third scan
# of documents.
_HOST_STATS_CTES_SQL = """stats AS (
      SELECT host_idx, CAST(count(*) AS BIGINT) AS host_docs,
             CAST(sum(CASE WHEN text = '' THEN 1 ELSE 0 END) AS BIGINT) AS host_empty
      FROM hosted GROUP BY host_idx),
    total AS (SELECT CAST(sum(host_docs) AS BIGINT) AS total FROM stats)"""
_HOST_KEEP_SQL = (
    f"(s.host_docs * 100 >= (SELECT total FROM total) * {MIN_HOST_SHARE_PCT}"
    f" AND s.host_empty * 100 <= s.host_docs * {MAX_HOST_EMPTY_PCT})"
)


def _host_stats_df(hosted: DataFrame) -> DataFrame:
    """Per-host stats plus the corpus total, in ONE branch: the total is
    a global window over the already-aggregated ~|hosts|-row table (a
    single-partition window over 40 rows, free), NOT a second aggregate
    branch of documents — a separate branch re-scans the corpus because
    column pruning makes its exchange non-reusable. The window key
    ``host_idx % 1`` is constant 0 but non-foldable, so the deliberate
    single-partition spec survives Catalyst and WindowExec's
    whole-input-collapse warning cannot fire (same idiom as
    doc_sequence_packing's totals pass)."""
    stats = hosted.groupBy("host_idx").agg(
        F.count("*").alias("host_docs"),
        F.sum(F.when(F.col("text") == "", 1).otherwise(0)).alias("host_empty"),
    )
    return stats.withColumn(
        "total", F.sum("host_docs").over(Window.partitionBy(F.col("host_idx") % 1))
    )


def _host_keep_col():
    return (F.col("host_docs") * 100 >= F.col("total") * MIN_HOST_SHARE_PCT) & (
        F.col("host_empty") * 100 <= F.col("host_docs") * MAX_HOST_EMPTY_PCT
    )


@register(
    "host_reputation_filter",
    # C4/UT1-style domain filtering: a document's fate depends on its
    # host's aggregate behavior. Integer comparisons only.
    f"""
    WITH {_HOSTED_CTE_SQL},
    {_HOST_STATS_CTES_SQL}
    SELECT h.doc_id,
           {_HOST_NAME_SQL} AS host,
           s.host_docs, s.host_empty,
           {_HOST_KEEP_SQL} AS keep
    FROM hosted h JOIN stats s USING (host_idx)
    """,
)
def host_reputation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-reputation document filter (C4/UT1-style domain rules): a
    doc is kept iff its host carries >= 1% of the corpus AND <= 5% empty
    documents. Shape chosen for 10^12 rows: a map-side-combinable
    groupBy over ~|hosts| keys produces a tiny reputation table that
    BROADCAST-joins back to the docs — deliberately NOT a window over
    host partitions, which would sort the full Zipf-skewed host
    partition (the top host alone is ~13% of the corpus). The corpus
    total is a window-sum over the stats table itself (~|hosts| rows),
    so the whole query reads documents exactly twice (docs + stats
    branch) and joins once."""
    d = _t(spark, sf_dir, "documents")
    hosted = d.select("doc_id", "text", _host_idx_col().alias("host_idx"))
    stats = _host_stats_df(hosted)
    return (
        hosted.join(F.broadcast(stats), "host_idx")
        .select(
            "doc_id",
            _host_name().alias("host"),
            "host_docs",
            "host_empty",
            _host_keep_col().alias("keep"),
        )
    )


@register(
    "crawl_ingest_funnel",
    # the round-4 ops composed end-to-end: every new-crawl document is
    # assigned its FIRST failing stage (dup_of_old > dup_in_batch >
    # quality_cut > host_cut > kept) and the funnel is reported per
    # host — the observability table a recurring-crawl ingest emits.
    f"""
    WITH {_HOSTED_CTE_SQL},
    {_HOST_STATS_CTES_SQL},
    fp AS (
      SELECT doc_id, host_idx, text, {FP_MD5_SQL} AS fp_md5 FROM hosted),
    old AS (SELECT DISTINCT fp_md5 FROM fp WHERE doc_id % 5 <> 4),
    new AS (
      SELECT fp.*,
             CASE WHEN text = '' THEN CAST(0 AS BIGINT)
                  ELSE {_QC_SCORE_SQL} END AS score_ppm,
             min(doc_id) OVER (PARTITION BY fp_md5) AS first_id
      FROM fp WHERE doc_id % 5 = 4),
    verdicts AS (
      SELECT n.host_idx,
             CASE WHEN o.fp_md5 IS NOT NULL THEN 'dup_of_old'
                  WHEN n.doc_id <> n.first_id THEN 'dup_in_batch'
                  WHEN NOT (n.text = '' OR n.score_ppm > 0) THEN 'quality_cut'
                  WHEN NOT {_HOST_KEEP_SQL} THEN 'host_cut'
                  ELSE 'kept' END AS verdict
      FROM new n LEFT JOIN old o ON o.fp_md5 = n.fp_md5
      JOIN stats s USING (host_idx))
    SELECT {_HOST_NAME_SQL} AS host,
           CAST(count(*) AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN verdict = 'dup_of_old' THEN 1 ELSE 0 END) AS BIGINT) AS dup_of_old,
           CAST(sum(CASE WHEN verdict = 'dup_in_batch' THEN 1 ELSE 0 END) AS BIGINT) AS dup_in_batch,
           CAST(sum(CASE WHEN verdict = 'quality_cut' THEN 1 ELSE 0 END) AS BIGINT) AS quality_cut,
           CAST(sum(CASE WHEN verdict = 'host_cut' THEN 1 ELSE 0 END) AS BIGINT) AS host_cut,
           CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS kept
    FROM verdicts GROUP BY host_idx
    """,
)
def crawl_ingest_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 crawl ops composed end-to-end: classify every
    document of the new crawl batch into its first failing ingest stage
    (already-seen fingerprint, duplicate within the batch, hashed-linear
    quality cut, host-reputation cut, else kept) and report the funnel
    per host. The production observability table for a recurring
    Common-Crawl ingest: one glance shows which hosts are re-serving old
    content vs shipping junk. Scale shape: every join is
    fingerprint-keyed or a broadcast of the tiny host table; the final
    rollup is a ~|hosts|-row aggregate; nothing collects. The narrow
    (doc_id, text, host_idx) projection is persisted once
    (MEMORY_AND_DISK): its three consumers — host stats, old-corpus
    fingerprints, new-batch scoring — would otherwise each re-scan
    documents (exchange reuse is blocked by their differing column
    pruning), and at 100 TB one spill-safe materialization of the
    pruned projection is cheaper than two extra full scans."""
    from pyspark import StorageLevel

    d = _t(spark, sf_dir, "documents")
    hosted = d.select("doc_id", "text", _host_idx_col().alias("host_idx")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    stats = _host_stats_df(hosted)
    fp = hosted.withColumn("fp_md5", fp_md5_col(F.col("text")))
    old = fp.filter(F.col("doc_id") % 5 != 4).select("fp_md5").distinct()
    new = (
        fp.filter(F.col("doc_id") % 5 == 4)
        .withColumn(
            "score_ppm",
            F.when(F.col("text") == "", F.lit(0).cast("long")).otherwise(
                _qc_score_col(F.split(F.col("text"), " "))
            ),
        )
        .withColumn("first_id", F.min("doc_id").over(Window.partitionBy("fp_md5")))
    )
    q_keep = (F.col("text") == "") | (F.col("score_ppm") > 0)
    h_keep = _host_keep_col()
    verdict = (
        F.when(F.col("_in_old").isNotNull(), "dup_of_old")
        .when(F.col("doc_id") != F.col("first_id"), "dup_in_batch")
        .when(~q_keep, "quality_cut")
        .when(~h_keep, "host_cut")
        .otherwise("kept")
    )
    verdicts = (
        new.join(old.withColumn("_in_old", F.lit(1)), "fp_md5", "left")
        .join(F.broadcast(stats), "host_idx")
        .select("host_idx", verdict.alias("verdict"))
    )

    def n(v):
        return F.sum(F.when(F.col("verdict") == v, 1).otherwise(0)).alias(v)

    return verdicts.groupBy("host_idx").agg(
        F.count("*").alias("n_new"),
        n("dup_of_old"),
        n("dup_in_batch"),
        n("quality_cut"),
        n("host_cut"),
        n("kept"),
    ).select(
        _host_name().alias("host"),
        "n_new",
        "dup_of_old",
        "dup_in_batch",
        "quality_cut",
        "host_cut",
        "kept",
    )


def _docs_signature(sf_dir: str) -> str:
    """Content signature for /tmp materializations of ``documents``:
    md5 over the resolved sf_dir path plus every parquet part's
    (relpath, size, mtime). Rebuilding the source in place changes the
    signature, so stale /tmp copies are impossible by construction."""
    import hashlib
    import os

    src = os.path.join(sf_dir, "documents.parquet")
    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    if os.path.isdir(src):
        for root, _dirs, files in sorted(os.walk(src)):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                h.update(f"{os.path.relpath(os.path.join(root, f), src)}:{st.st_size}:{st.st_mtime_ns}".encode())
    elif os.path.exists(src):
        st = os.stat(src)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


@register(
    "streaming_incremental_dedup",
    # stream-static join: the new-crawl batch arrives as a stream and is
    # classified against the STATIC corpus fingerprint table — the
    # streaming form of corpus_incremental_dedup's first stage. The
    # result must equal the batch left join exactly.
    f"""
    WITH fp AS (
      SELECT doc_id, {FP_MD5_SQL} AS fp_md5 FROM documents),
    old AS (SELECT DISTINCT fp_md5 FROM fp WHERE doc_id % 5 <> 4)
    SELECT n.doc_id, n.fp_md5, (o.fp_md5 IS NOT NULL) AS dup_of_old
    FROM (SELECT * FROM fp WHERE doc_id % 5 = 4) n
    LEFT JOIN old o ON o.fp_md5 = n.fp_md5
    """,
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join under Structured Streaming: new-crawl
    documents arrive as micro-batches and are classified against the
    static corpus fingerprint table by a left outer join (append mode,
    no watermark needed — the static side never changes mid-query).
    This is how a continuously-arriving crawl runs incremental dedup in
    production: the static side is the bucketed corpus fingerprint
    table, each micro-batch joins against it, and only unseen docs flow
    to extraction. In-batch duplicates are the stateful operator's job
    (streaming_stateful_dedup); this query covers the corpus-history
    stage. Drained with availableNow into a memory sink."""
    import os
    import uuid

    d = _t(spark, sf_dir, "documents")
    old = (
        d.filter(F.col("doc_id") % 5 != 4)
        .select(fp_md5_col(F.col("text")).alias("fp_md5"))
        .distinct()
    )
    # stream source: a /tmp parquet copy of the documents table
    # (readStream needs a directory it can list). Keyed on a content
    # signature of the source parquet (full path + per-file size+mtime)
    # — not just the sf_dir basename — so two sf_dirs sharing a
    # basename, or a replica rebuilt in place by make_replica.py, never
    # reuse a stale copy (the versioned-cache discipline of
    # materialize_pages/materialize_warc).
    ddir = f"/tmp/spark_graft_stream_docs/{_docs_signature(sf_dir)}"
    if not os.path.exists(ddir + "/_SUCCESS"):
        d.write.mode("overwrite").parquet(ddir)
    stream = (
        spark.readStream.schema(d.schema)
        .parquet(ddir)
        .filter(F.col("doc_id") % 5 == 4)
        .select("doc_id", fp_md5_col(F.col("text")).alias("fp_md5"))
    )
    joined = stream.join(
        old.withColumn("_in_old", F.lit(1)), "fp_md5", "left"
    ).select("doc_id", "fp_md5", F.col("_in_old").isNotNull().alias("dup_of_old"))
    name = f"stream_increment_{uuid.uuid4().hex[:10]}"
    q = joined.writeStream.format("memory").queryName(name).trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.table(name)


RECRAWL_WINDOW_S = 64  # same-host co-fetch audit window (seconds)


@register(
    "streaming_watermark_join",
    # stream-stream inner join under event-time watermarks: pair every
    # new-crawl fetch with the recent-crawl fetches of the SAME host in
    # the preceding RECRAWL_WINDOW_S seconds. Event time is synthesized
    # 1:1 from doc_id, so the oracle states the time-range condition as
    # integer arithmetic — identical pair set.
    f"""
    WITH {_HOSTED_CTE_SQL},
    n AS (SELECT doc_id, host_idx FROM hosted WHERE doc_id % 5 = 4),
    r AS (SELECT doc_id, host_idx FROM hosted WHERE doc_id % 5 = 3),
    pairs AS (
      SELECT n.doc_id AS new_id, r.doc_id AS recent_id,
             n.host_idx AS host_idx, n.doc_id - r.doc_id AS lag_s
      FROM n JOIN r ON r.host_idx = n.host_idx
       AND n.doc_id - r.doc_id BETWEEN 0 AND {RECRAWL_WINDOW_S})
    SELECT new_id, recent_id, {_HOST_NAME_SQL} AS host,
           CAST(lag_s AS BIGINT) AS lag_s
    FROM pairs
    """,
)
def streaming_watermark_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join — the sixth Structured
    Streaming surface (after extract / tumbling windows / sessions /
    keyed state / stream-static): a politeness-audit pairing of each
    new-crawl fetch with the same host's recent-crawl fetches within
    the last RECRAWL_WINDOW_S seconds of event time. Both sides carry
    ``withWatermark`` and the join carries an event-time range bound,
    so Spark can evict join state older than the watermark — the thing
    that makes an unbounded two-stream join runnable forever at crawl
    scale (state is O(rows inside the window), not O(stream)). Event
    time is doc_id seconds from epoch, so results equal the batch
    integer-delta join the oracle states; drained with availableNow
    into a memory sink."""
    import os
    import uuid

    d = _t(spark, sf_dir, "documents")
    ddir = f"/tmp/spark_graft_stream_docs/{_docs_signature(sf_dir)}"
    if not os.path.exists(ddir + "/_SUCCESS"):
        d.write.mode("overwrite").parquet(ddir)

    def side(slice_rem: int, prefix: str) -> DataFrame:
        return (
            spark.readStream.schema(d.schema)
            .parquet(ddir)
            .filter(F.col("doc_id") % 5 == slice_rem)
            .select(
                F.col("doc_id").alias(f"{prefix}_id"),
                _host_idx_col().alias(f"{prefix}_host"),
                F.timestamp_seconds(F.col("doc_id")).alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", f"{2 * RECRAWL_WINDOW_S} seconds")
        )

    new, recent = side(4, "new"), side(3, "recent")
    joined = new.join(
        recent,
        (F.col("new_host") == F.col("recent_host"))
        & (F.col("recent_ts") >= F.col("new_ts") - F.expr(f"interval {RECRAWL_WINDOW_S} seconds"))
        & (F.col("recent_ts") <= F.col("new_ts")),
    ).select(
        "new_id",
        "recent_id",
        F.col("new_host").alias("host_idx"),
        (F.unix_timestamp("new_ts") - F.unix_timestamp("recent_ts")).cast("long").alias("lag_s"),
    )
    out = joined.select("new_id", "recent_id", _host_name().alias("host"), "lag_s")
    name = f"stream_recrawl_{uuid.uuid4().hex[:10]}"
    q = out.writeStream.format("memory").queryName(name).trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.table(name)


BM25_TOP_K = 10
# Fixed retrieval query set (curation-by-retrieval: pull corpus docs
# matching high-quality seed phrases, the kNN-LM / targeted-crawl shape).
# A term may serve several queries; terms chosen from the generator's
# content vocabulary so every query has candidates at every sf.
BM25_QUERIES: list[tuple[int, str]] = [
    (1, "hash"), (1, "join"),
    (2, "stream"), (2, "batch"), (2, "window"),
    (3, "spark"), (3, "query"),
    (4, "vector"), (4, "scan"), (4, "slow"),
]
_BM25_VOCAB = sorted({t for _, t in BM25_QUERIES})
_BM25_VOCAB_LITS = ", ".join(f"'{t}'" for t in _BM25_VOCAB)
_BM25_QUERY_VALUES = ", ".join(f"({q}, '{t}')" for q, t in BM25_QUERIES)

# Okapi BM25 with k1=1.2, b=0.75, made engine-exact. Per term:
#   score = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
# with avgdl = T/N (T = corpus tokens, N = corpus docs) this is the
# rational form  idf * 22*tf*T / (10*tf*T + 3*T + 9*dl*N)  — every
# factor an exact int64 cast to double inside an IDENTICAL expression
# tree in both engines (same IEEE ops in the same association order,
# so any >2^53 rounding is identical — the doc_tfidf_topk discipline;
# ln-free idf_ppm = floor(N*1e6/df) for the same libm reason). floor
# per term then exact int64 sum; ties rank on doc_id.
_BM25_SCORE_SQL = """
      CAST(floor(
        CAST(CAST(floor(CAST(s.n_docs AS DOUBLE) * 1000000.0
                        / CAST(df.df AS DOUBLE)) AS BIGINT) AS DOUBLE)
        * (CAST(tf.tf AS DOUBLE) * 22.0 * CAST(s.t_tokens AS DOUBLE))
        / (CAST(tf.tf AS DOUBLE) * 10.0 * CAST(s.t_tokens AS DOUBLE)
           + 3.0 * CAST(s.t_tokens AS DOUBLE)
           + 9.0 * CAST(tf.dl AS DOUBLE) * CAST(s.n_docs AS DOUBLE))
      ) AS BIGINT)"""


# shared CTE prefix: corpus stats, pruned postings, df, per-(query, doc)
# BM25 scores — bm25_retrieval ranks it, retrieval_eval_mrr grades it
_BM25_CORE_CTES = f"""docs AS (
      SELECT doc_id, text, len(str_split(text, ' ')) AS dl
      FROM documents WHERE text <> ''),
    s AS (SELECT count(*) AS n_docs, sum(dl) AS t_tokens FROM docs),
    q(query_id, term) AS (VALUES {_BM25_QUERY_VALUES}),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
      FROM (SELECT doc_id, dl, unnest(str_split(text, ' ')) AS term FROM docs)
      WHERE term IN ({_BM25_VOCAB_LITS})
      GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    doc_scores AS (
      SELECT q.query_id, tf.doc_id,
             CAST(sum({_BM25_SCORE_SQL}) AS BIGINT) AS score_ppm,
             CAST(count(*) AS INT) AS terms_hit
      FROM tf JOIN df USING (term) JOIN q ON q.term = tf.term CROSS JOIN s
      GROUP BY 1, 2)"""


@register(
    "bm25_retrieval",
    f"""
    WITH {_BM25_CORE_CTES}
    SELECT CAST(query_id AS INT) AS query_id, doc_id, score_ppm, terms_hit,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY score_ppm DESC, doc_id) AS rank
          FROM doc_scores)
    WHERE rank <= {BM25_TOP_K}
    """,
)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the corpus for a fixed seed-query set
    (the curation-by-retrieval primitive: surface the documents most
    relevant to seed phrases, e.g. to build a targeted training slice).
    Inverted-index shape, not a scan-per-query: the query vocabulary is
    a compile-time literal, so the term filter prunes the exploded
    stream before the only corpus-keyed shuffle (tf per (doc, term));
    df and the query map are tiny and broadcast; corpus stats are a
    1-row broadcast cross join. The final per-query top-k survives
    the 4-partition window because Spark 4's window-group-limit
    pushdown takes a per-task top-k BEFORE the exchange (same plan
    shape corpus_vocabulary relies on) — at 10^12 docs each task ships
    only BM25_TOP_K rows per query, not its full candidate set."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text") != "")
    docs = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"), "text")
    stats = F.broadcast(
        docs.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("t_tokens"))
    )
    terms = docs.select(
        "doc_id", "dl", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term").isin(_BM25_VOCAB))
    tf = terms.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"), F.min("dl").alias("dl")
    )
    df_t = F.broadcast(tf.groupBy("term").agg(F.count("*").alias("df")))
    qdf = F.broadcast(
        spark.createDataFrame(BM25_QUERIES, "query_id int, term string")
    )
    idf_ppm = F.floor(
        F.col("n_docs").cast("double") * F.lit(1000000.0) / F.col("df").cast("double")
    )
    num = F.col("tf").cast("double") * F.lit(22.0) * F.col("t_tokens").cast("double")
    den = (
        F.col("tf").cast("double") * F.lit(10.0) * F.col("t_tokens").cast("double")
        + F.lit(3.0) * F.col("t_tokens").cast("double")
        + F.lit(9.0) * F.col("dl").cast("double") * F.col("n_docs").cast("double")
    )
    term_score = F.floor(idf_ppm.cast("double") * num / den)
    doc_scores = (
        tf.join(df_t, "term")
        .join(qdf, "term")
        .crossJoin(stats)
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(term_score).alias("score_ppm"),
            F.count("*").cast("int").alias("terms_hit"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score_ppm").desc(), "doc_id")
    return (
        doc_scores.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("query_id", "doc_id", "score_ppm", "terms_hit", "rank")
    )


_BM25_QLEN_VALUES = ", ".join(
    f"({q}, {sum(1 for qq, _ in BM25_QUERIES if qq == q)})"
    for q in sorted({q for q, _ in BM25_QUERIES})
)


@register(
    "retrieval_eval_mrr",
    f"""
    WITH {_BM25_CORE_CTES},
    ranked AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_ppm DESC, doc_id) AS rank
      FROM doc_scores),
    qlen(query_id, n_terms) AS (VALUES {_BM25_QLEN_VALUES}),
    rel AS (
      SELECT c.query_id, c.doc_id
      FROM (SELECT q.query_id, tf.doc_id,
                   count(DISTINCT tf.term) AS nt
            FROM tf JOIN q ON q.term = tf.term GROUP BY 1, 2) c
      JOIN qlen USING (query_id)
      WHERE c.nt = qlen.n_terms),
    nrel AS (SELECT query_id, count(*) AS n_relevant FROM rel GROUP BY 1),
    hits AS (
      SELECT r.query_id, count(*) AS hits_at_k, min(r.rank) AS first_rank
      FROM (SELECT * FROM ranked WHERE rank <= {BM25_TOP_K}) r
      JOIN rel USING (query_id, doc_id)
      GROUP BY 1)
    SELECT CAST(qlen.query_id AS INT) AS query_id,
           CAST(coalesce(n_relevant, 0) AS BIGINT) AS n_relevant,
           CAST(coalesce(hits_at_k, 0) AS BIGINT) AS hits_at_k,
           CAST(coalesce(hits_at_k, 0) * 1000000
                // greatest(coalesce(n_relevant, 0), 1) AS BIGINT)
             AS recall_ppm,
           CAST(CASE WHEN first_rank IS NULL THEN 0
                ELSE 1000000 // first_rank END AS BIGINT) AS mrr_ppm
    FROM qlen LEFT JOIN nrel USING (query_id) LEFT JOIN hits USING (query_id)
    """,
)
def retrieval_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the BM25 ranking: per query,
    recall@{BM25_TOP_K} and MRR (in ppm, 1e6/first-relevant-rank,
    floor-div exact) against closed-form conjunctive relevance labels —
    a document is relevant iff it contains EVERY term of the query.
    This is the search-eval loop a curation-by-retrieval pipeline runs
    to validate its ranker before trusting it to pick training slices.

    Scale shape: the label side reuses bm25's pruned-postings trick —
    only postings of query terms reach the (query, doc) conjunction
    check (size(collect_set) over <= |query| terms, never a
    count(DISTINCT) double exchange); the ranked side is <= K rows per
    query and rides a broadcast into the hit join, so grading touches
    the corpus exactly once more than ranking it did. Final metrics
    are a left join on the |Q|-row query table."""
    ranked = bm25_retrieval(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").filter(F.col("text") != "")
    terms = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isin(_BM25_VOCAB))
        .distinct()
    )
    qdf = F.broadcast(
        spark.createDataFrame(BM25_QUERIES, "query_id int, term string")
    )
    qlen_rows = sorted(
        (q, sum(1 for qq, _ in BM25_QUERIES if qq == q))
        for q in {q for q, _ in BM25_QUERIES}
    )
    qlen_df = spark.createDataFrame(qlen_rows, "query_id int, n_terms int")
    qlen = F.broadcast(qlen_df)
    rel = (
        terms.join(qdf, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.size(F.collect_set("term")).alias("nt"))
        .join(qlen, "query_id")
        .filter(F.col("nt") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )
    nrel = rel.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_relevant")
    )
    hits = (
        rel.join(F.broadcast(ranked.select("query_id", "doc_id", "rank")),
                 ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("hits_at_k"),
            F.min("rank").alias("first_rank"),
        )
    )
    # unhinted LEFT side (a broadcast hint on the left of a left join is
    # unsatisfiable); the per-query aggregates on the right are <=|Q|
    # rows and broadcast cleanly
    out = (
        qlen_df.select("query_id")
        .join(F.broadcast(nrel), "query_id", "left")
        .join(F.broadcast(hits), "query_id", "left")
    )
    return out.select(
        F.col("query_id").cast("int").alias("query_id"),
        F.coalesce("n_relevant", F.lit(0)).cast("long").alias("n_relevant"),
        F.coalesce("hits_at_k", F.lit(0)).cast("long").alias("hits_at_k"),
        F.expr(
            "CAST(coalesce(hits_at_k, 0) * 1000000"
            " div greatest(coalesce(n_relevant, 0), 1) AS BIGINT)"
        ).alias("recall_ppm"),
        F.when(F.col("first_rank").isNull(), F.lit(0))
        .otherwise(F.expr("1000000 div first_rank"))
        .cast("long")
        .alias("mrr_ppm"),
    )


# Fixed phrase set for exact phrase search (multi-token literals from
# the generator vocabulary so every phrase has matches at every sf).
PHRASE_QUERIES: list[tuple[int, str]] = [
    (1, "table hash"),
    (2, "merge order"),
    (3, "slow hash batch"),
    (4, "part filter scan"),
]
_PHRASE_ROWS: list[tuple[int, int, str, int]] = [
    (pid, slot, term, len(phrase.split(" ")))
    for pid, phrase in PHRASE_QUERIES
    for slot, term in enumerate(phrase.split(" "))
]
_PHRASE_TERMS = sorted({t for _, _, t, _ in _PHRASE_ROWS})
_PHRASE_VALUES = ", ".join(
    f"({p}, {s}, '{t}', {n})" for p, s, t, n in _PHRASE_ROWS
)


@register(
    "phrase_search",
    f"""
    WITH docs AS (
      SELECT doc_id, str_split(text, ' ') AS toks FROM documents
      WHERE text <> ''),
    tok AS (
      SELECT doc_id,
             unnest(toks) AS term,
             unnest(generate_series(1, len(toks))) AS pos
      FROM docs),
    ph(phrase_id, slot, term, plen) AS (VALUES {_PHRASE_VALUES}),
    cand AS (
      SELECT ph.phrase_id, t.doc_id, t.pos - ph.slot AS start,
             ph.slot, ph.plen
      FROM tok t JOIN ph ON t.term = ph.term),
    hits AS (
      SELECT phrase_id, doc_id, start
      FROM cand GROUP BY 1, 2, 3
      HAVING count(DISTINCT slot) = min(plen))
    SELECT CAST(phrase_id AS INT) AS phrase_id, doc_id,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(min(start) AS INT) AS first_pos
    FROM hits GROUP BY 1, 2
    """,
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over positional postings — the inverted-index
    companion to bm25_retrieval (Lucene PhraseQuery / Common-Crawl
    columnar-index shape): a token matches phrase slot s at position p
    iff every other slot s' of the phrase matches at p + (s' - s), i.e.
    all slots of one occurrence share the same start = pos - slot.

    Scale shape: the positional token stream is pruned to the phrase
    vocabulary (a compile-time literal) BEFORE the only corpus-keyed
    exchange, so at 10^12 docs only postings of the queried terms ever
    cross the wire; the phrase table is a broadcast literal; occurrence
    detection is one groupBy (phrase, doc, start) with map-side
    partials (slots per group <= max phrase length, so the per-group
    state is O(1)), then a per-(phrase, doc) rollup. No window, no
    sort, no self-join on positions (the classic pos+1 adjacency
    self-join re-shuffles the postings once per phrase length; the
    shared-start trick does every phrase length in one pass)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text") != "")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    ).filter(F.col("term").isin(_PHRASE_TERMS))
    ph = F.broadcast(
        spark.createDataFrame(
            _PHRASE_ROWS, "phrase_id int, slot int, term string, plen int"
        )
    )
    # 1-based pos to match the oracle's generate_series; start = pos - slot
    cand = tok.join(ph, "term").select(
        "phrase_id",
        "doc_id",
        (F.col("pos") + 1 - F.col("slot")).alias("start"),
        "slot",
        "plen",
    )
    hits = (
        cand.groupBy("phrase_id", "doc_id", "start")
        .agg(
            F.size(F.collect_set("slot")).alias("n_slots"),
            F.min("plen").alias("plen"),
        )
        .filter(F.col("n_slots") == F.col("plen"))
    )
    return hits.groupBy("phrase_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.min("start").cast("int").alias("first_pos"),
    )


@register(
    "dedup_containment",
    f"""
    WITH shingled AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(str_split(text, ' ')) >= {dedup.SHINGLE_K}
               THEN list_transform(range(0, len(str_split(text, ' ')) - {dedup.SHINGLE_K} + 1),
                    i -> array_to_string((str_split(text, ' '))[i + 1 : i + {dedup.SHINGLE_K}], ' '))
               ELSE [text] END) AS shingles
      FROM documents),
    exploded_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
    keep AS (SELECT shingle FROM exploded_all GROUP BY shingle HAVING count(*) <= {NGRAM_MAX_DF}),
    exploded AS (SELECT e.doc_id, e.shingle FROM exploded_all e JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM exploded GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
      FROM exploded a JOIN exploded b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    scored AS (
      SELECT id_a, id_b, n_inter,
             n_inter * 1000000 // sa.n_shingles AS cont_a_ppm,
             n_inter * 1000000 // sb.n_shingles AS cont_b_ppm,
             n_inter * 1000000 // (sa.n_shingles + sb.n_shingles - n_inter) AS jaccard_ppm
      FROM inter JOIN sizes sa ON sa.doc_id = id_a
                 JOIN sizes sb ON sb.doc_id = id_b)
    SELECT *, jaccard_ppm < 800000 AS jaccard_missed FROM scored
    WHERE greatest(cont_a_ppm, cont_b_ppm) >= 900000
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (partial-scrape / long-quote
    detection): pairs where one doc's discriminative shingle set is
    >=90% contained in the other's, flagged `jaccard_missed` when
    Jaccard stays below the 0.8 dedup bar — exactly the pairs
    symmetric near-dup passes miss, because a small doc swallowed by a
    big one has a union dominated by the big doc. Scores are exact
    integer ppm, same shingle-keyed shuffle + NGRAM_MAX_DF stop cut as
    dedup_ngram_jaccard (the hot boilerplate shingles never fan
    out)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.ngram_containment_pairs(d, max_df=NGRAM_MAX_DF)


# ---------------------------------------------------------------------------
# URL-structure parallel-page mining (ParaCrawl candidate generation)
# ---------------------------------------------------------------------------

PARA_GROUP = 5  # docs per synthetic site-path group
PARA_RATIO_LO = 500_000  # Gale-Church-style length-ratio band, ppm
PARA_RATIO_HI = 2_000_000

_PARA_URL_RE = r"^https://([^/]+)/([a-z]{2})/(.+)$"
# uniform Knuth draw keyed on the PATH GROUP (not the doc), so every
# page of a site-path lands on the same host — mirrors how a real site
# serves /en/... and /de/... of the same article from one host
_PARA_U_SQL = KNUTH_U_SQL.format(k=f"doc_id // {PARA_GROUP}")


def _url_parallel_oracle() -> str:
    return f"""
    WITH pages AS (
      SELECT doc_id, lang, n_chars,
             'https://host' ||
             lpad(CAST(len(list_filter({{cdf}}, c -> c < ({_PARA_U_SQL}))) AS VARCHAR), 2, '0') ||
             '.example.com/' || lang || '/page' ||
             CAST(doc_id // {PARA_GROUP} AS VARCHAR) AS url
      FROM documents),
    parsed AS (
      SELECT doc_id, n_chars,
             regexp_extract(url, '{_PARA_URL_RE}', 1) AS host,
             regexp_extract(url, '{_PARA_URL_RE}', 2) AS url_lang,
             regexp_extract(url, '{_PARA_URL_RE}', 3) AS path
      FROM pages),
    src AS (SELECT host, path, doc_id AS src_doc_id, n_chars AS src_chars
            FROM parsed WHERE url_lang = 'en'),
    tgt AS (SELECT host, path, doc_id AS tgt_doc_id, url_lang AS tgt_lang,
                   n_chars AS tgt_chars
            FROM parsed WHERE url_lang <> 'en')
    SELECT s.host, s.src_doc_id, t.tgt_doc_id, t.tgt_lang,
           CAST(s.src_chars * 1000000 // nullif(t.tgt_chars, 0) AS BIGINT)
             AS len_ratio_ppm,
           coalesce(s.src_chars * 1000000 // nullif(t.tgt_chars, 0)
                      BETWEEN {PARA_RATIO_LO} AND {PARA_RATIO_HI}, FALSE)
             AS accepted
    FROM src s JOIN tgt t ON t.host = s.host AND t.path = s.path
    """


@register("url_parallel_candidates", _url_parallel_oracle())
def url_parallel_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-structure parallel-page mining — the ParaCrawl/bitextor
    candidate-generation stage that precedes embedding-margin scoring
    (bitext_margin_mine grades the vector side; this is the crawl
    side): pages whose URLs differ ONLY by the language path segment
    (/en/... vs /de/...) on the same host are translation candidates,
    then a Gale-Church-style length-ratio band [0.5, 2.0] (exact
    integer ppm, DIV not float) marks the pairs worth aligning.

    The fixture synthesizes the url column in-query (documents carries
    no url): host drawn from the shared Zipf cdf keyed on the PATH
    GROUP (doc_id // PARA_GROUP) so a site-path's language variants
    share a host, path 'pageN' from the group id. The OPERATOR then
    works only on the url string: regexp-parse host/lang/path,
    normalize away the lang segment, equi-join 'en' pages to non-'en'
    pages on (host, path).

    Scale shape: all parsing is JVM regexp columns; the ONE exchange is
    the (host, path) equi-join whose key is uniform (path groups are
    bounded at PARA_GROUP pages, so fanout <= PARA_GROUP^2 per key and
    the Zipf host skew is neutralized by the path component — the top
    host's pages spread over |host|/PARA_GROUP distinct keys). At 10^12
    urls this is a plain keyed join with no hot key and no broadcast
    needed."""
    d = _td(spark, sf_dir)
    pages = d.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("https://host"),
            F.lpad(_host_idx_col(F.expr(f"doc_id div {PARA_GROUP}")).cast("string"), 2, "0"),
            F.lit(".example.com/"),
            F.col("lang"),
            F.lit("/page"),
            F.expr(f"doc_id div {PARA_GROUP}").cast("string"),
        ).alias("url"),
    )
    parsed = pages.select(
        "doc_id",
        "n_chars",
        F.regexp_extract("url", _PARA_URL_RE, 1).alias("host"),
        F.regexp_extract("url", _PARA_URL_RE, 2).alias("url_lang"),
        F.regexp_extract("url", _PARA_URL_RE, 3).alias("path"),
    )
    src = parsed.filter(F.col("url_lang") == "en").select(
        "host",
        "path",
        F.col("doc_id").alias("src_doc_id"),
        F.col("n_chars").alias("src_chars"),
    )
    tgt = parsed.filter(F.col("url_lang") != "en").select(
        "host",
        "path",
        F.col("doc_id").alias("tgt_doc_id"),
        F.col("url_lang").alias("tgt_lang"),
        F.col("n_chars").alias("tgt_chars"),
    )
    ratio = F.expr("src_chars * 1000000L div nullif(tgt_chars, 0)")
    return (
        src.join(tgt, ["host", "path"])
        .select(
            "host",
            "src_doc_id",
            "tgt_doc_id",
            "tgt_lang",
            ratio.cast("long").alias("len_ratio_ppm"),
            F.coalesce(
                ratio.between(PARA_RATIO_LO, PARA_RATIO_HI), F.lit(False)
            ).alias("accepted"),
        )
    )


# ---------------------------------------------------------------------------
# block-postings index build: varint budget accounting
# ---------------------------------------------------------------------------

# Lucene-style block postings: doc ids are grouped into fixed id-range
# blocks; each block stores its first id ABSOLUTE and the rest as varint
# deltas. The block-absolute layout is what makes index construction
# embarrassingly parallel — no per-term sequential delta chain, so the
# gap windows are bounded by the block width (POSTINGS_BLOCK docs) no
# matter how hot the term. A naive per-term delta chain would put a
# stopword's entire 10^12-row posting list into ONE window task; here
# the hottest term costs the same per-block work as the coldest.
POSTINGS_BLOCK = 256

# varint length of a non-negative int64: ceil(bits/7), with bin(0) = '0'
# (1 bit -> 1 byte) — length(bin(x)) is engine-exact on both sides.
_VLEN_SQL = "(length(bin({x})) + 6) // 7"


@register(
    "postings_varint_budget",
    f"""
    WITH p AS (
      SELECT DISTINCT term, doc_id
      FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term
            FROM documents WHERE text <> '')),
    g AS (
      SELECT term, doc_id, doc_id // {POSTINGS_BLOCK} AS block,
             doc_id - lag(doc_id) OVER (
               PARTITION BY term, doc_id // {POSTINGS_BLOCK}
               ORDER BY doc_id) AS gap
      FROM p),
    b AS (
      SELECT term, block, count(*) AS n,
             sum(CASE WHEN gap IS NULL THEN {_VLEN_SQL.format(x="doc_id")}
                      ELSE {_VLEN_SQL.format(x="gap")} END) AS bytes
      FROM g GROUP BY term, block)
    SELECT term,
           CAST(sum(n) AS BIGINT) AS df,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(bytes) AS BIGINT) AS varint_bytes,
           CAST(8 * sum(n) AS BIGINT) AS raw_bytes,
           CAST((8 * sum(n) - sum(bytes)) * 1000000 // (8 * sum(n)) AS BIGINT)
             AS saving_ppm
    FROM b GROUP BY term
    """,
)
def postings_varint_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build accounting: per term, the exact byte budget
    of a block-postings layout (first doc id per POSTINGS_BLOCK-wide id
    block stored absolute, the rest as varint deltas) vs raw 8-byte
    ids — the sizing pass that decides whether a serving index for a
    curated slice fits its storage tier.

    Scale shape at 10^12 docs: the delta windows partition on
    (term, block), so every window group is bounded by the BLOCK WIDTH
    (256 ids) — a stopword present in every document costs millions of
    small groups, never one giant ordered task (the block-absolute
    format is chosen exactly for this; contrast a per-term delta chain,
    which serializes the hottest term). The final per-term rollup is a
    pure sum/count groupBy with map-side combine, output bounded by the
    vocabulary. No collects, no skew exposure, all arithmetic int64
    (varint length via length(bin(x)) — engine-exact, no logs)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text") != "")
    p = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .select("term", "doc_id")
        .distinct()
        .withColumn("block", F.expr(f"doc_id div {POSTINGS_BLOCK}"))
    )
    w = Window.partitionBy("term", "block").orderBy("doc_id")
    g = p.withColumn("gap", F.col("doc_id") - F.lag("doc_id").over(w))
    vlen_doc = F.expr(_VLEN_SQL.format(x="doc_id").replace("//", "div"))
    vlen_gap = F.expr(_VLEN_SQL.format(x="gap").replace("//", "div"))
    b = g.groupBy("term", "block").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("gap").isNull(), vlen_doc).otherwise(vlen_gap)).alias(
            "bytes"
        ),
    )
    return b.groupBy("term").agg(
        F.sum("n").cast("long").alias("df"),
        F.count("*").cast("long").alias("n_blocks"),
        F.sum("bytes").cast("long").alias("varint_bytes"),
        (8 * F.sum("n")).cast("long").alias("raw_bytes"),
        F.expr(
            "(8 * sum(n) - sum(bytes)) * 1000000 div (8 * sum(n))"
        ).alias("saving_ppm"),
    )


# ---------------------------------------------------------------------------
# Block-Max WAND upper bounds (serving-index pruning metadata)
# ---------------------------------------------------------------------------


@register(
    "wand_block_max",
    f"""
    WITH {{BM25_CORE}},
    scored AS (
      SELECT tf.term, tf.doc_id, {{BM25_SCORE}} AS score_ppm
      FROM tf JOIN df USING (term) CROSS JOIN s),
    blocks AS (
      SELECT term, doc_id // {POSTINGS_BLOCK} AS block_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(max(score_ppm) AS BIGINT) AS block_max_ppm
      FROM scored GROUP BY 1, 2),
    ub AS (SELECT term, CAST(max(block_max_ppm) AS BIGINT) AS term_ub_ppm
           FROM blocks GROUP BY 1)
    SELECT blocks.term, block_id, n_docs, block_max_ppm, term_ub_ppm,
           CAST(CAST(block_max_ppm AS HUGEINT) * 1000000
                // greatest(term_ub_ppm, 1) AS BIGINT) AS ub_gap_ppm
    FROM blocks JOIN ub ON ub.term = blocks.term
    """,
)
def wand_block_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-Max WAND index metadata (Ding & Suel 2011, "Faster top-k
    document retrieval using block-max indexes"; public): per (term,
    {POSTINGS_BLOCK}-id posting block), the maximum single-term BM25
    impact in the block, plus the per-term global upper bound — the two
    numbers a WAND/BMW query evaluator reads to SKIP whole blocks whose
    best possible score cannot beat the current top-k threshold. The
    impact uses the exact integer-rational BM25 of bm25_retrieval
    (identical expression tree, so the serving metadata provably bounds
    the registered ranking), and ub_gap_ppm publishes how tight each
    block sits under its term bound — the skip-rate predictor.

    Scale shape: completes the serving-index trio (bm25_retrieval
    ranks, postings_varint_budget sizes, this prunes). Per-block maxima
    are a (term, block)-keyed aggregation with map-side combine — a
    stopword costs millions of small groups, never one task; the term
    bound is a second map-side max over the block table (|vocab| rows)
    broadcast back, deliberately NOT a per-term window over the
    blocks (a hot term's blocks would pile into one rank task). The
    gap division runs 128-bit (score_ppm can reach ~1e18 at 10^12
    docs, x 1e6 passes int64)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text") != "")
    docs = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"), "text")
    stats = F.broadcast(
        docs.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("t_tokens"))
    )
    terms = docs.select(
        "doc_id", "dl", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term").isin(_BM25_VOCAB))
    tf = terms.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"), F.min("dl").alias("dl")
    )
    df_t = F.broadcast(tf.groupBy("term").agg(F.count("*").alias("df")))
    idf_ppm = F.floor(
        F.col("n_docs").cast("double") * F.lit(1000000.0) / F.col("df").cast("double")
    )
    num = F.col("tf").cast("double") * F.lit(22.0) * F.col("t_tokens").cast("double")
    den = (
        F.col("tf").cast("double") * F.lit(10.0) * F.col("t_tokens").cast("double")
        + F.lit(3.0) * F.col("t_tokens").cast("double")
        + F.lit(9.0) * F.col("dl").cast("double") * F.col("n_docs").cast("double")
    )
    term_score = F.floor(idf_ppm.cast("double") * num / den)
    scored = (
        tf.join(df_t, "term")
        .crossJoin(stats)
        .select("term", "doc_id", term_score.alias("score_ppm"))
    )
    blocks = scored.groupBy(
        "term", F.expr(f"doc_id div {POSTINGS_BLOCK}").alias("block_id")
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max("score_ppm").cast("long").alias("block_max_ppm"),
    )
    ub = F.broadcast(
        blocks.groupBy("term").agg(
            F.max("block_max_ppm").cast("long").alias("term_ub_ppm")
        )
    )
    return blocks.join(ub, "term").select(
        "term",
        "block_id",
        "n_docs",
        "block_max_ppm",
        "term_ub_ppm",
        F.expr(
            "CAST(CAST(block_max_ppm AS DECIMAL(38,0)) * 1000000"
            " div greatest(term_ub_ppm, 1) AS BIGINT)"
        ).alias("ub_gap_ppm"),
    )


# splice the shared BM25 CTE block into the WAND oracle (the CTEs carry
# literal braces nowhere, but str.format would still trip on the score
# SQL's parens-free placeholders — use replace)
_ORACLES["wand_block_max"] = (
    _ORACLES["wand_block_max"]
    .replace("{BM25_CORE}", _BM25_CORE_CTES)
    .replace("{BM25_SCORE}", _BM25_SCORE_SQL)
)


# ---------------------------------------------------------------------------
# Elias-Fano postings budget (static-tier encoding vs block varint)
# ---------------------------------------------------------------------------


@register(
    "postings_elias_fano_budget",
    f"""
    WITH p AS (
      SELECT DISTINCT term, doc_id
      FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term
            FROM documents WHERE text <> '')),
    u AS (SELECT max(doc_id) + 1 AS u FROM p),
    g AS (
      SELECT term, doc_id, doc_id // {POSTINGS_BLOCK} AS block,
             doc_id - lag(doc_id) OVER (
               PARTITION BY term, doc_id // {POSTINGS_BLOCK}
               ORDER BY doc_id) AS gap
      FROM p),
    b AS (
      SELECT term, block, count(*) AS n,
             sum(CASE WHEN gap IS NULL THEN {_VLEN_SQL.format(x="doc_id")}
                      ELSE {_VLEN_SQL.format(x="gap")} END) AS bytes
      FROM g GROUP BY term, block),
    t AS (
      SELECT term, CAST(sum(n) AS BIGINT) AS df,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(bytes) AS BIGINT) AS varint_bytes
      FROM b GROUP BY term),
    e AS (
      SELECT term, df, n_blocks, varint_bytes, u,
             length(bin(u // df)) - 1 AS l
      FROM t CROSS JOIN u),
    f AS (
      SELECT term, df, n_blocks, varint_bytes,
             CAST((df * l + df + (u >> CAST(l AS INTEGER)) + 7) // 8
                  AS BIGINT) AS ef_bytes
      FROM e)
    SELECT term, df, n_blocks, varint_bytes, ef_bytes,
           CAST(8 * df AS BIGINT) AS raw_bytes,
           CASE WHEN ef_bytes < varint_bytes THEN 'ef'
                WHEN ef_bytes > varint_bytes THEN 'varint'
                ELSE 'tie' END AS winner,
           CASE WHEN varint_bytes >= ef_bytes
                THEN CAST((varint_bytes - ef_bytes) * 1000000
                          // greatest(varint_bytes, 1) AS BIGINT)
                ELSE -CAST((ef_bytes - varint_bytes) * 1000000
                           // greatest(varint_bytes, 1) AS BIGINT)
           END AS ef_saving_vs_varint_ppm
    FROM f
    """,
)
def postings_elias_fano_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static-tier postings encoding decision: per term, the EXACT byte
    budget of an Elias-Fano encoding of the (monotone, distinct) doc-id
    posting list vs the block-varint layout of postings_varint_budget —
    the accounting an index builder runs to pick the per-term encoding
    before writing a serving segment (Vigna 2013, "Quasi-succinct
    indices", and the partitioned-EF follow-up used by modern engines;
    all public). EF of n ids in universe u spends
    ``n*l + n + (u >> l)`` bits with ``l = max(0, floor(log2(u/n)))``
    — closed form, no encode pass needed, which is exactly why the
    planner can run it as a column expression. floor(log2(x)) is
    ``length(bin(x)) - 1`` (engine-exact on int64, no libm), and
    ``floor(log2(u/n)) == floor(log2(u // n))`` for positive ints (a
    power of two <= u/n is an integer <= floor(u/n)), so the whole
    budget stays in int64: dense stopword lists come out near n*2 bits
    (EF wins), sparse tails pay the ``u >> l`` high-bits tax (varint
    wins) — ``winner`` publishes the split, ``ef_saving_vs_varint_ppm``
    the margin (both division branches keep the dividend non-negative,
    so Spark's trunc ``div`` and DuckDB's floor ``//`` agree).

    Scale shape at 10^12 docs: identical to postings_varint_budget —
    the gap windows partition on (term, {POSTINGS_BLOCK}-id block), so
    the hottest stopword is millions of bounded groups, never one
    ordered task; per-term rollup is a sum/count groupBy with map-side
    combine, output bounded by the vocabulary. The universe u is a
    1-row broadcast (max over the per-block maxima — computed from the
    block table, NOT a second scan of the postings), and the EF columns
    are pure JVM int64 expressions on the |vocab|-row budget table. No
    collects, no skew exposure, no floats."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text") != "")
    p = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .select("term", "doc_id")
        .distinct()
        .withColumn("block", F.expr(f"doc_id div {POSTINGS_BLOCK}"))
    )
    w = Window.partitionBy("term", "block").orderBy("doc_id")
    g = p.withColumn("gap", F.col("doc_id") - F.lag("doc_id").over(w))
    vlen_doc = F.expr(_VLEN_SQL.format(x="doc_id").replace("//", "div"))
    vlen_gap = F.expr(_VLEN_SQL.format(x="gap").replace("//", "div"))
    b = g.groupBy("term", "block").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("gap").isNull(), vlen_doc).otherwise(vlen_gap)).alias(
            "bytes"
        ),
        F.max("doc_id").alias("max_id"),
    )
    t = b.groupBy("term").agg(
        F.sum("n").cast("long").alias("df"),
        F.count("*").cast("long").alias("n_blocks"),
        F.sum("bytes").cast("long").alias("varint_bytes"),
    )
    u = F.broadcast(b.agg((F.max("max_id") + 1).alias("u")))
    e = t.crossJoin(u).withColumn("l", F.expr("length(bin(u div df)) - 1"))
    f = e.withColumn(
        "ef_bytes",
        F.expr("CAST((df * l + df + shiftright(u, CAST(l AS INT)) + 7) div 8 AS BIGINT)"),
    )
    return f.select(
        "term",
        "df",
        "n_blocks",
        "varint_bytes",
        "ef_bytes",
        (8 * F.col("df")).cast("long").alias("raw_bytes"),
        F.when(F.col("ef_bytes") < F.col("varint_bytes"), F.lit("ef"))
        .when(F.col("ef_bytes") > F.col("varint_bytes"), F.lit("varint"))
        .otherwise(F.lit("tie"))
        .alias("winner"),
        F.when(
            F.col("varint_bytes") >= F.col("ef_bytes"),
            F.expr(
                "CAST((varint_bytes - ef_bytes) * 1000000"
                " div greatest(varint_bytes, 1) AS BIGINT)"
            ),
        )
        .otherwise(
            -F.expr(
                "CAST((ef_bytes - varint_bytes) * 1000000"
                " div greatest(varint_bytes, 1) AS BIGINT)"
            )
        )
        .alias("ef_saving_vs_varint_ppm"),
    )


# ---------------------------------------------------------------------------
# fuzzy (MinHash) benchmark decontamination
# ---------------------------------------------------------------------------


@register("decontaminate_fuzzy")  # oracle assigned below (needs _bands_cte_sql)
def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination: training documents that are
    NEAR-duplicates of the held-out eval slice, found by the MinHash
    band signature instead of exact shingle identity — the check that
    catches paraphrased / lightly-edited benchmark leakage that
    corpus_decontamination's exact 5-gram semi-join misses (the
    GPT-3-appendix / Llama-style fuzzy pass, run here with the exact
    same banding pipeline the corpus dedup already uses, so "how close
    is too close" is a single shared definition engine-wide). Returns
    one row per contaminated training doc with the count of distinct
    eval documents whose signature collides on >= 1 band.

    Scale shape at 10^12 docs: signatures and bands are the SAME
    Arrow-batched UDF stage as dedup_minhash_lsh (shared cost, shared
    semantics); over-cap band buckets are dropped with the standard
    MAX_BUCKET cut BEFORE the split (mirrored by the oracle) so a
    boilerplate band can never fan out. The eval slice is tiny by
    construction (1/{EVAL_MOD} of docs), so its banded table is the
    BROADCAST side of the candidate equi-join and the training corpus
    never shuffles — the asymmetric twin of the dedup self-join, same
    discipline as decontaminate_bloom's probe side."""
    # no text filter: the shared bands CTE (and dedup_minhash_lsh) band
    # EVERY doc — empty docs collapse into one bucket the cap drops
    d = _td(spark, sf_dir)
    bands = dedup._cap_buckets(dedup._minhash_bands(d), ["band_id", "band_hash"])
    ev = bands.filter(F.col("doc_id") % EVAL_MOD == EVAL_REM).select(
        F.col("doc_id").alias("eval_id"), "band_id", "band_hash"
    )
    tr = bands.filter(F.col("doc_id") % EVAL_MOD != EVAL_REM)
    pairs = (
        tr.join(F.broadcast(ev), ["band_id", "band_hash"])
        .select("doc_id", "eval_id")
        .distinct()
    )
    return pairs.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_eval_matches")
    )


_ORACLES["decontaminate_fuzzy"] = f"""
    {{BANDS}},
    capped AS (
      SELECT * FROM bands
      QUALIFY count(*) OVER (PARTITION BY band_id, band) <= {dedup.MAX_BUCKET}),
    pairs AS (
      SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
      FROM capped t JOIN capped e
        ON t.band_id = e.band_id AND t.band = e.band
      WHERE t.doc_id % {EVAL_MOD} <> {EVAL_REM}
        AND e.doc_id % {EVAL_MOD} = {EVAL_REM})
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_matches
    FROM pairs GROUP BY doc_id
    """.replace("{BANDS}", _bands_cte_sql())


# ---------------------------------------------------------------------------
# incremental postings delta (index refresh between releases)
# ---------------------------------------------------------------------------

# release slices shared with shard_manifest_diff / vocab_drift
# (archive_queries.py): v1 lacks the docs crawled since, v2 lacks the
# dead pages — both memberships are closed-form in doc_id, so delta
# classification is a pure row expression, never a join.
DELTA_ADD_MOD, DELTA_ADD_REM = 50, 3
DELTA_DEL_MOD, DELTA_DEL_REM = 41, 5


@register(
    "postings_delta_update",
    f"""
    WITH p AS (
      SELECT DISTINCT term, doc_id,
             doc_id % {DELTA_ADD_MOD} <> {DELTA_ADD_REM} AS in_v1,
             doc_id % {DELTA_DEL_MOD} <> {DELTA_DEL_REM} AS in_v2
      FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term
            FROM documents WHERE text <> '')),
    adds AS (
      SELECT term, doc_id, doc_id // {POSTINGS_BLOCK} AS block,
             doc_id - lag(doc_id) OVER (
               PARTITION BY term, doc_id // {POSTINGS_BLOCK}
               ORDER BY doc_id) AS gap
      FROM p WHERE in_v2 AND NOT in_v1),
    ab AS (
      SELECT term,
             CAST(sum(CASE WHEN gap IS NULL THEN {_VLEN_SQL.format(x="doc_id")}
                           ELSE {_VLEN_SQL.format(x="gap")} END) AS BIGINT)
               AS add_varint_bytes
      FROM adds GROUP BY term),
    c AS (
      SELECT term,
             CAST(sum(CASE WHEN in_v1 AND in_v2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
             CAST(sum(CASE WHEN in_v2 AND NOT in_v1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_add,
             CAST(sum(CASE WHEN in_v1 AND NOT in_v2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_del
      FROM p GROUP BY term)
    SELECT c.term, n_keep, n_add, n_del,
           CAST((n_add + n_del) * 1000000
                // greatest(n_keep + n_add + n_del, 1) AS BIGINT) AS churn_ppm,
           coalesce(add_varint_bytes, 0) AS add_varint_bytes
    FROM c LEFT JOIN ab ON ab.term = c.term
    """,
)
def postings_delta_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance accounting: per term, the postings
    DELTA between two releases — ids kept, added (docs crawled since
    v1), and deleted (dead pages dropped from v2) — plus the varint
    byte cost of the add-segment and the churn rate. This is the
    LSM-style refresh decision every serving index makes on a corpus
    update: terms with low churn patch a delta segment (add list +
    tombstones) onto the standing index, terms past a churn threshold
    rebuild — and the two registered sizing queries
    (postings_varint_budget / postings_elias_fano_budget) price the
    rebuild while this one prices the patch.

    Scale shape at 10^12 docs: BOTH release memberships are closed-form
    in doc_id (the shard_manifest_diff / vocab_drift release-slice
    convention), so delta classification is a pure row expression —
    no v1-vs-v2 join, no second scan, one distinct-postings pass. The
    add-gap windows partition on (term, {POSTINGS_BLOCK}-id block)
    exactly like the budget queries (bounded groups, stopword-proof),
    per-term rollups are map-side-combinable conditional sums, and the
    final assembly joins two |vocab|-bounded tables. churn division
    keeps a non-negative dividend (trunc == floor)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text") != "")
    p = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .select("term", "doc_id")
        .distinct()
        .withColumn("in_v1", F.expr(f"doc_id % {DELTA_ADD_MOD} != {DELTA_ADD_REM}"))
        .withColumn("in_v2", F.expr(f"doc_id % {DELTA_DEL_MOD} != {DELTA_DEL_REM}"))
    )
    # p feeds BOTH the add-gap branch and the per-term counts: persist
    # once so the explode+distinct exchange is not recomputed per branch
    # (the dedup_winnowing multi-consumer lesson)
    from pyspark import StorageLevel

    p = p.persist(StorageLevel.MEMORY_AND_DISK)
    adds = (
        p.filter(F.col("in_v2") & ~F.col("in_v1"))
        .withColumn("block", F.expr(f"doc_id div {POSTINGS_BLOCK}"))
    )
    w = Window.partitionBy("term", "block").orderBy("doc_id")
    gaps = adds.withColumn("gap", F.col("doc_id") - F.lag("doc_id").over(w))
    vlen_doc = F.expr(_VLEN_SQL.format(x="doc_id").replace("//", "div"))
    vlen_gap = F.expr(_VLEN_SQL.format(x="gap").replace("//", "div"))
    ab = gaps.groupBy("term").agg(
        F.sum(F.when(F.col("gap").isNull(), vlen_doc).otherwise(vlen_gap))
        .cast("long")
        .alias("add_varint_bytes")
    )
    c = p.groupBy("term").agg(
        F.sum(F.when(F.col("in_v1") & F.col("in_v2"), 1).otherwise(0))
        .cast("long")
        .alias("n_keep"),
        F.sum(F.when(F.col("in_v2") & ~F.col("in_v1"), 1).otherwise(0))
        .cast("long")
        .alias("n_add"),
        F.sum(F.when(F.col("in_v1") & ~F.col("in_v2"), 1).otherwise(0))
        .cast("long")
        .alias("n_del"),
    )
    return c.join(ab, "term", "left").select(
        "term",
        "n_keep",
        "n_add",
        "n_del",
        F.expr(
            "CAST((n_add + n_del) * 1000000"
            " div greatest(n_keep + n_add + n_del, 1) AS BIGINT)"
        ).alias("churn_ppm"),
        F.coalesce("add_varint_bytes", F.lit(0)).cast("long").alias("add_varint_bytes"),
    )
