"""Corpus-mix queries: site-template boilerplate, language sampling, lang-ID eval.

Three late-pipeline curation stages a web-scale training corpus runs
between extraction and shard writing:

* **Site-template boilerplate** — the per-HOST analogue of CCNet's
  paragraph dedup: a paragraph that repeats across *different pages of
  the same site* is navigation/footer template, not content, even when
  the corpus-wide duplicate count is too low to trip global dedup.
* **Temperature language sampling** — the mC4 / CC-100 alpha-smoothed
  multinomial: per-language sampling rates proportional to p_lang^0.5
  (alpha = 0.5), normalized so the largest language keeps rate 1.0, then
  applied per document with the repo's deterministic Knuth hash.
* **Lang-ID confusion eval** — grades `doc_lang_id`'s n-gram-marker
  classifier against the table's ground-truth `lang` column, the same
  way `quality_classifier_eval` grades the hashed-linear classifier.

All registered into the queries()/oracle_sql() registry with exact
DuckDB oracles. Arithmetic discipline repo-wide: integer ppm/floor-div
on non-negative int64 where values meet an ORDER or verdict; the one
double in this module (sqrt of an exact int64 ratio) is IEEE-exact in
both engines (division and sqrt are correctly-rounded operations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .graph_queries import PARA_WORDS
from .operators.sampling import KNUTH_U_SQL, knuth_u
from .relational import _t, _td, register
from .sources.pages import _host_idx_col, _host_name
from .text_queries import (
    _HOST_NAME_SQL,
    _HOSTED_CTE_SQL,
    _lang_id_oracle,
    _U_SQL,
    doc_lang_id,
)

# ---------------------------------------------------------------------------
# site-template boilerplate (per-host paragraph repeats)
# ---------------------------------------------------------------------------

# A paragraph fingerprint is "template" on a host when it appears on at
# least this many DISTINCT pages of that host. Share-of-host is reported
# for observability but deliberately not part of the rule: a footer on 2
# of a million pages of a big host is still not content on either page.
TEMPLATE_MIN_DOCS = 2
# quality verdict: a page more than this fraction template is a shell
# (nav/footer/boilerplate dominates whatever content it has)
TEMPLATE_MAX_PPM = 300_000

_HOST_PARAS_CTES_SQL = f"""t AS (
      SELECT doc_id, host_idx, str_split(text, ' ') AS tk,
             len(str_split(text, ' ')) AS n
      FROM hosted WHERE text <> ''),
    paras AS (
      SELECT doc_id, host_idx,
             md5(array_to_string(
               tk[CAST(s AS INT) + 1 : CAST(s AS INT) + {PARA_WORDS}], ' ')) AS fp_md5
      FROM t, unnest(range(0, n, {PARA_WORDS})) AS r(s)),
    tmpl AS (
      SELECT host_idx, fp_md5,
             count(DISTINCT doc_id) >= {TEMPLATE_MIN_DOCS} AS is_template
      FROM paras GROUP BY host_idx, fp_md5)"""


@register(
    "host_template_paragraphs",
    f"""
    WITH {_HOSTED_CTE_SQL},
    {_HOST_PARAS_CTES_SQL}
    SELECT p.doc_id,
           {_HOST_NAME_SQL} AS host,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(sum(CASE WHEN m.is_template THEN 1 ELSE 0 END) AS BIGINT)
             AS n_template,
           CAST(sum(CASE WHEN m.is_template THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS template_ppm,
           CAST(sum(CASE WHEN m.is_template THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) <= {TEMPLATE_MAX_PPM} AS keep
    FROM paras p JOIN tmpl m USING (host_idx, fp_md5)
    GROUP BY p.doc_id, p.host_idx
    """,
)
def host_template_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site-template boilerplate detection: fixed PARA_WORDS-word
    paragraphs that repeat on >= TEMPLATE_MIN_DOCS distinct pages of the
    SAME host are template (navigation, footers, cookie banners — the
    boilerplate global dedup misses because each site's shell is unique
    to that site). Per page: paragraph count, template-paragraph count,
    template ppm, and the shell-page verdict.

    Scale shape at 10^12 pages: paragraph split/md5 are narrow JVM
    expressions; the distinct-doc count is a plain count window over
    (host_idx, fp_md5) on the already-deduped (doc, fingerprint) frame —
    the md5 component makes the key uniform, so the Zipf host skew that
    forces salting in pipeline_host_stats never concentrates here (the
    top host's rows spread across all fp buckets, and each window group
    is one fingerprint's occurrence list, tiny by construction). The
    final rollup is doc_id-keyed with map-side combine. Empty pages
    carry no paragraphs and are excluded, matching paragraph_dup_ratio's
    contract."""
    d = _td(spark, sf_dir).filter(F.col("text") != "")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(0), F.size(toks) - 1, F.lit(PARA_WORDS))
    paras = d.select(
        "doc_id",
        _host_idx_col().alias("host_idx"),
        toks.alias("tk"),
        F.explode(starts).alias("s"),
    ).select(
        "doc_id",
        "host_idx",
        F.md5(
            F.array_join(F.slice(F.col("tk"), F.col("s") + 1, PARA_WORDS), " ")
        ).alias("fp_md5"),
    )
    # one row per (doc, fingerprint) first, so a plain count window over
    # (host_idx, fp_md5) IS the distinct-doc count — no self-join of the
    # paras frame (which trips Catalyst's ambiguous-lineage binding) and
    # no unsupported countDistinct-over-window
    per_doc = paras.groupBy("doc_id", "host_idx", "fp_md5").agg(
        F.count("*").alias("n_in_doc")
    )
    nd = F.count("*").over(Window.partitionBy("host_idx", "fp_md5"))
    flagged = per_doc.withColumn("is_template", nd >= TEMPLATE_MIN_DOCS)
    agg = flagged.groupBy("doc_id", "host_idx").agg(
        F.sum("n_in_doc").cast("long").alias("n_paras"),
        F.sum(F.when(F.col("is_template"), F.col("n_in_doc")).otherwise(0))
        .cast("long")
        .alias("n_template"),
    )
    ppm = F.expr("n_template * 1000000 div n_paras")
    return agg.select(
        "doc_id",
        _host_name().alias("host"),
        "n_paras",
        "n_template",
        ppm.alias("template_ppm"),
        (ppm <= TEMPLATE_MAX_PPM).alias("keep"),
    )


# ---------------------------------------------------------------------------
# temperature (alpha) language sampling
# ---------------------------------------------------------------------------

# mC4/CC-100 alpha-smoothing exponent. 0.5 (= sqrt) is chosen from the
# published alpha range [0.2, 0.7] specifically because sqrt is an
# IEEE-754 correctly-rounded primitive: sqrt(n_lang / n_max) is
# bit-identical in the JVM and DuckDB, so the ppm rate needs no
# tolerance. rate_lang = (p_lang / p_max)^alpha, i.e. normalized so the
# largest language is kept whole and smaller languages are UP-weighted
# relative to proportional sampling.
LANG_ALPHA_RATE_SQL = (
    "CAST(floor(sqrt(CAST(n_docs AS DOUBLE) / CAST(n_max AS DOUBLE)) * 1000000)"
    " AS BIGINT)"
)


@register(
    "lang_alpha_sampling",
    f"""
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
    rated AS (
      SELECT lang, n_docs,
             {LANG_ALPHA_RATE_SQL.replace("n_max", "(SELECT max(n_docs) FROM counts)")}
               AS rate_ppm
      FROM counts)
    SELECT r.lang, r.n_docs, r.rate_ppm,
           CAST(sum(CASE WHEN ({_U_SQL}) * 1000000 < CAST(r.rate_ppm AS DOUBLE)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM documents d JOIN rated r USING (lang)
    GROUP BY r.lang, r.n_docs, r.rate_ppm
    """,
)
def lang_alpha_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language sampling (mC4 §3.1 / CC-100 shape):
    per-language keep rates proportional to p_lang^alpha with
    alpha = 0.5, normalized to the largest language, applied per
    document with the deterministic Knuth hash and reported as
    (n_docs, rate_ppm, n_sampled) per language.

    Scale shape: one map-side-combinable groupBy over |langs| keys
    (~hundreds at web scale); the max is a constant-key window over that
    tiny table; the rate table broadcast-joins back to the corpus; the
    final rollup is again |langs|-keyed with map-side combine — the
    corpus is scanned once and never shuffled on a skewed key. The
    verdict per document is u(doc_id) < rate, so re-running the job (or
    growing the corpus) never flips a previously-kept document's fate
    unless its language's rate itself moved."""
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    # constant non-foldable key keeps the deliberate single-partition
    # window over the tiny counts table warning-free (repo idiom)
    rated = counts.withColumn(
        "n_max", F.max("n_docs").over(Window.partitionBy(F.expr("length(lang) * 0")))
    ).select(
        "lang",
        "n_docs",
        F.floor(
            F.sqrt(F.col("n_docs").cast("double") / F.col("n_max").cast("double"))
            * 1_000_000
        )
        .cast("long")
        .alias("rate_ppm"),
    )
    kept = F.when(
        knuth_u(F.col("doc_id")) * 1_000_000 < F.col("rate_ppm").cast("double"), 1
    ).otherwise(0)
    return (
        d.join(F.broadcast(rated), "lang")
        .groupBy("lang", "n_docs", "rate_ppm")
        .agg(F.sum(kept).cast("long").alias("n_sampled"))
    )


# ---------------------------------------------------------------------------
# lang-ID confusion eval
# ---------------------------------------------------------------------------


@register(
    "langid_confusion_eval",
    f"""
    WITH pred AS ({_lang_id_oracle()})
    SELECT lang, lang_guess,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(count(*)) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
           CAST(count(*) * 1000000
                // sum(count(*)) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm,
           lang = lang_guess AS is_correct
    FROM pred
    GROUP BY lang, lang_guess
    """,
)
def langid_confusion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the n-gram-marker language classifier
    (doc_lang_id) against the corpus's ground-truth lang column: per
    (true, predicted) pair the document count, the true-language total,
    the share in ppm (the diagonal rows are per-language recall), and
    the diagonal flag. The eval that tells a curation pipeline whether
    its lang-ID stage is safe to filter on — same pattern as
    quality_classifier_eval / retrieval_eval_mrr.

    Scale shape: the classifier is a narrow JVM expression over the
    scan; one map-side-combinable groupBy over |langs|^2 keys; the
    lang_total window runs over the already-aggregated tiny table."""
    pred = doc_lang_id(spark, sf_dir)
    agg = pred.groupBy("lang", "lang_guess").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    with_total = agg.withColumn(
        "lang_total",
        F.sum("n_docs").over(Window.partitionBy("lang")).cast("long"),
    )
    return with_total.select(
        "lang",
        "lang_guess",
        "n_docs",
        "lang_total",
        F.expr("n_docs * 1000000 div lang_total").alias("share_ppm"),
        (F.col("lang") == F.col("lang_guess")).alias("is_correct"),
    )



# ---------------------------------------------------------------------------
# boilerplate strip REWRITE (the RefinedWeb output stage)
# ---------------------------------------------------------------------------


@register(
    "boilerplate_strip_rewrite",
    f"""
    WITH {_HOSTED_CTE_SQL},
    t AS (
      SELECT doc_id, host_idx, str_split(text, ' ') AS tk,
             len(str_split(text, ' ')) AS n
      FROM hosted WHERE text <> ''),
    paras AS (
      SELECT doc_id, host_idx, CAST(s AS BIGINT) AS s,
             array_to_string(tk[CAST(s AS INT) + 1 : CAST(s AS INT) + {PARA_WORDS}],
                             ' ') AS para
      FROM t, unnest(range(0, n, {PARA_WORDS})) AS r(s)),
    tmpl AS (
      SELECT host_idx, md5(para) AS fp_md5,
             count(DISTINCT doc_id) >= {TEMPLATE_MIN_DOCS} AS is_template
      FROM paras GROUP BY host_idx, md5(para)),
    joined AS (
      SELECT p.doc_id, p.host_idx, p.s, p.para, m.is_template
      FROM paras p JOIN tmpl m
        ON m.host_idx = p.host_idx AND m.fp_md5 = md5(p.para))
    SELECT doc_id, {_HOST_NAME_SQL} AS host,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(count(*) FILTER (WHERE NOT is_template) AS BIGINT) AS n_kept,
           coalesce(array_to_string(
             list(para ORDER BY s) FILTER (WHERE NOT is_template), ' '), '')
             AS clean_text
    FROM joined GROUP BY doc_id, host_idx
    """,
)
def boilerplate_strip_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-strip REWRITE: host_template_paragraphs decides which
    fixed-window paragraphs are site template (>= TEMPLATE_MIN_DOCS
    distinct pages of the same host share the fingerprint); this query
    EMITS the cleaned corpus — per page, the non-template paragraphs
    reassembled in original order — i.e. the RefinedWeb/CCNet output
    stage that actually rewrites training text rather than scoring it.
    clean_text is byte-compared by the oracle hash, so the
    order-preserving reassembly is verified exactly (a page that is all
    template comes back as '' with n_kept = 0, not dropped).

    Scale shape at 10^12 pages: the paragraph explode and md5 are
    narrow JVM maps; the template vote is a two-phase countDistinct on
    the uniform (host_idx, fp_md5) key (the md5 component spreads the
    Zipf host skew); the join back is the same uniform key; the
    reassembly is ONE doc_id-keyed aggregation whose groups are bounded
    by document length (collect_list of a page's own paragraphs, never
    a host's or the corpus's)."""
    d = _td(spark, sf_dir).filter(F.col("text") != "")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(0), F.size(toks) - 1, F.lit(PARA_WORDS))
    paras = (
        d.select(
            "doc_id",
            _host_idx_col().alias("host_idx"),
            toks.alias("tk"),
            F.explode(starts).alias("s"),
        )
        .select(
            "doc_id",
            "host_idx",
            F.col("s").cast("long").alias("s"),
            F.array_join(F.slice(F.col("tk"), F.col("s") + 1, PARA_WORDS), " ").alias(
                "para"
            ),
        )
        .withColumn("fp_md5", F.md5(F.col("para")))
    )
    # Template verdict via two window functions over ONE
    # (host, fingerprint)-keyed exchange: max(dense_rank over doc_id)
    # IS the distinct-doc count, so the aggregate+join-back (which
    # recomputed the whole paragraph explode a second time and shuffled
    # the paragraph strings twice) collapses into a single shuffle+sort
    # (guide §2.4: window keyed like the aggregation needs no second
    # exchange).
    w_rank = Window.partitionBy("host_idx", "fp_md5").orderBy("doc_id")
    w_part = Window.partitionBy("host_idx", "fp_md5")
    joined = paras.withColumn("_dr", F.dense_rank().over(w_rank)).withColumn(
        "is_template", F.max("_dr").over(w_part) >= TEMPLATE_MIN_DOCS
    )
    kept_struct = F.when(
        ~F.col("is_template"), F.struct(F.col("s"), F.col("para"))
    )
    return (
        joined.groupBy("doc_id", "host_idx")
        .agg(
            F.count("*").cast("long").alias("n_paras"),
            F.sum(F.when(~F.col("is_template"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x["para"]
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(
            "doc_id",
            _host_name().alias("host"),
            "n_paras",
            "n_kept",
            "clean_text",
        )
    )



# ---------------------------------------------------------------------------
# registrable-domain rollup (public-suffix longest-match)
# ---------------------------------------------------------------------------

# Mini public-suffix rule set, PSL ICANN-section shape (publicsuffix.org;
# the algorithm is public: a host's PUBLIC SUFFIX is the LONGEST rule
# matching a label-boundary suffix, and the registrable domain — eTLD+1 —
# is that suffix plus one more label). Multi-level rules ('co.uk',
# 'k12.ca.us') are what make longest-match load-bearing: matching only
# the last label would fold every UK org into 'uk'. 'ca.us' and 'gov.uk'
# are never drawn directly by the generator — 'ca.us' still matches as
# an intermediate rule on k12.ca.us hosts, 'gov.uk' is a dead rule (the
# real PSL carries thousands) proving unmatched rules cost nothing.
PSL_DRAW = [
    "com", "org", "net", "io", "dev", "uk", "co.uk", "org.uk",
    "au", "com.au", "us", "k12.ca.us",
]
PSL_RULES = sorted(PSL_DRAW + ["ca.us", "gov.uk"])
_FQDN_SUBS = ["www", "blog", "shop", "news", "cdn"]
_FQDN_NAMES = 40  # orgNN second-level names
# deepest rule is 3 labels; a public suffix must leave >=1 label above
_PSL_MAX_K = 4


def _fqdn_sql() -> str:
    """DuckDB expression: the deterministic synthetic fqdn for a doc —
    subdomain, org name, and public suffix each drawn with the shared
    Knuth hash (offsets coprime to the *7 stride, so draws never reuse
    a hash input across docs)."""
    subs = ", ".join(f"'{s}'" for s in _FQDN_SUBS)
    sufs = ", ".join(f"'{s}'" for s in PSL_DRAW)
    sub_u = KNUTH_U_SQL.format(k="doc_id * 7 + 1")
    name_u = KNUTH_U_SQL.format(k="doc_id * 7 + 3")
    suf_u = KNUTH_U_SQL.format(k="doc_id * 7 + 5")
    return (
        f"([{subs}])[CAST(floor(({sub_u}) * {len(_FQDN_SUBS)}) AS INT) + 1]"
        f" || '.org' || CAST(floor(({name_u}) * {_FQDN_NAMES}) AS INT)"
        f" || '.' || ([{sufs}])[CAST(floor(({suf_u}) * {len(PSL_DRAW)}) AS INT) + 1]"
    )


def _fqdn_col():
    sub_u = knuth_u(F.col("doc_id") * 7 + 1)
    name_u = knuth_u(F.col("doc_id") * 7 + 3)
    suf_u = knuth_u(F.col("doc_id") * 7 + 5)
    return F.concat(
        F.array(*[F.lit(s) for s in _FQDN_SUBS])[
            F.floor(sub_u * len(_FQDN_SUBS)).cast("int")
        ],
        F.lit(".org"),
        F.floor(name_u * _FQDN_NAMES).cast("int").cast("string"),
        F.lit("."),
        F.array(*[F.lit(s) for s in PSL_DRAW])[
            F.floor(suf_u * len(PSL_DRAW)).cast("int")
        ],
    )


_PSL_RULES_SQL = "[" + ", ".join(f"'{r}'" for r in PSL_RULES) + "]"


@register(
    "registrable_domain_rollup",
    f"""
    WITH h AS (
      SELECT doc_id, n_chars, {_fqdn_sql()} AS fqdn
      FROM documents),
    k AS (
      SELECT doc_id, n_chars, fqdn, str_split(fqdn, '.') AS tk,
             len(str_split(fqdn, '.')) AS nl
      FROM h),
    m AS (
      SELECT doc_id, n_chars, fqdn, tk, nl,
             list_max(list_filter(
               range(1, least(nl - 1, {_PSL_MAX_K}) + 1),
               j -> list_contains({_PSL_RULES_SQL},
                                  array_to_string(tk[(nl - j + 1):nl], '.'))
             )) AS kmax
      FROM k)
    SELECT array_to_string(tk[(nl - kmax + 1):nl], '.') AS public_suffix,
           array_to_string(tk[(nl - kmax):nl], '.') AS reg_domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fqdn) AS BIGINT) AS n_hosts,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM m GROUP BY 1, 2
    """,
)
def registrable_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain (eTLD+1) rollup under public-suffix
    longest-match semantics — the grouping grain every per-site policy
    in a crawl pipeline actually wants (robots scope, host budgets,
    dedup scopes, ownership rollups): 'blog.org7.co.uk' and
    'www.org7.co.uk' are the same REGISTRANT, 'org7.co.uk' and
    'org9.co.uk' are not, and only the PSL algorithm (longest matching
    rule + one label, publicsuffix.org) draws that line — grouping by
    last-two-labels would merge every .co.uk site into one.

    Each doc's fqdn is synthesized deterministically (Knuth draws over
    subdomain x org-name x suffix, multi-level suffixes included) so
    both engines derive the identical host population from doc_id
    alone. The match itself is a pure JVM expression: the <=4 candidate
    label-boundary suffixes are tested against the rule set inline
    (filter/array_contains over a literal array) and kmax = the longest
    hit — NO per-candidate explode, NO doc-keyed shuffle. A production
    PSL (~9k rules) outgrows a literal but not an executor: it ships as
    a broadcast map (or static-lookup column) and the stage stays
    map-side; rules that never match (here 'gov.uk') cost nothing
    either way.

    Scale shape at 10^12 docs: one narrow scan (doc_id, n_chars),
    fqdn + kmax + registrable domain all computed in whole-stage
    codegen, then ONE hash aggregation keyed by (public_suffix,
    reg_domain) — bounded by the live registrable-domain population,
    with map-side partial aggregation and partial-distinct on the
    n_hosts count. No windows, no joins, no Python, no floats
    (floor(knuth_u * K) is exact: the hash is < 2^32, so hash*K is an
    exact double below 2^53 and the power-of-two division is lossless)."""
    d = _t(spark, sf_dir, "documents")
    h = d.select("doc_id", "n_chars", _fqdn_col().alias("fqdn"))
    k = h.select(
        "doc_id",
        "n_chars",
        "fqdn",
        F.split("fqdn", "\\.").alias("tk"),
        F.size(F.split("fqdn", "\\.")).alias("nl"),
    )
    rules = "array(" + ", ".join(f"'{r}'" for r in PSL_RULES) + ")"
    m = k.withColumn(
        "kmax",
        F.expr(
            f"array_max(filter(sequence(1, least(nl - 1, {_PSL_MAX_K})),"
            f" j -> array_contains({rules},"
            f" array_join(slice(tk, -j, j), '.'))))"
        ),
    )
    return m.groupBy(
        F.expr("array_join(slice(tk, -kmax, kmax), '.')").alias("public_suffix"),
        F.expr("array_join(slice(tk, -(kmax + 1), kmax + 1), '.')").alias("reg_domain"),
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("fqdn").cast("long").alias("n_hosts"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# sort-layout pruning-gain advisor (physical design without a sort)
# ---------------------------------------------------------------------------

# row-group width (rows) for the min-max pruning model — the parquet
# row-group / Iceberg file-split analogue at test scale
LAYOUT_GROUP = 256


@register(
    "sort_layout_pruning_gain",
    f"""
    WITH {_HOSTED_CTE_SQL},
    cur AS (
      SELECT host_idx, count(DISTINCT doc_id // {LAYOUT_GROUP}) AS groups_unsorted,
             count(*) AS n_docs
      FROM hosted GROUP BY host_idx),
    off AS (
      SELECT host_idx, n_docs, groups_unsorted,
             coalesce(sum(n_docs) OVER (ORDER BY host_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off_rows
      FROM cur)
    SELECT CAST(host_idx AS INT) AS host_idx,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(groups_unsorted AS BIGINT) AS groups_unsorted,
           CAST((off_rows + n_docs - 1) // {LAYOUT_GROUP}
                - off_rows // {LAYOUT_GROUP} + 1 AS BIGINT) AS groups_sorted,
           CAST((groups_unsorted - ((off_rows + n_docs - 1) // {LAYOUT_GROUP}
                - off_rows // {LAYOUT_GROUP} + 1)) * 1000000
                // greatest(groups_unsorted, 1) AS BIGINT) AS pruning_gain_ppm
    FROM off
    """,
)
def sort_layout_pruning_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-design advisor: the EXACT row-group pruning gain a
    host-sorted table layout would buy for host-equality scans —
    the number every Iceberg/Delta operator wants before paying for a
    rewrite with a sort key (min-max zone pruning: a row group is
    skippable iff it contains no row of the predicate host). Per host:
    row groups its docs touch under the CURRENT id-ordered layout
    (distinct doc_id div {LAYOUT_GROUP}) vs under a host-sorted layout
    — where its docs become one contiguous run, so groups touched is
    the CLOSED FORM (offset + n - 1) div G - off_rows div G + 1 from the
    cumulative host offsets alone. No sorted table is materialized and
    NO global sort runs anywhere: the advisor predicts the benefit of
    a sort it never performs — that asymmetry is the point (the Zipf
    host serving ~13% of docs touches ~all groups unsorted but only
    ~n/G sorted; tail hosts collapse from n groups to 1-2).

    Scale shape at 10^12 docs: one (host, group)-keyed distinct (the
    group component bounds per-key cardinality; map-side partial
    distinct), a |hosts|-row rollup, and the offset cumulative over
    those ~|hosts| rows (tiny-table window, whitelisted). Host
    assignment is the shared in-row Knuth/CDF expression. All int64
    floor-div; the gain division keeps a non-negative dividend
    (groups_sorted <= groups_unsorted: a contiguous run can never
    touch more groups than a scattered one of equal size)."""
    d = _td(spark, sf_dir).select(
        _host_idx_col().alias("host_idx"), "doc_id"
    )
    cur = d.groupBy("host_idx").agg(
        F.countDistinct(F.expr(f"doc_id div {LAYOUT_GROUP}")).alias("groups_unsorted"),
        F.count("*").alias("n_docs"),
    )
    wo = (
        Window.orderBy("host_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = cur.withColumn(
        "off_rows", F.coalesce(F.sum("n_docs").over(wo), F.lit(0))
    )
    sorted_groups = F.expr(
        f"(off_rows + n_docs - 1) div {LAYOUT_GROUP}"
        f" - off_rows div {LAYOUT_GROUP} + 1"
    )
    return off.select(
        F.col("host_idx").cast("int").alias("host_idx"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("groups_unsorted").cast("long").alias("groups_unsorted"),
        sorted_groups.cast("long").alias("groups_sorted"),
        F.expr(
            f"CAST((groups_unsorted - ((off_rows + n_docs - 1) div {LAYOUT_GROUP}"
            f" - off_rows div {LAYOUT_GROUP} + 1)) * 1000000"
            " div greatest(groups_unsorted, 1) AS BIGINT)"
        ).alias("pruning_gain_ppm"),
    )
