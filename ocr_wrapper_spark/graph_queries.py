"""Web-graph and paragraph-level curation queries.

The Common-Crawl ops the crawl family (text_queries.py) doesn't cover
yet: the host-level link graph (outlink aggregation -> PageRank-style
host authority) and CCNet-shape paragraph-level dedup. Registered into
the same queries()/oracle_sql() registry; every query carries an exact
DuckDB oracle.

The link graph is PARSED FROM THE PAYLOAD BYTES: every html page embeds
cross-host outlink anchors in its nav wall (sources/pages.py build_html,
``_outlink_host``), src host comes from the page url, and the queries
regexp-extract both from the materialized pages table. Because the
generator draws those anchors deterministically (Knuth hash + Zipf host
cdf, the same mapping that assigns each page its own host), the DuckDB
oracle recomputes the exact edge multiset closed-form from ``documents``
— a single flipped byte in any nav wall fails the hash. Popular
(low-index Zipf) hosts also attract the most inlinks, as on the real
web.

All integer arithmetic is ppm/floor-div (BIGINT end to end): floats on
an ORDER or value column are not cross-engine-safe, and floor division
of non-negative int64 is identical in Spark (`div`) and DuckDB (`//`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.sampling import KNUTH_U_SQL
from .relational import _t, register
from .sources import pages as pages_src
from .sources.pages import _host_name

# ---------------------------------------------------------------------------
# host-level link graph
# ---------------------------------------------------------------------------

OUTLINKS_PER_DOC = pages_src.N_OUTLINKS
# SQL mirror of pages._outlink_host's key: mix the link slot into the
# doc id before the Knuth hash. pmod(doc_id, 2^32) keeps the multiply
# < 2^37 (overflow-safe at full int64 id range); 31/7/13 de-correlate
# the link slots from the doc's own host draw (key = doc_id itself).
_LINK_KEY_SQL = "((({d}) % 4294967296 + 4294967296) % 4294967296) * 31 + ({k}) * 7 + 13"
# only html-dialect pages carry anchors (PDF/JSON/hOCR/Textract do not)
_HTML_SLICE_SQL = pages_src.HTML_SLICE_SQL
_OUTLINK_RE = r"<a href=\"https://host(\d{2})\.example\.com/\">"

# PageRank constants (integer ppm)
PAGERANK_ITERS = 3
DAMP_PPM = 850_000  # classic d = 0.85
N_HOSTS = pages_src.N_HOSTS
PR_INIT_PPM = 1_000_000 // N_HOSTS
PR_BASE_PPM = (1_000_000 - DAMP_PPM) // N_HOSTS


def _host_name_sql(idx: str) -> str:
    return f"concat('host', lpad(CAST({idx} AS VARCHAR), 2, '0'), '.example.com')"


def _outlinked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, src_host, dst_host): every html page's outlink anchors
    parsed back out of the RAW payload bytes — src host from the page
    url, dst hosts regexp-extracted from the nav wall's absolute
    anchors. Decode + two regexes + explode are narrow JVM expressions
    over the page scan (no Python, no pre-shuffle); parquet pushdown
    prunes the scan to (url, html)."""
    pages = spark.read.parquet(pages_src.materialize_pages(spark, sf_dir))
    html_pages = pages.select(
        pages_src.doc_id_from_url().alias("doc_id"),
        F.regexp_extract(F.col("url"), r"host(\d{2})\.", 1).cast("int").alias("src_host"),
        F.col("html").cast("string").alias("page"),
    ).filter(pages_src.html_slice_filter(F.col("doc_id")))
    return html_pages.select(
        "doc_id",
        "src_host",
        F.explode(
            F.regexp_extract_all("page", F.lit(_OUTLINK_RE), F.lit(1))
        ).alias("dst_s"),
    ).select("doc_id", "src_host", F.col("dst_s").cast("int").alias("dst_host"))


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated (src_host, dst_host, w) edge table, persisted: the
    cached block is <= |hosts|^2 rows (tiny), so every downstream use —
    iteration joins, degree rollups, the final out_links join — reads
    the cache and the corpus-size pages scan happens exactly ONCE per
    query, matching the single-scan contract the docstrings state."""
    return (
        _outlinked(spark, sf_dir)
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("w"))
        .persist()
    )


_LINKS_CTE_SQL = f"""links AS (
      SELECT doc_id,
             len(list_filter({{cdf}}, c -> c < ({KNUTH_U_SQL.format(k="doc_id")})))
               AS src_host,
             len(list_filter({{cdf}}, c -> c < (
               {KNUTH_U_SQL.format(k=_LINK_KEY_SQL.format(d="doc_id", k="k"))})))
               AS dst_host
      FROM documents, unnest(range(0, {OUTLINKS_PER_DOC})) AS l(k)
      WHERE {_HTML_SLICE_SQL})"""

# shared edge-table CTEs (one definition; every graph oracle composes
# these so a change to edge derivation lands everywhere at once)
_EDGES_CTE_SQL = """edges AS (
      SELECT src_host, dst_host, count(*) AS w
      FROM links GROUP BY 1, 2)"""
_OUTDEG_CTE_SQL = """outdeg AS (
      SELECT src_host, CAST(sum(w) AS BIGINT) AS od FROM edges GROUP BY 1)"""


@register(
    "crawl_link_graph",
    f"""
    WITH {_LINKS_CTE_SQL}
    SELECT {_host_name_sql("src_host")} AS src,
           {_host_name_sql("dst_host")} AS dst,
           count(*) AS n_links,
           count(DISTINCT doc_id) AS n_src_docs
    FROM links
    GROUP BY src_host, dst_host
    """,
)
def crawl_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link graph: every html page's outlink anchors parsed
    from the RAW payload bytes and rolled up into src-host -> dst-host
    edge weights (the hyperlink-graph build step of a crawl pipeline —
    feeds frontier prioritization and the PageRank query below). One
    narrow decode + regex + explode over the page scan (no Python, no
    pre-shuffle) followed by ONE keyed aggregation on (src, dst):
    map-side partial combine collapses each task's rows to <= |hosts|^2
    partials, so the shuffle carries ~1600 rows per task regardless of
    corpus size — the same plan at 10^12 documents. countDistinct adds
    the standard two-phase expand, still bounded by the tiny group
    count. The oracle recomputes the edge multiset closed-form from the
    generator's hash (sources/pages.py _outlink_host), so the whole
    byte-parse chain is exactness-checked."""
    return (
        _outlinked(spark, sf_dir)
        .groupBy("src_host", "dst_host")
        .agg(
            F.count("*").alias("n_links"),
            F.countDistinct("doc_id").alias("n_src_docs"),
        )
        .select(
            _host_name(F.col("src_host")).alias("src"),
            _host_name(F.col("dst_host")).alias("dst"),
            "n_links",
            "n_src_docs",
        )
    )


def _pagerank_oracle() -> str:
    """Unrolled PAGERANK_ITERS-step integer-ppm PageRank as plain CTEs.
    sum(BIGINT) is HUGEINT in DuckDB, so every aggregate is cast back —
    values stay well inside int64 (pr_ppm <= 1e6, w <= corpus links)."""
    prev = "pr0"
    steps = [
        f"""nodes AS (SELECT range AS v FROM range({N_HOSTS})),
    pr0 AS (SELECT v, CAST({PR_INIT_PPM} AS BIGINT) AS ppm FROM nodes)"""
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        steps.append(
            f"""pr{i} AS (
      SELECT n.v,
             CAST({PR_BASE_PPM} + ({DAMP_PPM} * coalesce(i.inc, 0)) // 1000000
                  AS BIGINT) AS ppm
      FROM nodes n LEFT JOIN (
        SELECT e.dst_host AS v, CAST(sum((p.ppm * e.w) // e.od) AS BIGINT) AS inc
        FROM ew e JOIN {prev} p ON p.v = e.src_host
        GROUP BY e.dst_host) i ON i.v = n.v)"""
        )
        prev = f"pr{i}"
    joined_steps = ",\n    ".join(steps)
    return f"""
    WITH {_LINKS_CTE_SQL},
    {_EDGES_CTE_SQL},
    {_OUTDEG_CTE_SQL},
    ew AS (SELECT e.src_host, e.dst_host, e.w, o.od
           FROM edges e JOIN outdeg o USING (src_host)),
    {joined_steps}
    SELECT {_host_name_sql("p.v")} AS host,
           p.ppm AS pr_ppm,
           coalesce(o.od, 0) AS out_links
    FROM {prev} p LEFT JOIN outdeg o ON o.src_host = p.v
    """


@register("crawl_pagerank", _pagerank_oracle())
def crawl_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host authority: PAGERANK_ITERS synchronous PageRank iterations
    over the host link graph, in exact integer ppm (d = 0.85; dangling
    mass dropped, the classic simplification).

    Scale shape: the corpus-size work is the ONE pass that parses
    outlinks from the page bytes and aggregates them into edges
    (crawl_link_graph's keyed agg, <= |hosts|^2 partials per task); the
    iteration then runs on the aggregated edge table — |hosts|^2 rows,
    NOT corpus rows — with the rank vector (|hosts| rows) broadcast into
    each step's join, so per-iteration cost is independent of corpus
    size. The edge table is persisted once so iterations don't re-scan
    documents. At web scale (10^8 hosts) the same loop holds with the
    rank vector as a keyed table instead of a broadcast: both joins are
    host-keyed shuffles of |edges| rows.

    Integer contract (mirrored exactly in the oracle): pr_ppm <= 1e6 and
    edge weight w <= total links, so pr*w <= 1e6 * |links| stays inside
    int64 up to ~9e12 links; beyond that, weights rescale to ppm of the
    src host's outdegree first."""
    edges = _edges(spark, sf_dir)
    outdeg = edges.groupBy("src_host").agg(F.sum("w").alias("od"))
    ew = edges.join(outdeg, "src_host")
    nodes = spark.range(N_HOSTS).select(F.col("id").cast("int").alias("v"))
    pr = nodes.select("v", F.lit(PR_INIT_PPM).cast("long").alias("ppm"))
    for _ in range(PAGERANK_ITERS):
        inc = (
            ew.join(F.broadcast(pr), ew.src_host == pr.v)
            .select("dst_host", F.expr("ppm * w div od").alias("c"))
            .groupBy("dst_host")
            .agg(F.sum("c").alias("inc"))
        )
        pr = nodes.join(inc, nodes.v == inc.dst_host, "left").select(
            "v",
            # integer div end-to-end: a double division would lose
            # exactness once DAMP_PPM * inc crosses 2^53
            F.expr(
                f"CAST({PR_BASE_PPM} + ({DAMP_PPM} * coalesce(inc, 0L)) div 1000000 AS BIGINT)"
            ).alias("ppm"),
        )
    out = pr.join(outdeg, pr.v == outdeg.src_host, "left").select(
        _host_name(F.col("v")).alias("host"),
        F.col("ppm").alias("pr_ppm"),
        F.coalesce(F.col("od"), F.lit(0)).alias("out_links"),
    )
    return out


# ---------------------------------------------------------------------------
# HITS hubs & authorities (integer ppm, L1-normalized)
# ---------------------------------------------------------------------------

HITS_ITERS = 2
HITS_INIT_PPM = 1_000_000 // N_HOSTS

# shared edge CTEs: weights normalized to ppm of the src host's
# outdegree (wn <= 1e6), which keeps every later product inside int64
# INDEPENDENT of corpus size — the rescaling crawl_pagerank's docstring
# defers to "beyond ~9e12 links" is the default here.
_EW_CTE_SQL = f"""{_EDGES_CTE_SQL},
    {_OUTDEG_CTE_SQL},
    ew AS (SELECT e.src_host, e.dst_host,
                  CAST(e.w * 1000000 // o.od AS BIGINT) AS wn
           FROM edges e JOIN outdeg o USING (src_host)),
    nodes AS (SELECT range AS v FROM range({N_HOSTS}))"""


def _hits_oracle() -> str:
    """Unrolled HITS_ITERS-step integer HITS as plain CTEs. Each edge
    contribution floors independently (score * wn // 1e6), so the sum is
    order-independent and cross-engine exact; each vector L1-normalizes
    to ppm with a floor div."""
    steps = [f"h0 AS (SELECT v, CAST({HITS_INIT_PPM} AS BIGINT) AS ppm FROM nodes)"]

    def gather(out: str, src_tbl: str, join_on: str, group_by: str) -> None:
        steps.append(
            f"""{out}r AS (
      SELECT n.v, CAST(coalesce(s.raw, 0) AS BIGINT) AS raw
      FROM nodes n LEFT JOIN (
        SELECT e.{group_by} AS v,
               CAST(sum(p.ppm * e.wn // 1000000) AS BIGINT) AS raw
        FROM ew e JOIN {src_tbl} p ON p.v = e.{join_on}
        GROUP BY 1) s ON s.v = n.v)"""
        )
        steps.append(
            f"""{out} AS (
      SELECT v, CAST(raw * 1000000 //
             greatest((SELECT CAST(sum(raw) AS BIGINT) FROM {out}r), 1)
             AS BIGINT) AS ppm FROM {out}r)"""
        )

    prev_h = "h0"
    for i in range(1, HITS_ITERS + 1):
        gather(f"a{i}", prev_h, "src_host", "dst_host")
        gather(f"h{i}", f"a{i}", "dst_host", "src_host")
        prev_h = f"h{i}"
    joined = ",\n    ".join(steps)
    return f"""
    WITH {_LINKS_CTE_SQL},
    {_EW_CTE_SQL},
    {joined}
    SELECT {_host_name_sql("a.v")} AS host,
           a.ppm AS auth_ppm,
           h.ppm AS hub_ppm
    FROM a{HITS_ITERS} a JOIN h{HITS_ITERS} h USING (v)
    """


@register("crawl_hits", _hits_oracle())
def crawl_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubs & authorities: HITS_ITERS synchronous HITS iterations over
    the host link graph in exact integer ppm — the second classic
    crawl-ranking signal next to crawl_pagerank (authorities ~ pages
    worth fetching, hubs ~ directories worth re-crawling for frontier
    discovery).

    Weighted variant: edge weights are first normalized to ppm of the
    src host's outdegree (wn <= 1e6), then each step gathers
    score * wn // 1e6 along the edge (per-edge floor — sums stay
    order-independent, hence cross-engine exact) and L1-normalizes the
    vector back to ppm. Because wn and every score are <= 1e6 and the
    vector has |hosts| entries, all intermediates stay inside int64
    regardless of corpus size — no rescaling caveat at 10^12 links.

    Scale shape: identical to crawl_pagerank — the corpus-size work is
    the one byte-parse + (src,dst) keyed agg; the iteration runs on the
    aggregated edge table (<= |hosts|^2 rows) with the score vector
    (|hosts| rows) broadcast into each step, and the L1 total is a
    1-row broadcast scalar subquery. Per-iteration cost is independent
    of corpus size; at web scale (10^8 hosts) both joins become
    host-keyed shuffles of |edges| rows."""
    edges = _edges(spark, sf_dir)
    outdeg = edges.groupBy("src_host").agg(F.sum("w").alias("od"))
    ew = edges.join(outdeg, "src_host").select(
        "src_host", "dst_host", F.expr("w * 1000000 div od").alias("wn")
    )
    nodes = spark.range(N_HOSTS).select(F.col("id").cast("int").alias("v"))

    def gather(scores: DataFrame, join_on: str, group_by: str) -> DataFrame:
        raw = (
            ew.join(F.broadcast(scores), ew[join_on] == scores.v)
            .select(F.col(group_by).alias("g"), F.expr("ppm * wn div 1000000").alias("c"))
            .groupBy("g")
            .agg(F.sum("c").alias("raw"))
        )
        raw = nodes.join(raw, nodes.v == raw.g, "left").select(
            "v", F.coalesce(F.col("raw"), F.lit(0)).cast("long").alias("raw")
        )
        total = raw.agg(F.sum("raw").cast("long").alias("t"))
        return raw.crossJoin(F.broadcast(total)).select(
            "v", F.expr("raw * 1000000 div greatest(t, 1L)").alias("ppm")
        )

    h = nodes.select("v", F.lit(HITS_INIT_PPM).cast("long").alias("ppm"))
    for _ in range(HITS_ITERS):
        a = gather(h, "src_host", "dst_host")
        h = gather(a, "dst_host", "src_host")
    return (
        a.alias("a")
        .join(h.alias("h"), "v")
        .select(
            _host_name(F.col("v")).alias("host"),
            F.col("a.ppm").alias("auth_ppm"),
            F.col("h.ppm").alias("hub_ppm"),
        )
    )


@register(
    "host_degree_reciprocity",
    f"""
    WITH {_LINKS_CTE_SQL},
    {_EDGES_CTE_SQL},
    recip AS (
      SELECT e.src_host, CAST(count(*) AS BIGINT) AS n_recip
      FROM edges e JOIN edges r
        ON r.src_host = e.dst_host AND r.dst_host = e.src_host
      WHERE e.src_host <> e.dst_host
      GROUP BY 1),
    outs AS (SELECT src_host AS v, CAST(count(*) AS BIGINT) AS out_deg,
                    CAST(sum(w) AS BIGINT) AS out_w
             FROM edges GROUP BY 1),
    ins AS (SELECT dst_host AS v, CAST(count(*) AS BIGINT) AS in_deg,
                   CAST(sum(w) AS BIGINT) AS in_w
            FROM edges GROUP BY 1)
    SELECT {_host_name_sql("n.range")} AS host,
           coalesce(o.out_deg, 0) AS out_deg,
           coalesce(o.out_w, 0) AS out_w,
           coalesce(i.in_deg, 0) AS in_deg,
           coalesce(i.in_w, 0) AS in_w,
           coalesce(r.n_recip, 0) AS n_recip,
           CAST(coalesce(r.n_recip, 0) * 1000000 //
                greatest(coalesce(o.out_deg, 0), 1) AS BIGINT) AS recip_ppm
    FROM range({N_HOSTS}) n
    LEFT JOIN outs o ON o.v = n.range
    LEFT JOIN ins i ON i.v = n.range
    LEFT JOIN recip r ON r.src_host = n.range
    """,
)
def host_degree_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host degree profile of the link graph: distinct out/in
    partners, total out/in link weight, and reciprocity (how many of a
    host's out-partners link back — mutual-link density separates
    organic linking from link farms, a classic crawl spam signal).
    recip_ppm = reciprocated partners as ppm of out-degree.

    Scale shape: the corpus-size work is the one (src,dst) keyed agg
    (map-side combined to <= |hosts|^2 partials per task); everything
    after — the self-join on the reversed edge key, the per-host
    rollups, the |hosts|-row assembly — runs on the aggregated edge
    table. At 10^8 hosts the self-join is an equi-join on (src,dst)
    vs (dst,src), i.e. a keyed shuffle of |edges| rows, never a
    cartesian."""
    edges = _edges(spark, sf_dir)
    rev = edges.select(
        F.col("dst_host").alias("src_host"), F.col("src_host").alias("dst_host")
    )
    # self-loops (a host linking to itself) are their own reverse and
    # would count as "a partner that links back" with no second host
    # involved — exclude them so recip_ppm measures MUTUAL links only
    recip = (
        edges.filter(F.col("src_host") != F.col("dst_host"))
        .join(rev, ["src_host", "dst_host"], "leftsemi")
        .groupBy("src_host")
        .agg(F.count("*").alias("n_recip"))
    )
    outs = edges.groupBy("src_host").agg(
        F.count("*").alias("out_deg"), F.sum("w").alias("out_w")
    )
    ins = edges.groupBy("dst_host").agg(
        F.count("*").alias("in_deg"), F.sum("w").alias("in_w")
    )
    nodes = spark.range(N_HOSTS).select(F.col("id").cast("int").alias("v"))
    out = (
        nodes.join(outs, nodes.v == outs.src_host, "left")
        .join(ins, nodes.v == ins.dst_host, "left")
        .join(recip.withColumnRenamed("src_host", "rv"), nodes.v == F.col("rv"), "left")
        .select(
            _host_name(F.col("v")).alias("host"),
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("out_w", F.lit(0)).alias("out_w"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("in_w", F.lit(0)).alias("in_w"),
            F.coalesce("n_recip", F.lit(0)).alias("n_recip"),
            F.expr(
                "coalesce(n_recip, 0L) * 1000000 div greatest(coalesce(out_deg, 0L), 1L)"
            ).alias("recip_ppm"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# paragraph-level dedup (CCNet shape)
# ---------------------------------------------------------------------------

PARA_WORDS = 20  # fixed-width word paragraphs (synthetic docs carry no \n)
PARA_DUP_MAX_PPM = 300_000  # quality cut: drop docs >30% duplicated paragraphs

_PARAS_CTE_SQL = f"""t AS (
      SELECT doc_id, str_split(text, ' ') AS tk, len(str_split(text, ' ')) AS n
      FROM documents WHERE text <> ''),
    paras AS (
      SELECT doc_id,
             CAST(s / {PARA_WORDS} AS INT) AS para_idx,
             md5(array_to_string(
               tk[CAST(s AS INT) + 1 : CAST(s AS INT) + {PARA_WORDS}], ' ')) AS fp_md5
      FROM t, unnest(range(0, n, {PARA_WORDS})) AS r(s)),
    marked AS (
      SELECT doc_id, para_idx, fp_md5,
             row_number() OVER (PARTITION BY fp_md5 ORDER BY doc_id, para_idx) = 1
               AS is_first
      FROM paras)"""


@register(
    "paragraph_dedup",
    f"""
    WITH {_PARAS_CTE_SQL}
    SELECT doc_id, para_idx, fp_md5, is_first FROM marked
    """,
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shape paragraph-level dedup: documents split into fixed
    PARA_WORDS-word paragraphs, each md5-fingerprinted, and only the
    corpus-wide FIRST occurrence (by (doc_id, para_idx)) marked kept —
    the paragraph analogue of doc_exact_dedup, and the granularity CCNet
    actually dedups at (boilerplate repeats across pages even when whole
    documents differ).

    Scale shape: split/slice/md5 are narrow JVM expressions; the one
    shuffle keys on the md5 fingerprint — uniform by construction, so no
    skew — and each window group is one duplicate cluster (tiny). At
    10^12 documents this is the same fingerprint-keyed exchange the
    exact-dedup path uses, with ~n/PARA_WORDS times the rows."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text") != "")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(0), F.size(toks) - 1, F.lit(PARA_WORDS))
    paras = d.select(
        "doc_id", toks.alias("tk"), F.explode(starts).alias("s")
    ).select(
        "doc_id",
        (F.col("s") / PARA_WORDS).cast("int").alias("para_idx"),
        F.md5(F.array_join(F.slice(F.col("tk"), F.col("s") + 1, PARA_WORDS), " ")).alias(
            "fp_md5"
        ),
    )
    w = Window.partitionBy("fp_md5").orderBy("doc_id", "para_idx")
    return paras.withColumn("is_first", F.row_number().over(w) == 1)


@register(
    "paragraph_dup_ratio",
    f"""
    WITH {_PARAS_CTE_SQL}
    SELECT doc_id,
           count(*) AS n_paras,
           CAST(sum(CASE WHEN is_first THEN 0 ELSE 1 END) AS BIGINT) AS n_dup,
           CAST(sum(CASE WHEN is_first THEN 0 ELSE 1 END) * 1000000 // count(*)
                AS BIGINT) AS dup_ppm,
           CAST(sum(CASE WHEN is_first THEN 0 ELSE 1 END) * 1000000 // count(*)
                AS BIGINT) <= {PARA_DUP_MAX_PPM} AS keep
    FROM marked
    GROUP BY doc_id
    """,
)
def paragraph_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-paragraph ratio, the CCNet/RefinedWeb
    quality signal built on paragraph_dedup: a page whose paragraphs
    mostly already exist elsewhere in the corpus is boilerplate or a
    mirror, and is cut at PARA_DUP_MAX_PPM. Integer ppm (floor div) so
    the keep verdict is cross-engine exact. Same fingerprint-keyed
    shuffle as paragraph_dedup plus one doc-keyed rollup — both
    map-side combinable, no skew (doc_id is unique, fp is uniform)."""
    marked = paragraph_dedup(spark, sf_dir)
    dup = F.sum(F.when(F.col("is_first"), 0).otherwise(1))
    agg = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_paras"),
        dup.cast("long").alias("n_dup"),
    )
    ppm = F.expr("n_dup * 1000000 div n_paras")
    return agg.select(
        "doc_id",
        "n_paras",
        "n_dup",
        ppm.alias("dup_ppm"),
        (ppm <= PARA_DUP_MAX_PPM).alias("keep"),
    )


# ---------------------------------------------------------------------------
# frontier priority fusion (authority x quality crawl ordering)
# ---------------------------------------------------------------------------

FUSION_TOP_K = 100  # frontier head size


def _fusion_oracle() -> str:
    from .text_queries import _QC_SCORE_SQL

    # nests the full crawl_pagerank oracle (identical CTE chain) plus the
    # registered quality score — the fusion provably orders by the same
    # authority and quality the standalone queries publish
    pr_body = _pagerank_oracle()
    prev = f"pr{PAGERANK_ITERS}"
    # reuse everything up to the final SELECT of the pagerank oracle
    from .text_queries import _HOSTED_CTE_SQL

    pr_ctes = pr_body[pr_body.index("WITH ") + 5 : pr_body.index("\n    SELECT ")]
    return f"""
    WITH {pr_ctes},
    {_HOSTED_CTE_SQL},
    scored AS (
      SELECT doc_id, CAST(host_idx AS INT) AS host_idx,
             greatest(CASE WHEN text = '' THEN CAST(0 AS BIGINT)
                           ELSE {_QC_SCORE_SQL} END, 0) + 1 AS quality_w
      FROM hosted),
    fused AS (
      SELECT s.doc_id, {_host_name_sql("s.host_idx")} AS host,
             p.ppm AS pr_ppm, s.quality_w,
             p.ppm * s.quality_w AS priority
      FROM scored s JOIN {prev} p ON p.v = s.host_idx)
    SELECT doc_id, host, pr_ppm, CAST(quality_w AS BIGINT) AS quality_w,
           CAST(priority AS BIGINT) AS priority
    FROM fused
    ORDER BY priority DESC, doc_id
    LIMIT {FUSION_TOP_K}
    """


@register("crawl_priority_fusion", _fusion_oracle())
def crawl_priority_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier ordering by authority x quality (the OPIC/"crawl the
    best pages first" fusion, Abiteboul 2003 / Cho-Garcia-Molina —
    public): each known url's fetch priority is its host's PageRank
    authority (the registered crawl_pagerank value, identical iteration)
    times a non-negative document quality weight (the registered
    hashed-linear classifier score, floored at 0, +1 so authority alone
    breaks ties on scoreless docs). The frontier head is the exact
    top-{FUSION_TOP_K} under (priority DESC, doc_id) — a total order,
    so the set is deterministic.

    Scale shape: the rank vector is a ~|hosts|-row broadcast joined to
    the scored documents (narrow JVM score map, no shuffle); the
    head is orderBy + limit, which Spark plans as TakeOrderedAndProject
    — per-partition top-K then a {FUSION_TOP_K}-row merge, never a
    global sort. The only corpus-size passes are the one page scan
    inside the edge aggregation (shared with crawl_pagerank) and the
    one scored-documents scan."""
    from .sources.pages import _host_idx_col
    from .text_queries import _qc_score_col

    from .relational import _td

    pr = crawl_pagerank(spark, sf_dir).select("host", "pr_ppm")
    # spread read (_td): the per-token md5 quality score feeds the
    # priority ordering of the top-K, so .count() cannot prune it — on
    # the single-row-group test file a bare scan runs the whole score map
    # on one core (measured 9.93 s bare vs 2.85 s spread at sf1.0).
    d = _td(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    score = F.when(
        F.col("text") == "", F.lit(0).cast("long")
    ).otherwise(_qc_score_col(toks))
    scored = d.select(
        "doc_id",
        _host_name(_host_idx_col()).alias("host"),
        (F.greatest(score, F.lit(0)) + 1).alias("quality_w"),
    )
    fused = scored.join(F.broadcast(pr), "host").select(
        "doc_id",
        "host",
        "pr_ppm",
        "quality_w",
        (F.col("pr_ppm") * F.col("quality_w")).alias("priority"),
    )
    return fused.orderBy(F.col("priority").desc(), "doc_id").limit(FUSION_TOP_K)


# ---------------------------------------------------------------------------
# structural mirror detection (co-link Jaccard)
# ---------------------------------------------------------------------------

# mirror-candidate verdict: hosts sharing this fraction of their
# distinct outlink targets. Deliberately below 1.0: partial mirrors and
# sites sharing a syndication backbone are exactly what the monitor
# wants visible.
COLINK_MIRROR_PPM = 600_000


@register(
    "host_colink_similarity",
    f"""
    WITH {_LINKS_CTE_SQL},
    d AS (SELECT DISTINCT src_host, dst_host FROM links),
    deg AS (SELECT src_host, CAST(count(*) AS BIGINT) AS n_out FROM d GROUP BY 1),
    shared AS (
      SELECT a.src_host AS host_a, b.src_host AS host_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM d a JOIN d b ON a.dst_host = b.dst_host AND a.src_host < b.src_host
      GROUP BY 1, 2)
    SELECT CAST(host_a AS INT) AS host_a, CAST(host_b AS INT) AS host_b,
           da.n_out AS n_out_a, db.n_out AS n_out_b, n_shared,
           CAST(n_shared * 1000000 // (da.n_out + db.n_out - n_shared)
                AS BIGINT) AS jaccard_ppm,
           n_shared * 1000000 // (da.n_out + db.n_out - n_shared)
             >= {COLINK_MIRROR_PPM} AS mirror_candidate
    FROM shared
    JOIN deg da ON da.src_host = shared.host_a
    JOIN deg db ON db.src_host = shared.host_b
    """,
)
def host_colink_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural mirror detection: host-pair Jaccard over DISTINCT
    outlink-target sets — the link-structure arm of Bharat & Broder's
    mirror identification (their 1999 study used both content and
    connectivity; host_mirror_pairs is this repo's content arm, and a
    pair flagged by BOTH is as close to a confirmed mirror as offline
    analysis gets). Two sites serving the same template farm or
    syndication backbone link to near-identical target sets even when
    their extracted text differs — exactly the evasion the content arm
    misses. Edges are parsed from the RAW payload bytes (the
    crawl_link_graph anchors), so a mirror faking its text but keeping
    its nav structure is still caught.

    Scale shape at 10^12 docs: the ONLY corpus-sized stage is the
    shared payload-parse + (src, dst)-keyed distinct (map-side
    partials bounded by |hosts|^2 per task); everything after —
    degrees, the dst-keyed pair join (each dst fans out to <= |hosts|
    srcs), the pair rollup — runs on <= |hosts|^2-row tables. Jaccard
    is exact int64 ppm (|A| + |B| - shared >= 1 whenever a pair
    exists, and the dividend is non-negative, so trunc div == floor
    div)."""
    d = (
        _edges(spark, sf_dir)
        .select("src_host", "dst_host")
        .distinct()
    )
    deg = d.groupBy("src_host").agg(F.count("*").cast("long").alias("n_out"))
    a, b = d.alias("a"), d.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.dst_host") == F.col("b.dst_host"))
            & (F.col("a.src_host") < F.col("b.src_host")),
        )
        .groupBy(
            F.col("a.src_host").alias("host_a"),
            F.col("b.src_host").alias("host_b"),
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    da = deg.select(F.col("src_host").alias("host_a"), F.col("n_out").alias("n_out_a"))
    db = deg.select(F.col("src_host").alias("host_b"), F.col("n_out").alias("n_out_b"))
    jac = F.expr("n_shared * 1000000 div (n_out_a + n_out_b - n_shared)")
    return (
        shared.join(da, "host_a")
        .join(db, "host_b")
        .select(
            F.col("host_a").cast("int").alias("host_a"),
            F.col("host_b").cast("int").alias("host_b"),
            "n_out_a",
            "n_out_b",
            "n_shared",
            jac.cast("long").alias("jaccard_ppm"),
            (jac >= COLINK_MIRROR_PPM).alias("mirror_candidate"),
        )
    )
