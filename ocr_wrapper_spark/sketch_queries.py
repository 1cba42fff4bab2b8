"""Cardinality / frequency sketches and priority sampling.

At 10^12 documents, exact per-host distinct counts and global term
frequencies are shuffle-bound; production crawl pipelines answer them
with fixed-size sketches instead. This module implements the three
classics — KMV (bottom-k) distinct counting, HyperLogLog registers,
and a Count-Min frequency sketch — plus Duffield–Lund–Thorup priority
sampling, each as a registered query with an exact DuckDB oracle AND
the exact count it approximates in the same result row, so the driver
verifies both the sketch arithmetic and its measured error.

Spark's own `approx_count_distinct` is a HLL++ whose register layout is
engine-private (not reproducible in DuckDB), so these queries build the
sketches from first principles on deterministic md5-derived hashes:
identical bit-for-bit on both engines, and — unlike the built-in — the
intermediate sketch is an inspectable DataFrame.

All arithmetic is non-negative int64 (floor/trunc div agree there);
leading-zero counts come from `length(bin(x))` which both engines
define identically for positive ints. No libm anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .curation_queries import _HEX_A_SQL, _HEX_B_SQL, _hex_slice_col
from .operators.sampling import DOC_U_SQL, KNUTH_U_SQL
from .relational import _t, _td, register
from .sources.pages import _host_idx_col, _host_name
from .text_queries import _HOST_NAME_SQL, _HOSTED_CTE_SQL

# 60-bit md5 hashes: the canonical curation-module helpers (_HEX_A_SQL /
# _HEX_B_SQL / _hex_slice_col) — 15 hex chars = 60 bits, below the int64
# sign bit on both engines. Host mapping: the canonical _HOSTED_CTE_SQL /
# KNUTH_U_SQL forms (overflow-safe split multiply), never re-inlined here.

HASH_BITS = 60


# Zipf host assignment + per-host distinct term hashes, shared by the
# two cardinality sketches. (host_idx mirrors sources/pages.py
# host_for_doc through its Spark form _host_idx_col.)
def _host_term_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _td(spark, sf_dir)
    # distinct on (host, term) BEFORE hashing: md5 runs once per
    # distinct pair instead of once per token occurrence (map-side
    # partial dedup collapses each task to <= |hosts| x |vocab-per-task|
    # rows before the exchange). The second distinct keeps the result
    # identical to dedup-after-hash even under a 60-bit collision.
    terms = (
        d.filter(F.col("text") != "")
        .select(
            _host_idx_col().alias("host_idx"),
            F.explode(F.split("text", " ")).alias("term"),
        )
        .distinct()
        .select("host_idx", _hex_slice_col(F.md5(F.col("term")), 1).alias("h"))
        .distinct()
    )
    return terms


def _host_term_hashes_sql() -> str:
    return f"""{_HOSTED_CTE_SQL},
    dh AS (
      SELECT DISTINCT host_idx, {_HEX_A_SQL.format(fp="md5(term)")} AS h
      FROM (SELECT host_idx, unnest(str_split(text, ' ')) AS term
            FROM hosted WHERE text <> ''))"""

# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct-count sketch
# ---------------------------------------------------------------------------

KMV_K = 64
# estimator works on the top 40 bits so (K-1) * 2^40 stays far below
# int64; order is preserved (h -> h >> 20 is monotone)
_KMV_SHIFT = 1 << 20
_KMV_SPACE = 1 << 40


@register(
    "kmv_distinct_sketch",
    f"""
    WITH {_host_term_hashes_sql()},
    ranked AS (
      SELECT host_idx, h,
             row_number() OVER (PARTITION BY host_idx ORDER BY h) AS rank
      FROM dh),
    stats AS (
      SELECT host_idx, CAST(count(*) AS BIGINT) AS n_distinct FROM dh GROUP BY host_idx),
    kth AS (
      SELECT host_idx, max(CASE WHEN rank = {KMV_K} THEN h END) AS h_k
      FROM ranked WHERE rank <= {KMV_K} GROUP BY host_idx),
    est AS (
      SELECT s.host_idx, s.n_distinct,
             coalesce(k.h_k, -1) AS kth_min,
             CASE WHEN k.h_k IS NULL THEN s.n_distinct
                  ELSE {KMV_K - 1} * {_KMV_SPACE}
                       // greatest(k.h_k // {_KMV_SHIFT}, 1) END AS kmv_estimate
      FROM stats s LEFT JOIN kth k USING (host_idx))
    SELECT {_HOST_NAME_SQL} AS host, n_distinct, kth_min, kmv_estimate,
           abs(kmv_estimate - n_distinct) * 1000000 // n_distinct AS err_ppm
    FROM est
    """,
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host distinct-term cardinality via a K-minimum-values sketch
    (Bar-Yossef et al.): keep the K smallest 60-bit term hashes per
    host; estimate distinct = (K-1) * SPACE / h_K. The result row
    carries the exact count next to the estimate, so the oracle checks
    the sketch bit-for-bit and the driver sees its measured error.

    Scale shape: the bottom-K is two group-limited windows — rank
    within (host, h%64) salt groups first, then within host over the
    <= 64*K survivors. Both windows carry a partition spec, so Spark 4
    pushes the rank<=K filter down to a per-partition WindowGroupLimit
    BEFORE each exchange (the corpus_vocabulary trick): every map task
    ships at most K rows per (host, salt), and the Zipf top host never
    sorts in one task. "Exact" distinct here is distinct 60-bit hashes
    (collision odds ~n^2/2^61 — zero at any real host size), which is
    what keeps the whole query one scan instead of two."""
    dh = _host_term_hashes(spark, sf_dir)
    w_salt = Window.partitionBy("host_idx", F.col("h") % 64).orderBy("h")
    cand = (
        dh.withColumn("r", F.row_number().over(w_salt))
        .filter(F.col("r") <= KMV_K)
        .drop("r")
    )
    w_host = Window.partitionBy("host_idx").orderBy("h")
    ranked = cand.withColumn("rank", F.row_number().over(w_host)).filter(
        F.col("rank") <= KMV_K
    )
    kth = ranked.groupBy("host_idx").agg(
        F.max(F.when(F.col("rank") == KMV_K, F.col("h"))).alias("h_k")
    )
    stats = dh.groupBy("host_idx").agg(F.count("*").alias("n_distinct"))
    # integer divs: expr div (trunc) == floor for non-negative operands
    est = F.expr(
        f"CASE WHEN h_k IS NULL THEN n_distinct "
        f"ELSE {(KMV_K - 1) * _KMV_SPACE} div greatest(h_k div {_KMV_SHIFT}, 1) END"
    )
    joined = stats.join(kth, "host_idx", "left").select(
        "host_idx",
        "n_distinct",
        F.coalesce(F.col("h_k"), F.lit(-1)).alias("kth_min"),
        est.alias("kmv_estimate"),
    )
    return joined.select(
        _host_name().alias("host"),
        "n_distinct",
        "kth_min",
        "kmv_estimate",
        F.expr("abs(kmv_estimate - n_distinct) * 1000000 div n_distinct").alias(
            "err_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# HyperLogLog registers
# ---------------------------------------------------------------------------

HLL_M = 256  # registers; register index = h % m, pattern = h // m (52 bits)
_HLL_PAT_BITS = HASH_BITS - 8  # 52
_HLL_RHO_MAX = _HLL_PAT_BITS + 1  # rho when the pattern is all zeros
# raw-estimate numerator: round(alpha_256 * m^2) * 2^53, alpha_256 =
# 0.7213 / (1 + 1.079/256) = 0.7182724 -> 47073 after * m^2. A shared
# integer constant, so both engines floor-divide the same numerator.
# 47073 * 2^53 ~ 4.2e20 exceeds int64, so the ONE division runs in
# 128-bit on both engines (DuckDB HUGEINT //, Spark DECIMAL(38,0) div
# which returns BIGINT) — exact integer floor either way, and the
# quotient is back under 2^63 for any non-empty register set.
_HLL_EST_NUM = 47073 * (1 << _HLL_RHO_MAX)


@register(
    "hll_register_estimate",
    f"""
    WITH {_host_term_hashes_sql()},
    regs AS (
      SELECT host_idx, h % {HLL_M} AS reg,
             max(CASE WHEN h // {HLL_M} = 0 THEN {_HLL_RHO_MAX}
                      ELSE {_HLL_RHO_MAX} - length(bin(h // {HLL_M})) END) AS rho,
             CAST(count(*) AS BIGINT) AS n_reg
      FROM dh GROUP BY host_idx, reg),
    hosts AS (
      SELECT host_idx,
             CAST(sum(n_reg) AS BIGINT) AS n_distinct,
             CAST(count(*) AS BIGINT) AS n_present,
             CAST(sum(CAST(1 AS BIGINT) << ({_HLL_RHO_MAX} - rho)) AS BIGINT)
               AS s_present
      FROM regs GROUP BY host_idx),
    est AS (
      SELECT host_idx, n_distinct,
             CAST(CAST({_HLL_EST_NUM} AS HUGEINT)
             // (s_present + ({HLL_M} - n_present) * CAST({1 << _HLL_RHO_MAX} AS BIGINT))
               AS BIGINT) AS hll_estimate
      FROM hosts)
    SELECT {_HOST_NAME_SQL} AS host, n_distinct, hll_estimate,
           abs(hll_estimate - n_distinct) * 1000000 // n_distinct AS abs_err_ppm,
           hll_estimate >= n_distinct AS overestimate
    FROM est
    """,
)
def hll_register_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host distinct-term cardinality via HyperLogLog registers
    (Flajolet et al.): register j keeps the max leading-zero rank rho
    of hashes landing in it; the raw estimate is
    alpha_m * m^2 / sum_j 2^-rho_j. The harmonic sum is scaled by 2^53
    and stays int64 (empty registers contribute 2^53 each; max total
    256 * 2^53 = 2^61); the one division runs 128-bit (HUGEINT //
    DECIMAL(38,0) div) because the scaled numerator is ~4.2e20 — both
    engines floor the same exact integer quotient. rho comes from
    `length(bin(pattern))` — identical on both engines for positive
    ints — so the estimate is bit-exact, no libm. (No small-range
    linear-counting correction: that needs ln(); the raw estimate is
    the deterministic spec, and the measured abs_err_ppm column is the
    point of the query.)

    Scale shape: ONE pass — groupBy(host, reg) keeps max(rho) AND the
    distinct-hash count per register (dh is already distinct, so
    sum(n_reg) = exact distinct), then a <= 256-rows-per-host rollup.
    Both aggs combine map-side; nothing is ever wider than m rows per
    host, however big the host."""
    dh = _host_term_hashes(spark, sf_dir)
    pat = F.expr(f"h div {HLL_M}")
    rho = F.when(pat == 0, F.lit(_HLL_RHO_MAX)).otherwise(
        F.lit(_HLL_RHO_MAX) - F.length(F.bin(pat))
    )
    regs = dh.groupBy("host_idx", (F.col("h") % HLL_M).alias("reg")).agg(
        F.max(rho).alias("rho"), F.count("*").alias("n_reg")
    )
    hosts = regs.groupBy("host_idx").agg(
        F.sum("n_reg").alias("n_distinct"),
        F.count("*").alias("n_present"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RHO_MAX} - rho)")).alias(
            "s_present"
        ),
    )
    s_total = F.col("s_present") + (F.lit(HLL_M) - F.col("n_present")) * F.lit(
        1 << _HLL_RHO_MAX
    )
    out = hosts.select(
        "host_idx",
        F.col("n_distinct").cast("long").alias("n_distinct"),
        s_total.alias("_s"),
    ).select(
        "host_idx",
        "n_distinct",
        F.expr(f"CAST(CAST({_HLL_EST_NUM} AS DECIMAL(38,0)) div _s AS BIGINT)").alias(
            "hll_estimate"
        ),
    )
    return out.select(
        _host_name().alias("host"),
        "n_distinct",
        "hll_estimate",
        F.expr("abs(hll_estimate - n_distinct) * 1000000 div n_distinct").alias(
            "abs_err_ppm"
        ),
        (F.col("hll_estimate") >= F.col("n_distinct")).alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# Count-Min frequency sketch
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 8192
CMS_TOP_K = 20




@register(
    "cms_heavy_hitters",
    f"""
    WITH occ AS (
      SELECT unnest(str_split(text, ' ')) AS term FROM documents WHERE text <> ''),
    hashed AS (
      SELECT term,
             {_HEX_A_SQL.format(fp="md5(term)")} AS a,
             {_HEX_B_SQL.format(fp="md5(term)")} AS b
      FROM occ),
    sketch AS (
      SELECT j AS depth, (a + CAST(j AS BIGINT) * b) % {CMS_WIDTH} AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM hashed, unnest(range(0, {CMS_DEPTH})) AS r(j)
      GROUP BY depth, bucket),
    truth AS (
      SELECT term, CAST(count(*) AS BIGINT) AS true_count,
             row_number() OVER (ORDER BY count(*) DESC, term) AS rank
      FROM occ GROUP BY term),
    cand AS (
      SELECT term, true_count, rank,
             {_HEX_A_SQL.format(fp="md5(term)")} AS a,
             {_HEX_B_SQL.format(fp="md5(term)")} AS b
      FROM truth WHERE rank <= {CMS_TOP_K}),
    probed AS (
      SELECT c.term, c.true_count, c.rank, min(s.cnt) AS cms_estimate
      FROM cand c, unnest(range(0, {CMS_DEPTH})) AS r(j)
      JOIN sketch s
        ON s.depth = j AND s.bucket = (c.a + CAST(j AS BIGINT) * c.b) % {CMS_WIDTH}
      GROUP BY c.term, c.true_count, c.rank)
    SELECT term, true_count, cms_estimate,
           cms_estimate - true_count AS overcount, rank
    FROM probed
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode–Muthukrishnan) over all term
    occurrences: DEPTH x WIDTH counters addressed by Kirsch–
    Mitzenmacher double hashing (bucket_d = (a + d*b) % W from the two
    60-bit md5 halves — the decontaminate_bloom convention), probed at
    the true top-K terms. `cms_estimate >= true_count` always (the CMS
    one-sided error guarantee); the overcount column is the measured
    collision error the driver hash-checks.

    Scale shape: the sketch build is posexplode(4 buckets) + groupBy —
    map-side combine collapses each task to <= D*W = 32768 partials, so
    the shuffle is O(tasks * 32k) regardless of corpus size. Truth-side
    top-K uses the constant-key WindowGroupLimit trick (per-partition
    rank<=K before the exchange). The probe joins a K-row candidate
    list against the <= 32k-row sketch — broadcast, no corpus data
    moves."""
    d = _td(spark, sf_dir)
    occ = d.filter(F.col("text") != "").select(
        F.explode(F.split("text", " ")).alias("term")
    )
    # ONE term-keyed aggregation feeds both the sketch and the truth
    # side: the md5 bucket hashes are computed per DISTINCT term (not
    # per occurrence), and the sketch counters are the sum of term
    # frequencies landing in each bucket — identical counts, ~|vocab|
    # hash evaluations instead of |corpus tokens|, and the 4x
    # posexplode now runs over the tiny tf table (guide §2.3 "aggregate
    # before you shuffle").
    tf = occ.groupBy("term").agg(F.count("*").alias("true_count"))
    a = _hex_slice_col(F.md5(F.col("term")), 1)
    b = _hex_slice_col(F.md5(F.col("term")), 16)
    buckets = F.array(*[(a + F.lit(j) * b) % CMS_WIDTH for j in range(CMS_DEPTH)])
    sketch = (
        tf.select(F.col("true_count"), F.posexplode(buckets).alias("depth", "bucket"))
        .groupBy("depth", "bucket")
        .agg(F.sum("true_count").alias("cnt"))
    )
    truth = tf
    w = Window.partitionBy(F.col("true_count") % 1).orderBy(
        F.col("true_count").desc(), "term"
    )
    cand = (
        truth.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= CMS_TOP_K)
        .select(
            "term",
            "true_count",
            "rank",
            F.posexplode(buckets).alias("depth", "bucket"),
        )
    )
    probed = (
        sketch.join(F.broadcast(cand), ["depth", "bucket"])
        .groupBy("term", "true_count", "rank")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return probed.select(
        "term",
        "true_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("true_count")).alias("overcount"),
        "rank",
    )


# ---------------------------------------------------------------------------
# Duffield–Lund–Thorup priority sampling
# ---------------------------------------------------------------------------

PRIO_K = 50
_PRIO_WCAP = 1 << 20  # weight cap keeps w * 2^40 far below int64
_PRIO_USPACE = 1 << 40


@register(
    "priority_sample_topk",
    f"""
    WITH pri AS (
      SELECT doc_id,
             least(n_chars + 1, {_PRIO_WCAP}) AS weight,
             least(n_chars + 1, {_PRIO_WCAP}) * {_PRIO_USPACE}
             // ({_HEX_A_SQL.format(fp="md5(CAST(doc_id AS VARCHAR))")} // {1 << 20} + 1)
             AS priority
      FROM documents),
    ranked AS (
      SELECT doc_id, weight, priority,
             row_number() OVER (ORDER BY priority DESC, doc_id) AS rank
      FROM pri),
    head AS (SELECT * FROM ranked WHERE rank <= {PRIO_K + 1}),
    tau AS (
      SELECT coalesce(max(CASE WHEN rank = {PRIO_K + 1} THEN priority END), 0) AS tau
      FROM head)
    SELECT h.doc_id, h.weight, h.priority, t.tau,
           greatest(h.weight, t.tau) AS est_weight, h.rank
    FROM head h CROSS JOIN tau t
    WHERE h.rank <= {PRIO_K}
    """,
)
def priority_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duffield–Lund–Thorup priority sampling: each doc gets priority
    q = w / u with u uniform from its 40-bit doc-id hash (scaled to
    int: q = w * 2^40 // (u40 + 1)); the K highest-priority docs form a
    weighted sample, and tau = the (K+1)-th priority yields the
    unbiased per-item weight estimator max(w, tau). The classic way to
    carry a fixed-size weighted sample of a 10^12-row corpus through a
    pipeline (weights here = document length).

    Scale shape: one narrow map computes priorities; the global top
    K+1 uses the constant-key WindowGroupLimit pushdown (each map task
    ships at most K+1 rows), and tau comes from a 1-row aggregate of
    the 51 survivors cross-joined back — broadcast, no second scan."""
    d = _t(spark, sf_dir, "documents")
    w_cap = F.least(F.col("n_chars") + 1, F.lit(_PRIO_WCAP))
    pri = d.select(
        "doc_id",
        w_cap.alias("weight"),
        F.expr(
            f"least(n_chars + 1, {_PRIO_WCAP}) * {_PRIO_USPACE} div "
            f"(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) "
            f"div {1 << 20} + 1)"
        ).alias("priority"),
    )
    w = Window.partitionBy(F.col("priority") % 1).orderBy(
        F.col("priority").desc(), "doc_id"
    )
    head = pri.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= PRIO_K + 1
    )
    tau = head.agg(
        F.coalesce(
            F.max(F.when(F.col("rank") == PRIO_K + 1, F.col("priority"))), F.lit(0)
        ).alias("tau")
    )
    return (
        head.filter(F.col("rank") <= PRIO_K)
        .crossJoin(F.broadcast(tau))
        .select(
            "doc_id",
            "weight",
            "priority",
            "tau",
            F.greatest(F.col("weight"), F.col("tau")).alias("est_weight"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# robots.txt politeness filter
# ---------------------------------------------------------------------------


@register(
    "robots_disallow_filter",
    f"""
    WITH hosted AS (
      SELECT doc_id, source,
             len(list_filter({{cdf}},
                 c -> c < ({DOC_U_SQL})))
             AS host_idx
      FROM documents),
    pathed AS (
      SELECT doc_id, host_idx,
             '/' || source || '/p' || CAST(doc_id % 97 AS VARCHAR)
                 || '/doc' || CAST(doc_id AS VARCHAR) AS path,
             CASE host_idx % 3 WHEN 0 THEN '/src0/' WHEN 1 THEN '/src2/' END
             AS disallow_prefix
      FROM hosted)
    SELECT doc_id, {_HOST_NAME_SQL} AS host, path,
           coalesce(disallow_prefix, '') AS disallow_prefix,
           disallow_prefix IS NOT NULL
             AND starts_with(path, disallow_prefix) AS blocked
    FROM pathed
    """,
)
def robots_disallow_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-politeness robots.txt stage: each host carries a
    Disallow prefix rule (derived deterministically from host_idx —
    hosts 0 mod 3 disallow /src0/, 1 mod 3 disallow /src2/), and every
    url's path is tested against its host's rule before fetch. The
    per-doc verdict column is what a frontier would filter on.

    Scale shape: pure narrow map — host assignment, path synthesis,
    and the prefix test are all JVM expressions over the scan; zero
    shuffle, zero joins (a real deployment broadcasts the
    host -> rules table; here the rule is a closed form of host_idx,
    which is the same broadcast-free shape)."""
    d = _t(spark, sf_dir, "documents")
    pathed = d.select(
        "doc_id",
        _host_idx_col().alias("host_idx"),
        F.concat(
            F.lit("/"),
            F.col("source"),
            F.lit("/p"),
            (F.col("doc_id") % 97).cast("string"),
            F.lit("/doc"),
            F.col("doc_id").cast("string"),
        ).alias("path"),
    ).withColumn(
        "disallow_prefix",
        F.when(F.col("host_idx") % 3 == 0, "/src0/").when(
            F.col("host_idx") % 3 == 1, "/src2/"
        ),
    )
    return pathed.select(
        "doc_id",
        _host_name().alias("host"),
        "path",
        F.coalesce(F.col("disallow_prefix"), F.lit("")).alias("disallow_prefix"),
        (
            F.col("disallow_prefix").isNotNull()
            & F.col("path").startswith(F.col("disallow_prefix"))
        ).alias("blocked"),
    )


# ---------------------------------------------------------------------------
# sketch union / mergeability
# ---------------------------------------------------------------------------


@register(
    "sketch_union_corpus",
    f"""
    WITH {_host_term_hashes_sql()},
    -- per-host HLL registers, then register-wise max across hosts =
    -- the merged corpus sketch (max is associative, so this equals the
    -- directly-built sketch; the oracle proves that identity)
    host_regs AS (
      SELECT host_idx, h % {HLL_M} AS reg,
             max(CASE WHEN h // {HLL_M} = 0 THEN {_HLL_RHO_MAX}
                      ELSE {_HLL_RHO_MAX} - length(bin(h // {HLL_M})) END) AS rho
      FROM dh GROUP BY host_idx, reg),
    merged AS (SELECT reg, max(rho) AS rho FROM host_regs GROUP BY reg),
    hll AS (
      SELECT CAST(count(*) AS BIGINT) AS n_present,
             CAST(sum(CAST(1 AS BIGINT) << ({_HLL_RHO_MAX} - rho)) AS BIGINT) AS s_present
      FROM merged),
    -- per-host bottom-K, unioned, re-cut to the global bottom-K =
    -- the merged KMV sketch (the global K minima survive in some
    -- host's local K minima by pigeonhole)
    host_ranked AS (
      SELECT host_idx, h,
             row_number() OVER (PARTITION BY host_idx ORDER BY h) AS r
      FROM (SELECT DISTINCT host_idx, h FROM dh)),
    pooled AS (
      SELECT DISTINCT h FROM host_ranked WHERE r <= {KMV_K}),
    global_ranked AS (
      SELECT h, row_number() OVER (ORDER BY h) AS r FROM pooled),
    kth AS (
      SELECT max(CASE WHEN r = {KMV_K} THEN h END) AS h_k FROM global_ranked
      WHERE r <= {KMV_K}),
    exact AS (
      SELECT CAST(count(DISTINCT h) AS BIGINT) AS n_exact FROM dh)
    SELECT e.n_exact,
           CAST(CAST({_HLL_EST_NUM} AS HUGEINT)
                // (hll.s_present + ({HLL_M} - hll.n_present)
                    * CAST({1 << _HLL_RHO_MAX} AS BIGINT)) AS BIGINT) AS hll_union_estimate,
           CASE WHEN k.h_k IS NULL THEN e.n_exact
                ELSE {KMV_K - 1} * {_KMV_SPACE}
                     // greatest(k.h_k // {_KMV_SHIFT}, 1) END AS kmv_union_estimate
    FROM exact e CROSS JOIN hll CROSS JOIN kth k
    """,
)
def sketch_union_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch mergeability — the property that makes sketches THE
    distributed-cardinality answer: per-host sketches built
    independently (one per shard/executor in production) merge into a
    corpus-level sketch that is bit-identical to the sketch built over
    the whole corpus at once. HLL merges by register-wise max; KMV
    merges by pooling the per-host bottom-Ks and re-cutting to the
    global bottom-K (pigeonhole: every global minimum is a local
    minimum of its host). The oracle rebuilds both merges from raw
    hashes, so any drift in the merge algebra hash-mismatches.

    Scale shape: the per-host stage is the same bounded-state groupBy /
    WindowGroupLimit shape as the standalone sketches; the merge stages
    see only |hosts| * m register rows and |hosts| * K pooled hashes —
    constant per host, however big the corpus. The exact count (the
    verification column) is the only corpus-wide distinct."""
    dh = _host_term_hashes(spark, sf_dir)
    pat = F.expr(f"h div {HLL_M}")
    rho = F.when(pat == 0, F.lit(_HLL_RHO_MAX)).otherwise(
        F.lit(_HLL_RHO_MAX) - F.length(F.bin(pat))
    )
    host_regs = dh.groupBy("host_idx", (F.col("h") % HLL_M).alias("reg")).agg(
        F.max(rho).alias("rho")
    )
    merged = host_regs.groupBy("reg").agg(F.max("rho").alias("rho"))
    hll = merged.agg(
        F.count("*").alias("n_present"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RHO_MAX} - rho)")).alias(
            "s_present"
        ),
    ).select(
        F.expr(
            f"CAST(CAST({_HLL_EST_NUM} AS DECIMAL(38,0)) div "
            f"(s_present + ({HLL_M} - n_present) * {1 << _HLL_RHO_MAX}) AS BIGINT)"
        ).alias("hll_union_estimate")
    )
    w_host = Window.partitionBy("host_idx").orderBy("h")
    pooled = (
        dh.withColumn("r", F.row_number().over(w_host))
        .filter(F.col("r") <= KMV_K)
        .select("h")
        .distinct()
    )
    w_global = Window.partitionBy(F.col("h") % 1).orderBy("h")
    kth = (
        pooled.withColumn("r", F.row_number().over(w_global))
        .filter(F.col("r") <= KMV_K)
        .agg(F.max(F.when(F.col("r") == KMV_K, F.col("h"))).alias("h_k"))
    )
    exact = dh.select("h").distinct().agg(F.count("*").alias("n_exact"))
    kmv_est = F.expr(
        f"CASE WHEN h_k IS NULL THEN n_exact "
        f"ELSE {(KMV_K - 1) * _KMV_SPACE} div greatest(h_k div {_KMV_SHIFT}, 1) END"
    )
    return (
        exact.crossJoin(F.broadcast(hll))
        .crossJoin(F.broadcast(kth))
        .select("n_exact", "hll_union_estimate", kmv_est.alias("kmv_union_estimate"))
    )


# ---------------------------------------------------------------------------
# mergeable histogram quantiles (doc-length percentiles without a sort)
# ---------------------------------------------------------------------------

# Exact percentiles of a 10^12-row column need a global sort; every
# production engine answers them from a mergeable summary instead
# (t-digest, KLL, dyadic histograms). Those are randomized or
# merge-order-dependent; the deterministic member of the family is the
# fixed-width histogram over a bounded integer universe (the q-digest
# base level): per-bucket counts are map-side-combinable int64 sums,
# merging shards is vector addition, and the rank error is one-sided
# and bounded by the bucket width — all provable in-row, which is what
# the query does.
QTILE_PS = (25, 50, 75, 90, 99)
QTILE_W = 32  # bucket width in chars; est - exact in [0, W-1]


def _cum_counts(counts: DataFrame, key: str) -> DataFrame:
    """(key, c) -> (key, cum, total): running and total counts over a
    tiny bounded-cardinality counts table. The constant partition key
    (`key % 1`) is deliberate: the input is never wider than the value
    universe (|distinct lengths| / |buckets|), so one task is the
    right plan AND the plan audit sees a non-empty partition spec."""
    one = F.col(key) % 1
    w_cum = (
        Window.partitionBy(one)
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(one)
    return counts.select(
        key,
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("total"),
    )


def _qtile_k_expr(p: int) -> str:
    # ceil(p * N / 100) in pure int64: N <= 1e12 keeps p*N < 1e14
    return f"({p} * total + 99) div 100"


@register(
    "doclen_quantile_sketch",
    f"""
    WITH vals AS (
      SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1),
    vc AS (
      SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum FROM vals),
    bh AS (
      SELECT n_chars // {QTILE_W} AS b, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1),
    bc AS (
      SELECT b, CAST(sum(c) OVER (ORDER BY b) AS BIGINT) AS cum FROM bh),
    hosts AS (
      SELECT len(list_filter({{cdf}}, c -> c < ({DOC_U_SQL}))) AS host_idx, n_chars
      FROM documents),
    hb AS (
      SELECT host_idx, n_chars // {QTILE_W} AS b, CAST(count(*) AS BIGINT) AS c
      FROM hosts GROUP BY 1, 2),
    mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS c FROM hb GROUP BY 1),
    mc AS (
      SELECT b, CAST(sum(c) OVER (ORDER BY b) AS BIGINT) AS cum FROM mb),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
    pk AS (
      SELECT p, n_total, (p * n_total + 99) // 100 AS k_rank
      FROM (SELECT unnest([{", ".join(str(p) for p in QTILE_PS)}]) AS p), n),
    ex AS (
      SELECT p, min(v) AS exact_value
      FROM pk JOIN vc ON vc.cum >= pk.k_rank GROUP BY 1),
    eb AS (
      SELECT p, min(b) AS bstar
      FROM pk JOIN bc ON bc.cum >= pk.k_rank GROUP BY 1),
    em AS (
      SELECT p, min(b) AS mstar
      FROM pk JOIN mc ON mc.cum >= pk.k_rank GROUP BY 1)
    SELECT pk.p, pk.n_total, pk.k_rank, ex.exact_value,
           eb.bstar * {QTILE_W} + {QTILE_W - 1} AS est_value,
           em.mstar * {QTILE_W} + {QTILE_W - 1} AS est_merged_value,
           eb.bstar * {QTILE_W} + {QTILE_W - 1} - ex.exact_value AS err
    FROM pk JOIN ex USING (p) JOIN eb USING (p) JOIN em USING (p)
    """,
)
def doclen_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length percentiles (p25/p50/p75/p90/p99 of n_chars)
    from a fixed-width mergeable histogram, graded in-row against the
    exact rank statistic AND against the same histogram rebuilt by
    merging independent per-host histograms. Three guarantees the
    driver hash-checks: est_value >= exact_value (one-sided),
    err < W (the k-th smallest lies inside the chosen bucket), and
    est_merged_value == est_value (merging shards is vector addition
    of bucket counts, so the merged sketch is bit-identical — the
    sketch_union_corpus property for rank statistics).

    Quantile semantics: k = ceil(p*N/100) (percentile_disc rank);
    exact = min value whose cumulative count reaches k; the estimate
    reports the upper edge of the bucket containing the k-th element.

    Scale shape at 10^12 rows: the histogram is ONE
    map-side-combinable groupBy with at most universe/W groups; the
    cumulative pass runs over that bounded table (constant-key window
    over <= a few thousand rows — deliberate, see _cum_counts); the
    final row assembly cross-joins three 1-row aggregates
    (whitelisted). The exact path (per-VALUE counts) is itself a
    bounded-universe agg here and exists as the audit column — at a
    real deployment only the bucket path runs."""
    d = _t(spark, sf_dir, "documents")
    vals = d.groupBy(F.col("n_chars").alias("v")).agg(F.count("*").alias("c"))
    vc = _cum_counts(vals, "v")
    ex = vc.agg(
        F.max("total").alias("n_total"),
        *[
            F.min(
                F.when(F.col("cum") >= F.expr(_qtile_k_expr(p)), F.col("v"))
            ).alias(f"ex_{p}")
            for p in QTILE_PS
        ],
    )
    bh = d.groupBy(F.expr(f"n_chars div {QTILE_W}").alias("b")).agg(
        F.count("*").alias("c")
    )
    eb = _cum_counts(bh, "b").agg(
        *[
            F.min(
                F.when(F.col("cum") >= F.expr(_qtile_k_expr(p)), F.col("b"))
            ).alias(f"b_{p}")
            for p in QTILE_PS
        ]
    )
    hb = d.groupBy(
        _host_idx_col().alias("host_idx"),
        F.expr(f"n_chars div {QTILE_W}").alias("b"),
    ).agg(F.count("*").alias("c"))
    mb = hb.groupBy("b").agg(F.sum("c").alias("c"))
    em = _cum_counts(mb, "b").agg(
        *[
            F.min(
                F.when(F.col("cum") >= F.expr(_qtile_k_expr(p)), F.col("b"))
            ).alias(f"m_{p}")
            for p in QTILE_PS
        ]
    )
    row = ex.crossJoin(F.broadcast(eb)).crossJoin(F.broadcast(em))
    quanta = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("p"),
                    F.expr(f"({p} * n_total + 99) div 100").alias("k_rank"),
                    F.col(f"ex_{p}").alias("exact_value"),
                    (F.col(f"b_{p}") * QTILE_W + (QTILE_W - 1)).alias("est_value"),
                    (F.col(f"m_{p}") * QTILE_W + (QTILE_W - 1)).alias(
                        "est_merged_value"
                    ),
                )
                for p in QTILE_PS
            ]
        )
    ).alias("q")
    return row.select("n_total", quanta).select(
        F.col("q.p").alias("p"),
        "n_total",
        F.col("q.k_rank").alias("k_rank"),
        F.col("q.exact_value").alias("exact_value"),
        F.col("q.est_value").alias("est_value"),
        F.col("q.est_merged_value").alias("est_merged_value"),
        (F.col("q.est_value") - F.col("q.exact_value")).alias("err"),
    )


# ---------------------------------------------------------------------------
# two-crawl overlap: KMV Jaccard estimate graded against the exact value
# ---------------------------------------------------------------------------

OVERLAP_K = 64  # bottom-k of the union sketch
from .graph_queries import PARA_WORDS as _OVERLAP_PARA_WORDS  # noqa: E402 — same paragraph grain as the dedup family
_OVERLAP_PARA_FP_SQL = (
    f"md5(array_to_string(tk[CAST(s AS INT) + 1 : CAST(s AS INT) + {_OVERLAP_PARA_WORDS}], ' '))"
)


@register(
    "crawl_overlap_sketch",
    f"""
    WITH t AS (
      SELECT doc_id, str_split(text, ' ') AS tk, len(str_split(text, ' ')) AS n
      FROM documents WHERE text <> ''),
    dh AS (
      SELECT DISTINCT
             {_HEX_A_SQL.format(fp=_OVERLAP_PARA_FP_SQL)} AS h,
             doc_id % 2 = 0 AS a
      FROM t, unnest(range(0, n, {_OVERLAP_PARA_WORDS})) AS r(s)),
    pres AS (
      SELECT h,
             max(CASE WHEN a THEN 1 ELSE 0 END) = 1 AS in_a,
             max(CASE WHEN NOT a THEN 1 ELSE 0 END) = 1 AS in_b
      FROM dh GROUP BY h),
    ex AS (
      SELECT CAST(count(*) FILTER (WHERE in_a) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (WHERE in_b) AS BIGINT) AS n_b,
             CAST(count(*) AS BIGINT) AS n_union,
             CAST(count(*) FILTER (WHERE in_a AND in_b) AS BIGINT) AS n_inter
      FROM pres),
    bk AS (SELECT in_a AND in_b AS hit FROM pres ORDER BY h LIMIT {OVERLAP_K}),
    sk AS (
      SELECT CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS sketch_matches,
             CAST(count(*) AS BIGINT) AS sketch_k
      FROM bk)
    SELECT n_a, n_b, n_union, n_inter,
           n_inter * 1000000 // nullif(n_union, 0) AS jaccard_exact_ppm,
           sketch_matches, sketch_k,
           sketch_matches * 1000000 // nullif(sketch_k, 0) AS jaccard_est_ppm,
           abs(sketch_matches * 1000000 // nullif(sketch_k, 0)
               - n_inter * 1000000 // nullif(n_union, 0)) AS err_ppm
    FROM ex, sk
    """,
)
def crawl_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl overlap WITHOUT the join: the "how much of the
    new crawl did we already have" dashboard number, estimated from the
    bottom-OVERLAP_K union sketch of PARAGRAPH fingerprints (the
    classic KMV Jaccard estimator: the fraction of the union's k
    smallest hashes present in both sides) and graded in the same row
    against the exact Jaccard — the measured-eval shape of
    ann_pq_recall_eval / dedup_minhash_eval applied to the sketch
    family. Crawl A/B = doc_id parity (the deterministic stand-in for
    two crawl snapshots); the item universe is the PARA_WORDS-window
    paragraph grain the dedup family uses, because cross-crawl overlap
    lives at shared-passage level (whole-page hashes only catch exact
    mirrors).

    Scale shape at 10^12 pages: fingerprints are narrow JVM md5 maps;
    presence flags are ONE two-phase aggregation on the uniform 60-bit
    hash key; the union bottom-k is a TakeOrderedAndProject
    (per-partition top-k, OVERLAP_K rows to the driver — never a global
    sort); the final row cross-joins two 1-row/64-row aggregates
    (whitelisted). The exact n_inter/n_union columns are themselves
    cheap here (same keyed agg) — at a real 10^12 scale the estimator
    columns are the product and the exact columns are the audit."""
    d = _td(spark, sf_dir).filter(F.col("text") != "")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(0), F.size(toks) - 1, F.lit(_OVERLAP_PARA_WORDS))
    dh = (
        d.select("doc_id", toks.alias("tk"), F.explode(starts).alias("s"))
        .select(
            _hex_slice_col(
                F.md5(
                    F.array_join(
                        F.slice(F.col("tk"), F.col("s") + 1, _OVERLAP_PARA_WORDS), " "
                    )
                ),
                1,
            ).alias("h"),
            (F.col("doc_id") % 2 == 0).alias("a"),
        )
        .distinct()
    )
    pres = dh.groupBy("h").agg(
        (F.max(F.when(F.col("a"), 1).otherwise(0)) == 1).alias("in_a"),
        (F.max(F.when(~F.col("a"), 1).otherwise(0)) == 1).alias("in_b"),
    )
    ex = pres.agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("in_b"), 1).otherwise(0)).cast("long").alias("n_b"),
        F.count("*").cast("long").alias("n_union"),
        F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0))
        .cast("long")
        .alias("n_inter"),
    )
    bk = pres.orderBy("h").limit(OVERLAP_K).select(
        (F.col("in_a") & F.col("in_b")).alias("hit")
    )
    sk = bk.agg(
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("long").alias("sketch_matches"),
        F.count("*").cast("long").alias("sketch_k"),
    )
    est = F.expr("sketch_matches * 1000000L div nullif(sketch_k, 0)")
    exact = F.expr("n_inter * 1000000L div nullif(n_union, 0)")
    return ex.crossJoin(F.broadcast(sk)).select(
        "n_a",
        "n_b",
        "n_union",
        "n_inter",
        exact.alias("jaccard_exact_ppm"),
        "sketch_matches",
        "sketch_k",
        est.alias("jaccard_est_ppm"),
        F.abs(est - exact).alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# one-pass Poisson bootstrap (corpus-metric confidence intervals)
# ---------------------------------------------------------------------------

BOOT_B = 32  # bootstrap replicates
BOOT_KEY_MULT = 131  # decorrelates replicate draws from every other hash use
# Poisson(1) CDF thresholds (P(X<=k) for k=0..4; weight 5 beyond). The
# constants are irrational but LITERAL — both engines parse the same
# 17-significant-digit decimal to the same IEEE double, and the uniform
# they gate is knuth_u's exact dyadic rational, so the weight draw is
# engine-identical bit-for-bit.
BOOT_CDF = [
    "0.36787944117144233",
    "0.73575888234288467",
    "0.91969860292860584",
    "0.98101184312384615",
    "0.99634015317265628",
]


def _bootstrap_oracle() -> str:
    u = KNUTH_U_SQL.format(k=f"(doc_id % 4294967296) * {BOOT_KEY_MULT} + replicate")
    cases = " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(BOOT_CDF)
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN text = '' THEN 0
                  ELSE len(str_split(text, ' ')) END AS n_tokens
      FROM documents),
    rep AS (
      SELECT doc_id, n_tokens, unnest(generate_series(0, {BOOT_B - 1})) AS replicate
      FROM t),
    uu AS (SELECT replicate, n_tokens, {u} AS u FROM rep),
    w AS (SELECT replicate, n_tokens,
                 CASE {cases} ELSE {len(BOOT_CDF)} END AS w
          FROM uu)
    SELECT CAST(replicate AS BIGINT) AS replicate,
           CAST(sum(w) AS BIGINT) AS n_eff,
           CAST(sum(w * n_tokens) AS BIGINT) AS sum_tokens,
           CAST(sum(w * n_tokens) * 1000 // sum(w) AS BIGINT)
             AS mean_tokens_permil
    FROM w GROUP BY replicate
    """


@register("bootstrap_token_ci")  # oracle assigned below
def bootstrap_token_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass Poisson bootstrap for corpus metrics (Chamandy et al.,
    "Estimating uncertainty for massive data streams", public): the
    classic bootstrap resamples the corpus B times — impossible at
    10^12 rows — but Poisson(1) per-(doc, replicate) weights are an
    asymptotically equivalent resample and need only ONE scan: every
    doc contributes w ~ Poisson(1) copies to each of the {BOOT_B}
    replicates, and the spread of the replicate means IS the sampling
    uncertainty of the corpus mean.

    The Poisson draw inverts the CDF at a deterministic Knuth-hash
    uniform keyed on (doc_id, replicate), so the whole procedure is
    reproducible and engine-exact (integer sums; the mean reported in
    exact permil via int64 — sum_tokens * 1000 stays under 2^63 up to
    ~9e15 corpus tokens, and the replicate mean needs no floats).

    Scale shape: a {BOOT_B}x row explode (narrow, no shuffle) into ONE
    map-side-combinable groupBy with {BOOT_B} groups — the entire
    uncertainty estimate costs one aggregation pass, no per-replicate
    jobs, no driver-side resampling."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    t = d.select(
        "doc_id",
        F.when(F.col("text") == "", 0).otherwise(F.size(toks)).alias("n_tokens"),
    )
    rep = t.select(
        "doc_id",
        "n_tokens",
        F.explode(F.expr(f"sequence(0, {BOOT_B - 1})")).alias("replicate"),
    )
    from .operators.sampling import knuth_u

    u = knuth_u(
        F.pmod(F.col("doc_id"), F.lit(4294967296)) * BOOT_KEY_MULT
        + F.col("replicate")
    )
    w = F.lit(len(BOOT_CDF))
    for k in range(len(BOOT_CDF) - 1, -1, -1):
        w = F.when(u < float(BOOT_CDF[k]), F.lit(k)).otherwise(w)
    agg = rep.select("replicate", "n_tokens", w.alias("w")).groupBy("replicate").agg(
        F.sum("w").alias("n_eff"),
        F.sum(F.col("w") * F.col("n_tokens")).alias("sum_tokens"),
    )
    return agg.select(
        F.col("replicate").cast("long").alias("replicate"),
        F.col("n_eff").cast("long").alias("n_eff"),
        F.col("sum_tokens").cast("long").alias("sum_tokens"),
        F.expr("sum_tokens * 1000 div n_eff").alias("mean_tokens_permil"),
    )


from .relational import ORACLES as _ORACLES  # noqa: E402

_ORACLES["bootstrap_token_ci"] = _bootstrap_oracle()
