"""Corpus-curation queries: Bloom decontamination, LM fluency scoring,
exact quality tiering, host-graph components, semantic dedup.

The curation stages a web-scale training pipeline runs AFTER extraction
and dedup: benchmark decontamination (Dolma/GPT-3 appendix-C shape),
KenLM-style fluency filtering (CCNet), FineWeb-style quality tiering,
and seed-site expansion over the host graph. Registered into the same
queries()/oracle_sql() registry; every query carries an exact DuckDB
oracle.

All arithmetic is integer ppm / floor-div on non-negative int64 (the
cross-engine-exact grain used repo-wide: Spark `div` truncates toward
zero and DuckDB `//` floors, so operands are kept non-negative where
they meet).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import graph_queries as gq
from .operators.components import connected_components
from .operators.sampling import DOC_U_SQL
from .relational import ORACLES as _ORACLES
from .relational import _t, _td, register
from .sources.pages import _host_idx_col, _host_name
from .text_queries import (
    FP_MD5_SQL,
    _QC_SCORE_SQL,
    _qc_score_col,
    fp_md5_col,
)

# ---------------------------------------------------------------------------
# Bloom-filter decontamination
# ---------------------------------------------------------------------------

# Benchmark decontamination at corpus scale: the eval set's document
# fingerprints populate a Bloom filter; every training document is
# tested against it map-side. Kirsch-Mitzenmacher double hashing
# (pos_j = (a + j*b) mod M) derives all K probe positions from two
# independent 60-bit halves of the md5 fingerprint, so both engines
# compute identical positions with two hex parses per row.
BLOOM_M = 1 << 20  # filter bits (power of two: % is a mask)
BLOOM_K = 5  # probes; a + 4b < 5 * 2^60 stays inside int64
EVAL_MOD, EVAL_REM = 17, 3  # the held-out benchmark slice

# 15 hex chars = 60 bits; Spark's conv() and DuckDB's 0x-cast agree on
# the unsigned value because it never reaches the sign bit.
_HEX_A_SQL = "CAST(CAST(('0x' || substr({fp}, 1, 15)) AS UBIGINT) AS BIGINT)"
_HEX_B_SQL = "CAST(CAST(('0x' || substr({fp}, 16, 15)) AS UBIGINT) AS BIGINT)"


def _hex_slice_col(fp_col, start: int):
    return F.conv(F.substring(fp_col, start, 15), 16, 10).cast("long")


def _bloom_probe_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, in_eval, pos_0..pos_{K-1}): every document's K Bloom
    probe positions as plain columns — a narrow map over the scan, no
    explode, so the corpus side never widens or shuffles."""
    d = _t(spark, sf_dir, "documents")
    fp = fp_md5_col(F.col("text"))
    probed = d.select(
        "doc_id",
        (F.col("doc_id") % EVAL_MOD == EVAL_REM).alias("in_eval"),
        _hex_slice_col(fp, 1).alias("_a"),
        _hex_slice_col(fp, 16).alias("_b"),
    )
    for j in range(BLOOM_K):
        probed = probed.withColumn(
            f"pos_{j}", (F.col("_a") + F.lit(j) * F.col("_b")) % BLOOM_M
        )
    return probed.drop("_a", "_b")


def _bloom_positions(probes: DataFrame) -> DataFrame:
    """Distinct set bit positions of the eval-set Bloom filter —
    <= |eval| * K rows, broadcastable at any corpus scale (eval
    benchmarks are ~1e5 docs even when the corpus is 1e12)."""
    return (
        probes.filter(F.col("in_eval"))
        .select(F.explode(F.array(*[f"pos_{j}" for j in range(BLOOM_K)])).alias("pos"))
        .distinct()
    )


_BLOOM_ORACLE_HEAD = f"""
    WITH fps AS (
      SELECT doc_id, {FP_MD5_SQL} AS fp FROM documents),
    hx AS (
      SELECT doc_id,
             {_HEX_A_SQL.format(fp="fp")} AS a,
             {_HEX_B_SQL.format(fp="fp")} AS b
      FROM fps),
    pos AS (
      SELECT DISTINCT (a + CAST(j AS BIGINT) * b) % {BLOOM_M} AS pos
      FROM hx, unnest(range(0, {BLOOM_K})) AS r(j)
      WHERE doc_id % {EVAL_MOD} = {EVAL_REM})"""

_BLOOM_FLAG_SQL = " AND ".join(
    f"((a + {j} * b) % {BLOOM_M} IN (SELECT pos FROM pos))" for j in range(BLOOM_K)
)


@register(
    "decontaminate_bloom",
    f"""{_BLOOM_ORACLE_HEAD}
    SELECT doc_id,
           (doc_id % {EVAL_MOD} = {EVAL_REM}) AS in_eval,
           ({_BLOOM_FLAG_SQL}) AS flagged
    FROM hx
    """,
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination via a Bloom filter of eval-set
    fingerprints (the GPT-3/Dolma overlap-removal shape). Build: the
    eval slice's K probe positions, distinct — a tiny table however
    large the corpus. Test: K broadcast hash joins against that one
    position set (Spark reuses the broadcast exchange), flagged iff
    ALL K positions are set — exact Bloom semantics including the
    deterministic false-positive: every eval doc is flagged by
    construction, and a training doc whose 5 probes all collide flags
    too, on both engines identically. The corpus side is a narrow map
    + K broadcast probes: NO shuffle, no explode — the plan a
    1000-executor decontamination run wants."""
    probes = _bloom_probe_frame(spark, sf_dir)
    positions = _bloom_positions(probes).persist()
    out = probes
    flags = []
    for j in range(BLOOM_K):
        pj = positions.select(F.col("pos").alias(f"_set_{j}"))
        out = out.join(
            F.broadcast(pj), out[f"pos_{j}"] == pj[f"_set_{j}"], "left"
        )
        flags.append(F.col(f"_set_{j}").isNotNull())
    flagged = flags[0]
    for f in flags[1:]:
        flagged = flagged & f
    return out.select("doc_id", "in_eval", flagged.alias("flagged"))


@register(
    "bloom_filter_stats",
    f"""{_BLOOM_ORACLE_HEAD},
    words AS (
      SELECT pos // 63 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS word
      FROM pos GROUP BY 1)
    SELECT CAST((SELECT count(*) FROM hx WHERE doc_id % {EVAL_MOD} = {EVAL_REM}) AS BIGINT)
             AS n_eval_docs,
           CAST((SELECT count(*) FROM pos) AS BIGINT) AS n_positions,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(bit_count(word)) AS BIGINT) AS n_set_bits,
           CAST((SELECT count(*) FROM pos) * 1000000 // {BLOOM_M} AS BIGINT) AS fill_ppm
    FROM words
    """,
)
def bloom_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring twin of decontaminate_bloom: materializes the filter
    as PACKED 63-bit words (bit_or aggregation — 63 bits per word keeps
    the shift off the sign bit so Spark and DuckDB agree bit-for-bit)
    and reports fill. n_set_bits must equal n_positions — the packed
    build is self-checking. fill_ppm is the saturation alarm: past
    ~500k ppm the false-positive rate explodes and M must grow."""
    from pyspark import StorageLevel

    probes = _bloom_probe_frame(spark, sf_dir)
    # three consumers (word pack, position count, eval count) — persist
    # the tiny distinct-position set so the documents scan + md5 probe
    # derivation runs once, not three times
    positions = _bloom_positions(probes).persist(StorageLevel.MEMORY_AND_DISK)
    n_eval = probes.filter(F.col("in_eval")).agg(
        F.count("*").cast("long").alias("n_eval_docs")
    )
    words = positions.groupBy(F.expr("pos div 63").alias("word_idx")).agg(
        F.expr("bit_or(shiftleft(cast(1 as bigint), cast(pos % 63 as int)))").alias(
            "word"
        )
    )
    stats = words.agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum(F.bit_count("word")).cast("long").alias("n_set_bits"),
    )
    n_pos = positions.agg(F.count("*").cast("long").alias("n_positions"))
    return (
        n_eval.crossJoin(F.broadcast(n_pos))
        .crossJoin(F.broadcast(stats))
        .select(
            "n_eval_docs",
            "n_positions",
            "n_words",
            "n_set_bits",
            F.expr(f"n_positions * 1000000 div {BLOOM_M}").alias("fill_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# bigram-LM fluency scoring (the CCNet KenLM-filter shape)
# ---------------------------------------------------------------------------

LM_MOD, LM_REM = 3, 0  # the "reference corpus" slice the LM trains on

# the bigram-LM scoring chain as a shared CTE prefix — used verbatim by
# doc_bigram_lm_score's oracle and re-used by ccnet_lang_buckets below
_LM_SCORE_CTES = f"""
    WITH toks AS (
      SELECT doc_id, str_split(text, ' ') AS tk, len(str_split(text, ' ')) AS n
      FROM documents WHERE text <> ''),
    bi AS (
      SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i + 1 AS INT)] AS w2
      FROM toks, unnest(range(1, n)) AS r(i)
      WHERE n >= 2),
    c2 AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
      FROM bi WHERE doc_id % {LM_MOD} = {LM_REM} GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
    p AS (
      SELECT bi.doc_id, coalesce(1000000 * c2.c2 // c1.c1, 0) AS p
      FROM bi LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nb, sum(p) AS s
      FROM p GROUP BY 1)"""


@register(
    "doc_bigram_lm_score",
    f"""{_LM_SCORE_CTES}
    SELECT d.doc_id,
           CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(s // nb, 0) AS BIGINT) AS fluency_ppm
    FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
    """,
)
def doc_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based fluency filter, the CCNet/KenLM production shape made
    exactly reproducible: a bigram model trained on the reference slice
    (doc_id % 3 = 0) scores every document as the mean conditional
    probability of its adjacent token pairs, in integer ppm
    (p_ppm = 1e6 * c(w1 w2) / c(w1 .), floor). Fluent text built from
    common continuations scores high; gibberish scores ~0.

    Scale shape: bigram extraction is explode-over-scan (map-side); the
    count tables are vocabulary^2-bounded, built with map-side partial
    aggregation; scoring is two keyed equi-joins on (w1, w2) then w1 —
    count tables have one row per key, so AQE's skew split handles the
    Zipf-hot stopword heads on the probe side. All-integer scoring: the
    1e6 * c2 product needs c2 <= 9.2e12; past that (a single bigram
    occurring 9 trillion times) rescale both counts by 2^k first.
    Empty and single-token documents get an explicit n_bigrams=0,
    fluency_ppm=0 verdict rather than being dropped."""
    return _fluency_frame(spark, sf_dir)


def _fluency_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, fluency_ppm) for every document — the
    bigram-LM scoring chain shared by doc_bigram_lm_score and
    ccnet_lang_buckets."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    docs = d.filter(F.col("text") != "").select("doc_id", toks.alias("tk"), n.alias("n"))
    bi = (
        docs.filter(F.col("n") >= 2)
        .select(
            "doc_id",
            "tk",
            F.explode(F.sequence(F.lit(1), F.col("n") - 1)).alias("i"),
        )
        .select(
            "doc_id",
            F.element_at("tk", F.col("i")).alias("w1"),
            F.element_at("tk", F.col("i") + 1).alias("w2"),
        )
    )
    c2 = (
        bi.filter(F.col("doc_id") % LM_MOD == LM_REM)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    p = (
        bi.join(c2, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .select("doc_id", F.coalesce(F.expr("1000000 * c2 div c1"), F.lit(0)).alias("p"))
    )
    agg = p.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("nb"), F.sum("p").alias("s")
    )
    return d.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("nb"), F.lit(0).cast("long")).alias("n_bigrams"),
        F.coalesce(F.expr("s div nb"), F.lit(0).cast("long")).alias("fluency_ppm"),
    )


# ---------------------------------------------------------------------------
# CCNet head/middle/tail corpus partition
# ---------------------------------------------------------------------------

CCNET_PARTS = 3  # head / middle / tail


@register(
    "ccnet_lang_buckets",
    f"""{_LM_SCORE_CTES},
    f AS (
      SELECT d.doc_id, d.lang,
             CAST(coalesce(s // nb, 0) AS BIGINT) AS fluency_ppm
      FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id),
    hist AS (
      SELECT lang, fluency_ppm AS b, CAST(count(*) AS BIGINT) AS c
      FROM f GROUP BY 1, 2),
    t AS (
      SELECT lang, b,
             coalesce(sum(c) OVER (PARTITION BY lang ORDER BY b
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt,
             sum(c) OVER (PARTITION BY lang) AS total
      FROM hist)
    SELECT f.doc_id, f.lang, f.fluency_ppm,
           CASE ({CCNET_PARTS} * lt) // total
                WHEN 2 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
           END AS ccnet_bucket
    FROM f JOIN t ON t.lang = f.lang AND t.b = f.fluency_ppm
    """,
)
def ccnet_lang_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's defining output shape: every document assigned to the
    head / middle / tail of ITS LANGUAGE by LM fluency (Wenzek et al.
    2020 split their KenLM-scored corpus into per-language perplexity
    tertiles; head trains the big models). Exact population tertiles
    with NO global sort and NO per-language sort: the fluency score is
    integer ppm — a BOUNDED domain whatever the corpus size — so the
    boundary computation runs on a (lang, score)-histogram of at most
    |langs| * 1e6 rows: map-side-combined groupBy, a per-language
    prefix sum over the tiny histogram, broadcast join back.
    bucket = (3 * |docs of this lang with smaller score|) div |lang
    docs| — deterministic under ties (equal scores share a bucket).
    Higher fluency => 'head', mirroring CCNet's lower-perplexity-is-
    better ordering. The lang window partitions a bounded histogram,
    not the corpus, so the Zipf language skew (English ~half the web)
    never concentrates document rows in one task."""
    from pyspark import StorageLevel

    d = _t(spark, sf_dir, "documents")
    # two consumers (histogram build + final tier join) — persist the
    # scored frame so the bigram-LM chain (explode + two corpus-scale
    # joins, the dominant cost) executes once, not twice
    f_ = (
        _fluency_frame(spark, sf_dir)
        .join(d.select("doc_id", "lang"), "doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hist = f_.groupBy("lang", "fluency_ppm").agg(F.count("*").cast("long").alias("c"))
    w_lt = (
        Window.partitionBy("lang")
        .orderBy("fluency_ppm")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy("lang")
    t = hist.select(
        "lang",
        "fluency_ppm",
        F.coalesce(F.sum("c").over(w_lt), F.lit(0)).alias("lt"),
        F.sum("c").over(w_tot).alias("total"),
    )
    tier = F.expr(f"({CCNET_PARTS} * lt) div total")
    return f_.join(F.broadcast(t), ["lang", "fluency_ppm"]).select(
        "doc_id",
        "lang",
        "fluency_ppm",
        F.when(tier == 2, "head").when(tier == 1, "middle").otherwise("tail").alias("ccnet_bucket"),
    )


# ---------------------------------------------------------------------------
# exact quality tiers without a global sort (the FineWeb-tier shape)
# ---------------------------------------------------------------------------

N_TIERS = 10


@register(
    "doc_quality_tiers",
    f"""
    WITH scored AS (
      SELECT doc_id, len(str_split(text, ' ')) AS n, {_QC_SCORE_SQL} AS s
      FROM documents WHERE text <> ''),
    b AS (SELECT doc_id, (s + n * 1000000) // n AS bucket FROM scored),
    hist AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
    t AS (
      SELECT bucket,
             coalesce(sum(c) OVER (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt,
             sum(c) OVER () AS total
      FROM hist)
    SELECT b.doc_id, b.bucket,
           CAST(({N_TIERS} * lt) // total AS BIGINT) AS tier
    FROM b JOIN t USING (bucket)
    """,
)
def doc_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style corpus tiering: every non-empty document assigned
    to an exact population decile of its per-token quality score — with
    NO global sort. The classifier score (hashed-linear, int64-exact,
    shared with doc_quality_classifier) is normalized to a per-token
    bucket in [0, 2e6] — a BOUNDED domain whatever the corpus size — so
    the decile boundary computation runs on a histogram of at most 2e6
    rows: groupBy(bucket) with map-side combine, an exclusive prefix
    sum over the tiny histogram, and a broadcast join back. tier =
    (10 * |docs with smaller bucket|) div N — deterministic under ties
    (equal buckets share a tier), never a corpus-wide orderBy. The
    histogram window's `bucket % 1` partition key is the repo's
    tiny-table idiom (non-foldable constant: the deliberate
    single-partition sort of a bounded table stays visible in the plan
    without tripping the WindowExec whole-input warning)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text") != "")
    toks = F.split(F.col("text"), " ")
    scored = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n"),
        _qc_score_col(toks).alias("s"),
    )
    b = scored.select("doc_id", F.expr("(s + n * 1000000) div n").alias("bucket"))
    hist = b.groupBy("bucket").agg(F.count("*").cast("long").alias("c"))
    part = F.col("bucket") % 1  # tiny-table window idiom (see docstring)
    w_lt = (
        Window.partitionBy(part)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(part)
    t = hist.select(
        "bucket",
        F.coalesce(F.sum("c").over(w_lt), F.lit(0)).alias("lt"),
        F.sum("c").over(w_tot).alias("total"),
    )
    return b.join(F.broadcast(t), "bucket").select(
        "doc_id", "bucket", F.expr(f"({N_TIERS} * lt) div total").alias("tier")
    )


# ---------------------------------------------------------------------------
# host-graph connected components (seed-site expansion)
# ---------------------------------------------------------------------------

# an edge is "strong" when it carries >= 1/STRONG_DIV of all inter-host
# link mass — a scale-free threshold (the same fraction of the graph at
# any corpus size), so the component structure is comparable across
# crawls
STRONG_DIV = 200


@register(
    "host_components",
    # oracle assigned below, after its builder
)
def host_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the STRONG host link graph — the
    seed-site-expansion / spam-cluster primitive (curlie/OPIC-style
    crawl scoping groups hosts that heavily interlink). Edges keep
    >= 1/STRONG_DIV of total inter-host link mass (self-loops
    excluded), are symmetrized, and min-label propagation runs on the
    aggregated edge table: each round one keyed join + one agg, rounds
    = component diameter. The corpus is scanned ONCE (the persisted
    edge table from graph_queries); the iteration touches only
    |hosts|-bounded frames. At 10^8 hosts this is the standard
    large-graph CC loop — |edges|-row shuffles, never node-count driver
    state. Hosts with no strong edges are their own singleton
    component."""
    edges = gq._edges(spark, sf_dir).filter(F.col("src_host") != F.col("dst_host"))
    total = edges.agg(F.sum("w").alias("tw"))
    strong = (
        edges.crossJoin(F.broadcast(total))
        .filter(F.col("w") * STRONG_DIV >= F.col("tw"))
        .select("src_host", "dst_host")
    )
    comps = connected_components(strong, id_a="src_host", id_b="dst_host")
    hosts = spark.range(gq.N_HOSTS).select(F.col("id").cast("int").alias("v"))
    labeled = (
        hosts.join(comps, hosts.v == comps.node, "left")
        .select("v", F.coalesce(F.col("component"), F.col("v")).alias("comp"))
    )
    sizes = labeled.groupBy("comp").agg(F.count("*").cast("long").alias("comp_size"))
    return labeled.join(F.broadcast(sizes), "comp").select(
        _host_name(F.col("v")).alias("host"),
        _host_name(F.col("comp")).alias("component"),
        "comp_size",
    )


def _host_components_oracle() -> str:
    # transitive closure by recursive CTE: exact on the |hosts|-bounded
    # strong graph (the oracle side may be small-data; the Spark side
    # must scale — see the query docstring)
    name = (
        "('host' || CASE WHEN {v} < 10 THEN '0' || CAST({v} AS VARCHAR) "
        "ELSE CAST({v} AS VARCHAR) END || '.example.com')"
    )
    return f"""
    WITH RECURSIVE {gq._LINKS_CTE_SQL},
    {gq._EDGES_CTE_SQL},
    nolo AS (SELECT src_host, dst_host, w FROM edges WHERE src_host <> dst_host),
    total AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM nolo),
    strong AS (
      SELECT src_host AS s, dst_host AS d FROM nolo, total
      WHERE w * {STRONG_DIV} >= tw),
    und AS (SELECT s, d FROM strong UNION SELECT d, s FROM strong),
    reach(v, r) AS (
      SELECT s, d FROM und
      UNION
      SELECT reach.v, und.d FROM reach JOIN und ON und.s = reach.r),
    comp AS (SELECT v, least(v, min(r)) AS c FROM reach GROUP BY v),
    allh AS (SELECT CAST(h AS INT) AS v FROM unnest(range(0, {gq.N_HOSTS})) AS r(h)),
    lab AS (
      SELECT allh.v, coalesce(comp.c, allh.v) AS c
      FROM allh LEFT JOIN comp ON comp.v = allh.v),
    sz AS (SELECT c, CAST(count(*) AS BIGINT) AS comp_size FROM lab GROUP BY c)
    SELECT {name.format(v="lab.v")} AS host,
           {name.format(v="lab.c")} AS component,
           comp_size
    FROM lab JOIN sz USING (c)
    """


# ---------------------------------------------------------------------------
# semantic dedup (the SemDeDup shape: coarse clusters, prune within)
# ---------------------------------------------------------------------------

# cosine threshold as an exact rational: a pair is a semantic duplicate
# when cos >= TAU_NUM/TAU_DEN. The comparison is done on CROSS-MULTIPLIED
# INTEGER SQUARES of the int8 codes (dot >= 0 and
# TAU_DEN^2 * dot^2 >= TAU_NUM^2 * |a|^2 * |b|^2) — no sqrt, no float
# round-off at the decision boundary, bit-identical on both engines.
SEMDEDUP_TAU_NUM, SEMDEDUP_TAU_DEN = 2, 5  # cos >= 0.4

_I8_QUANT_CTE_SQL = """quant AS (
      SELECT vec_id,
             CASE WHEN m < 1e-100
                  THEN list_transform(embedding::DOUBLE[], x -> CAST(0 AS BIGINT))
                  ELSE list_transform(embedding::DOUBLE[],
                         x -> CAST(floor(x * (127.0 / m) + 0.5) AS BIGINT)) END AS q
      FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS m
            FROM embeddings))"""


def semdedup_n_centroids(n_vectors: int) -> int:
    """Coarse-cluster count scaled with corpus size: the smallest power
    of two >= sqrt(N) (floored at 16), so expected cluster size is
    ~sqrt(N) and the in-cluster pairwise stage stays ~N*sqrt(N) total
    pairs instead of N^2/k. Integer-exact mirror of the SQL
    `1 << ((length(bin(N-1)) + 1) // 2)` (the max(16, .) floor absorbs
    the N=1 bin('0') edge where the two bit-length conventions differ)."""
    bl = (n_vectors - 1).bit_length() if n_vectors > 1 else 0
    return max(16, 1 << ((bl + 1) // 2))


def _semantic_dedup_oracle() -> str:
    from .operators.similarity import _CODE_OFFSET as _off

    tn2 = SEMDEDUP_TAU_NUM * SEMDEDUP_TAU_NUM
    td2 = SEMDEDUP_TAU_DEN * SEMDEDUP_TAU_DEN
    return f"""
    WITH k1 AS (
      SELECT greatest(16, CAST(1 AS BIGINT)
               << CAST((length(bin(count(*) - 1)) + 1) // 2 AS INT)) AS k
      FROM embeddings),
    c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings, k1 WHERE vec_id < k1.k),
    enc AS (
      SELECT e.vec_id, c.cid, k1.k,
             CAST(round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6)
                  * 1000000 + {_off} AS BIGINT) * k1.k + (k1.k - 1 - c.cid) AS code
      FROM embeddings e CROSS JOIN c CROSS JOIN k1),
    assigned AS (
      SELECT vec_id, CAST(max(k) - 1 - (max(code) % max(k)) AS INT) AS cluster
      FROM enc GROUP BY vec_id),
    {_I8_QUANT_CTE_SQL},
    qq AS (SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS q2 FROM quant),
    pairs AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             CAST(list_dot_product(na.q, nb.q) AS BIGINT) AS dot,
             na.q2 AS q2a, nb.q2 AS q2b
      FROM assigned a
      JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN qq na ON na.vec_id = a.vec_id
      JOIN qq nb ON nb.vec_id = b.vec_id),
    dups AS (
      SELECT DISTINCT idb FROM pairs
      WHERE dot >= 0 AND q2a > 0 AND q2b > 0
        AND {td2} * dot * dot >= {tn2} * q2a * q2b)
    SELECT a.vec_id, a.cluster, (d.idb IS NULL) AS keep
    FROM assigned a LEFT JOIN dups d ON d.idb = a.vec_id
    """


@register("semantic_dedup", _semantic_dedup_oracle())
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): prune semantically near-duplicate
    documents WITHIN coarse embedding clusters — a vector is dropped
    when a lower-id vector in ITS cluster has cosine >= 2/5. Cluster
    assignment is the seeded coarse quantizer ann_topk_ivf uses (one
    Arrow-batch matmul per partition); similarity runs on int8-quantized
    codes, and the threshold decision is exact integer arithmetic on
    cross-multiplied squares (dot >= 0 and 25*dot^2 >= 4*|a|^2*|b|^2) —
    int8 dim-64 dots stay under 2^21, so every product fits int64 with
    18 bits to spare, and NO float comparison sits on the keep/drop
    boundary.

    Scale shape: n_centroids grows with the corpus —
    semdedup_n_centroids(N) ~ sqrt(N) — so expected cluster size is
    ~sqrt(N) and the cluster-keyed self equi-join generates ~N*sqrt(N)
    candidate pairs total, never N^2/k with a fixed k (a FIXED 16
    centroids hung the 50k-doc replica check at ~78M pairs — the exact
    blowup the replica exists to catch; the SemDeDup paper likewise
    runs 50k clusters for 5B embeddings). The count() that sizes the
    quantizer is one driver-side scalar, same cost class as the seed
    collect. Zero-norm vectors never match anything (q2 > 0 guard)
    rather than matching everything through a 0 >= 0 degeneracy."""
    from .operators.similarity import seed_centroids, top_clusters_pandas_udf

    e = _td(spark, sf_dir, "embeddings")
    import numpy as np

    n_centroids = semdedup_n_centroids(e.count())
    C = seed_centroids(e, n_centroids=n_centroids)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    assign = top_clusters_pandas_udf(Cn, n_centroids, 1)
    quant = e.select(
        "vec_id",
        F.element_at(assign(F.col("embedding")), 1).alias("cluster"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("_v"),
    ).withColumn(
        "_m", F.expr("array_max(transform(_v, x -> abs(x)))")
    ).select(
        "vec_id",
        "cluster",
        F.expr(
            "CASE WHEN _m < 1e-100 THEN transform(_v, x -> cast(0 as bigint)) "
            "ELSE transform(_v, x -> cast(floor(x * (127.0D / _m) + 0.5D) as bigint)) END"
        ).alias("q"),
    ).withColumn(
        "q2", F.expr("aggregate(transform(q, x -> x * x), cast(0 as bigint), (acc, v) -> acc + v)")
    )
    # three consumers (both self-join sides + the verdict join) — persist
    # the quantized frame so the scan AND the assignment matmul run once.
    # (vec_id, cluster, int8 codes, q2) is ~8x smaller than the raw
    # embeddings; materializing it is exactly what the SemDeDup paper
    # does before the in-cluster pass.
    from pyspark import StorageLevel

    quant = quant.persist(StorageLevel.MEMORY_AND_DISK)
    a = quant.select(
        F.col("vec_id").alias("ida"),
        "cluster",
        F.col("q").alias("qa"),
        F.col("q2").alias("q2a"),
    )
    b = quant.select(
        F.col("vec_id").alias("idb"),
        "cluster",
        F.col("q").alias("qb"),
        F.col("q2").alias("q2b"),
    )
    tn2 = SEMDEDUP_TAU_NUM * SEMDEDUP_TAU_NUM
    td2 = SEMDEDUP_TAU_DEN * SEMDEDUP_TAU_DEN
    dups = (
        a.join(b, "cluster")
        .filter(F.col("ida") < F.col("idb"))
        .withColumn(
            "dot",
            F.expr("aggregate(zip_with(qa, qb, (x, y) -> x * y), cast(0 as bigint), (acc, v) -> acc + v)"),
        )
        .filter(
            (F.col("dot") >= 0)
            & (F.col("q2a") > 0)
            & (F.col("q2b") > 0)
            & (F.lit(td2) * F.col("dot") * F.col("dot") >= F.lit(tn2) * F.col("q2a") * F.col("q2b"))
        )
        .select("idb")
        .distinct()
    )
    return quant.join(dups, quant.vec_id == dups.idb, "left").select(
        "vec_id", "cluster", F.col("idb").isNull().alias("keep")
    )


# ---------------------------------------------------------------------------
# CDX-style URL index (SURT keys over the real page urls)
# ---------------------------------------------------------------------------

CDX_SHARD_HOSTS = 8  # hosts per index shard


@register(
    "cdx_url_index",
    # oracle assigned below: every field is
    # reconstructed CLOSED-FORM from documents — host via the Zipf draw,
    # extension via the dialect mods, fetch time via the generator's
    # interval arithmetic — so a single wrong byte in any url the
    # pages source emits fails the hash
)
def cdx_url_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-style capture index over the crawl — the Common-Crawl lookup
    artifact (cdx-toolkit / pywb shape): one row per capture with the
    SURT urlkey (reversed-authority sort key: com,example,hostNN)/...),
    the 14-digit capture timestamp, the normalized content digest, and
    an index shard id. Every field is parsed from the REAL url string /
    warc_ts the pages source emits (JVM regexp + date_format only — no
    Python), and the DuckDB oracle rebuilds all of them closed-form
    from documents, so the query cross-checks the generator's url
    anatomy byte-for-byte.

    Scale shape: a narrow map over the page scan (parquet pushdown
    prunes to url/warc_ts/text). A physical CDX write would add
    repartitionByRange(urlkey).sortWithinPartitions(urlkey, ts) — a
    distributed range sort, NOT a single-task orderBy; row order is not
    part of the result contract here so the sort is left to the sink.
    Sharding by host group keeps one host's captures co-located (the
    politeness-locality layout the frontier queries assume)."""
    from .sources.pages import DOC_ID_URL_RE, materialize_pages

    pages = spark.read.parquet(materialize_pages(spark, sf_dir))
    parsed = pages.select(
        F.regexp_extract("url", r"https://host(\d{2})\.example\.com/", 1)
        .cast("int")
        .alias("host_idx"),
        F.regexp_extract("url", r"\.com/([a-z]*)/", 1).alias("langpart"),
        F.regexp_extract("url", DOC_ID_URL_RE, 1).alias("idpart"),
        F.regexp_extract("url", r"\.([a-z]+)$", 1).alias("ext"),
        "warc_ts",
        "text",
    )
    urlkey = F.concat(
        F.lit("com,example,host"),
        F.lpad(F.col("host_idx").cast("string"), 2, "0"),
        F.lit(")/"),
        F.col("langpart"),
        F.lit("/"),
        F.col("idpart"),
        F.lit("."),
        F.col("ext"),
    )
    return parsed.select(
        urlkey.alias("urlkey"),
        F.date_format("warc_ts", "yyyyMMddHHmmss").alias("capture_ts"),
        fp_md5_col(F.col("text")).alias("digest"),
        F.length("text").cast("long").alias("content_chars"),
        F.expr(f"host_idx div {CDX_SHARD_HOSTS}").alias("shard"),
    )


def _cdx_oracle() -> str:
    from .sources import pages as pages_src

    host_idx = f"len(list_filter({{cdf}}, c -> c < ({DOC_U_SQL})))"
    ext = f"""CASE
        WHEN doc_id % {pages_src.PDF_MOD} = 3 THEN 'pdf'
        WHEN doc_id % {pages_src.PDF_MOD} = {pages_src.JSON_REM} THEN 'json'
        WHEN doc_id % {pages_src.PDF_MOD} = {pages_src.HOCR_REM} THEN 'hocr'
        WHEN doc_id % {pages_src.TEXTRACT_MOD} = {pages_src.TEXTRACT_REM} THEN 'textract'
        ELSE 'html' END"""
    # f"{doc_id:010d}" pads but never truncates; lpad alone would
    # truncate 11+-digit ids, so guard on the digit count
    idpart = (
        "CASE WHEN length(CAST(doc_id AS VARCHAR)) >= 10 THEN CAST(doc_id AS VARCHAR) "
        "ELSE lpad(CAST(doc_id AS VARCHAR), 10, '0') END"
    )
    ts = (
        "TIMESTAMP '2024-01-01' + ((doc_id % 365) * INTERVAL 1 DAY) "
        "+ (((doc_id * 7919) % 86400) * INTERVAL 1 SECOND)"
    )
    return f"""
    WITH h AS (SELECT doc_id, text, lang, CAST({host_idx} AS INT) AS host_idx
               FROM documents)
    SELECT concat('com,example,host', lpad(CAST(host_idx AS VARCHAR), 2, '0'), ')/',
                  lang, '/', {idpart}, '.', {ext}) AS urlkey,
           strftime({ts}, '%Y%m%d%H%M%S') AS capture_ts,
           {FP_MD5_SQL} AS digest,
           CAST(length(text) AS BIGINT) AS content_chars,
           CAST(host_idx // {CDX_SHARD_HOSTS} AS BIGINT) AS shard
    FROM h
    """


# ---------------------------------------------------------------------------
# exact training-mix apportionment (largest-remainder / Hamilton)
# ---------------------------------------------------------------------------

MIX_UNITS = 1_000_000  # apportion one million ppm units exactly


@register(
    "source_mix_apportionment",
    f"""
    WITH toks AS (
      SELECT source, lang,
             CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n
      FROM documents),
    g AS (
      SELECT source, lang, CAST(sum(n) AS BIGINT) AS n_tokens
      FROM toks GROUP BY 1, 2),
    t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM g),
    q AS (
      SELECT source, lang, n_tokens,
             n_tokens * {MIX_UNITS} // total AS base,
             n_tokens * {MIX_UNITS} % total AS frac
      FROM g, t),
    r AS (
      SELECT *,
             row_number() OVER (ORDER BY frac DESC, source, lang) AS rk,
             CAST({MIX_UNITS} - sum(base) OVER () AS BIGINT) AS leftover
      FROM q)
    SELECT source, lang, n_tokens,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS share_ppm
    FROM r
    """,
)
def source_mix_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact training-mix weights per (source, lang): one million ppm
    units apportioned by the largest-remainder (Hamilton) method, so the
    shares are integers that sum to EXACTLY 1e6 — the property a
    downstream sampler needs (floor-only ppm shares under-allocate by up
    to |groups| units; naive rounding over-allocates). base =
    tokens*1e6 div total; the leftover units go to the groups with the
    largest remainders, ties broken by (source, lang).

    Scale shape: one (source, lang)-keyed agg with map-side combine —
    the group table is |sources| x |langs|, tiny at any corpus size —
    then windows over that tiny table only (the corpus is never
    windowed or re-sorted). tokens*1e6 needs a group under 9.2e12
    tokens; past that rescale both sides by 2^k first (same note as
    doc_bigram_lm_score)."""
    d = _t(spark, sf_dir, "documents")
    n = F.when(F.col("text") == "", 0).otherwise(F.size(F.split(F.col("text"), " ")))
    g = (
        d.select("source", "lang", n.cast("long").alias("n"))
        .groupBy("source", "lang")
        .agg(F.sum("n").alias("n_tokens"))
    )
    t = g.agg(F.sum("n_tokens").alias("total"))
    q = g.crossJoin(F.broadcast(t)).select(
        "source",
        "lang",
        "n_tokens",
        F.expr(f"n_tokens * {MIX_UNITS} div total").alias("base"),
        (F.col("n_tokens") * MIX_UNITS % F.col("total")).alias("frac"),
    )
    # tiny-table windows (|sources| x |langs| rows): rank remainders and
    # count the leftover units in one pass
    part = F.col("base") % 1  # non-foldable constant partition (repo idiom)
    w_rank = Window.partitionBy(part).orderBy(
        F.col("frac").desc(), F.col("source"), F.col("lang")
    )
    w_all = Window.partitionBy(part)
    r = q.select(
        "source",
        "lang",
        "n_tokens",
        "base",
        F.row_number().over(w_rank).alias("rk"),
        (F.lit(MIX_UNITS) - F.sum("base").over(w_all)).alias("leftover"),
    )
    return r.select(
        "source",
        "lang",
        "n_tokens",
        (F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
        .cast("long")
        .alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# per-host downsampling cap (the over-represented-host cut)
# ---------------------------------------------------------------------------

HOST_CAP_PPM = 50_000  # no host may contribute more than 5% of kept docs


@register(
    "host_downsample_cap",
    # oracle assigned below (host from the Zipf draw)
)
def host_downsample_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap each host's corpus share by deterministic rate-downsampling —
    the over-represented-host cut every web corpus applies (a handful of
    Zipf-top hosts otherwise dominate training). target(host) =
    min(count, total * 5%); each doc keeps iff
    floor(knuth_u(doc_id) * 1e6) < target * 1e6 div count — an exact
    integer comparison both engines reproduce bit-for-bit.

    Scale shape: host counts are one map-side-combinable agg (|hosts|
    partials per task — skew-immune, same argument as
    host_reputation_filter); the per-host rates broadcast back and the
    keep verdict is a pure map — NO rank, NO per-host window, so the
    Zipf-top host costs the same as any other. The trade vs an exact
    per-host top-m (which needs the salted two-phase rank
    crawl_frontier_slots uses): kept counts are Binomial(count, rate)
    rather than exactly target — at 10^12 docs the relative deviation
    ~1/sqrt(target) is negligible, and the verdict needs zero extra
    shuffles."""
    from .operators.sampling import knuth_u

    d = _t(spark, sf_dir, "documents")
    docs = d.select("doc_id", _host_idx_col().alias("host_idx"))
    counts = docs.groupBy("host_idx").agg(F.count("*").alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("total"))
    rates = counts.crossJoin(F.broadcast(total)).select(
        "host_idx",
        "n_docs",
        F.expr(
            f"least(n_docs, total * {HOST_CAP_PPM} div 1000000) * 1000000 div n_docs"
        ).alias("rate_ppm"),
    )
    u_ppm = F.floor(knuth_u(F.col("doc_id")) * 1_000_000)
    return docs.join(F.broadcast(rates), "host_idx").select(
        "doc_id",
        _host_name().alias("host"),
        F.col("rate_ppm").cast("long").alias("rate_ppm"),
        (u_ppm < F.col("rate_ppm")).alias("keep"),
    )


def _host_downsample_oracle() -> str:
    host_idx = f"len(list_filter({{cdf}}, c -> c < ({DOC_U_SQL})))"
    return f"""
    WITH h AS (SELECT doc_id, CAST({host_idx} AS INT) AS host_idx FROM documents),
    counts AS (SELECT host_idx, CAST(count(*) AS BIGINT) AS n_docs FROM h GROUP BY 1),
    total AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM counts),
    rates AS (
      SELECT host_idx,
             least(n_docs, total * {HOST_CAP_PPM} // 1000000) * 1000000 // n_docs
               AS rate_ppm
      FROM counts, total)
    SELECT h.doc_id,
           ('host' || CASE WHEN h.host_idx < 10 THEN '0' || CAST(h.host_idx AS VARCHAR)
                           ELSE CAST(h.host_idx AS VARCHAR) END || '.example.com') AS host,
           CAST(rate_ppm AS BIGINT) AS rate_ppm,
           (CAST(floor(({DOC_U_SQL}) * 1000000) AS BIGINT) < rate_ppm)
             AS keep
    FROM h JOIN rates USING (host_idx)
    """


# ---------------------------------------------------------------------------
# corpus length histogram (log2 buckets)
# ---------------------------------------------------------------------------


@register(
    "doc_length_histogram",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n
      FROM documents),
    b AS (
      SELECT CASE WHEN n = 0 THEN 0 ELSE length(bin(n)) END AS bucket, n
      FROM toks),
    hist AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS n_tokens
      FROM b GROUP BY 1)
    SELECT bucket,
           n_docs,
           n_tokens,
           CAST(n_docs * 1000000 // sum(n_docs) OVER () AS BIGINT) AS doc_share_ppm,
           CAST(n_tokens * 1000000 // greatest(sum(n_tokens) OVER (), 1) AS BIGINT)
             AS token_share_ppm
    FROM hist
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile in exact log2 buckets — the curation-report
    histogram (length cuts, truncation budgets, packing capacity are all
    chosen off this shape). bucket = floor(log2(n_tokens)) + 1 computed
    as length(bin(n)) — integer-exact in both engines, no libm float
    log whose last ulp could flip a power-of-two boundary; empty docs
    land in bucket 0. One map-side-combinable agg to a <= 64-row
    histogram; the share columns are windows over that tiny table
    only."""
    d = _t(spark, sf_dir, "documents")
    n = F.when(F.col("text") == "", 0).otherwise(F.size(F.split(F.col("text"), " ")))
    b = d.select(
        F.when(n == 0, 0).otherwise(F.length(F.bin(n.cast("long")))).alias("bucket"),
        n.cast("long").alias("n"),
    )
    hist = b.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_tokens"),
    )
    w_all = Window.partitionBy(F.col("bucket") % 1)  # tiny-table idiom
    return hist.select(
        F.col("bucket").cast("int").alias("bucket"),
        "n_docs",
        "n_tokens",
        F.expr("n_docs * 1000000").cast("long").alias("_d"),
        F.expr("n_tokens * 1000000").cast("long").alias("_t"),
        F.sum("n_docs").over(w_all).alias("_td"),
        F.greatest(F.sum("n_tokens").over(w_all), F.lit(1)).alias("_tt"),
    ).select(
        "bucket",
        "n_docs",
        "n_tokens",
        F.expr("_d div _td").alias("doc_share_ppm"),
        F.expr("_t div _tt").alias("token_share_ppm"),
    )


# ---------------------------------------------------------------------------
# DSIR-style hashed-feature importance weighting
# ---------------------------------------------------------------------------

DSIR_B = 1 << 10  # hashed feature buckets (Xie et al. 2023 use 10^4; same shape)
DSIR_TARGET_LANG = "en"  # the "target domain" sample: the corpus's en slice
DSIR_SELECT_PPM = 1_000_000  # selection bar: more target-like than raw parity

# bucket of one token: 60 unsigned bits of md5, masked to B buckets —
# the same two-engine-exact hex parse the Bloom filter uses.
_DSIR_BUCKET_SQL = f"{_HEX_A_SQL.format(fp='md5(w)')} % {DSIR_B}"


@register(
    "dsir_importance_weights",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(str_split(text, ' ')) AS w
      FROM documents WHERE text <> ''),
    b AS (
      SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS bucket FROM toks),
    s AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) + 1 AS qc,
             CAST(count(*) FILTER (WHERE lang = '{DSIR_TARGET_LANG}')
                  AS BIGINT) + 1 AS pc
      FROM b GROUP BY 1),
    t AS (SELECT CAST(sum(qc) AS BIGINT) AS qt, CAST(sum(pc) AS BIGINT) AS pt
          FROM s),
    r AS (SELECT bucket, 1000000 * pc * qt // (qc * pt) AS r_ppm FROM s, t),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nt,
             CAST(sum(r_ppm) AS BIGINT) AS sr
      FROM b JOIN r USING (bucket) GROUP BY 1)
    SELECT d.doc_id, d.lang,
           CAST(coalesce(nt, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(sr // nt, 0) AS BIGINT) AS dsir_weight_ppm,
           coalesce(sr // nt, 0) >= {DSIR_SELECT_PPM} AS selected
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", public): every raw
    document gets an importance weight from hashed-token bag-of-words
    models of the TARGET domain (here the corpus's `en` slice — the
    stand-in for "looks like Wikipedia") vs the RAW corpus. Each token
    hashes into one of B={DSIR_B} buckets; with add-1 smoothing,
    p_b / q_b is the target/raw likelihood ratio of bucket b, and a
    document's weight is the mean per-token ratio in integer ppm
    (linear-space mean rather than DSIR's log-space sum — the monotone
    integer-exact surrogate, same discipline as doc_tfidf_topk's
    integer relevance; no libm log whose last ulp differs across
    engines). `selected` marks documents above raw parity (ratio >= 1):
    the resampling keep-set.

    Scale shape: tokenize + md5-bucket is a pure map over the scan
    (B bounds the feature space however large the vocabulary — that is
    the point of DSIR's hashing); ONE <=B-row aggregation builds both
    models (count + filtered count per bucket, map-side partials — no
    separate target pass, no q-p join); the ratio table (B rows) and
    the 1-row totals are broadcast, so the ONLY corpus-scale exchange
    is the per-doc re-aggregation — empty docs come from a separate
    filter of the same scan and union in with literal verdicts, so no
    doc_id-keyed join back to the corpus ever happens.
    int64 bounds: the ppm product needs 1e6 * pc * qt < 2^63, i.e.
    corpus-token-count * hottest-bucket-count < 9.2e12 — past that,
    rescale both counts by 2^k before the ratio (documented, same
    convention as doc_bigram_lm_score). Empty docs get an explicit
    n_tokens=0, weight=0, selected=false verdict."""
    d = _t(spark, sf_dir, "documents")
    b = (
        d.filter(F.col("text") != "")
        .select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
        .select(
            "doc_id",
            "lang",
            (_hex_slice_col(F.md5("w"), 1) % DSIR_B).alias("bucket"),
        )
    )
    s = b.groupBy("bucket").agg(
        (F.count("*") + 1).alias("qc"),
        (F.count_if(F.col("lang") == DSIR_TARGET_LANG) + 1).alias("pc"),
    )
    t = s.agg(
        F.sum("qc").cast("long").alias("qt"), F.sum("pc").cast("long").alias("pt")
    )
    r = (
        s.crossJoin(F.broadcast(t))
        .select("bucket", F.expr("1000000 * pc * qt div (qc * pt)").alias("r_ppm"))
    )
    agg = (
        b.join(F.broadcast(r), "bucket")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").cast("long").alias("nt"), F.sum("r_ppm").alias("sr"))
    )
    w = F.expr("sr div nt")
    scored = agg.select(
        "doc_id",
        "lang",
        F.col("nt").alias("n_tokens"),
        w.alias("dsir_weight_ppm"),
        (w >= DSIR_SELECT_PPM).alias("selected"),
    )
    empty = d.filter(F.col("text") == "").select(
        "doc_id",
        "lang",
        F.lit(0).cast("long").alias("n_tokens"),
        F.lit(0).cast("long").alias("dsir_weight_ppm"),
        F.lit(False).alias("selected"),
    )
    return scored.unionByName(empty)


# ---------------------------------------------------------------------------
# recrawl scheduling from capture-to-capture change rates
# ---------------------------------------------------------------------------

RECRAWL_CAPTURES = 2  # adjacent doc_ids fold into one url's capture history
RECRAWL_HOT_PPM = 500_000  # >= half the observed intervals changed


@register(
    "recrawl_schedule",
    f"""
    WITH caps AS (
      SELECT doc_id // {RECRAWL_CAPTURES} AS url_key, {FP_MD5_SQL} AS fp
      FROM documents),
    agg AS (
      SELECT url_key,
             CAST(count(*) AS BIGINT) AS n_captures,
             CAST(count(DISTINCT fp) AS BIGINT) AS n_versions
      FROM caps GROUP BY 1)
    SELECT url_key, n_captures, n_versions,
           1000000 * (n_versions - 1) // greatest(n_captures - 1, 1)
             AS change_rate_ppm,
           CASE WHEN 1000000 * (n_versions - 1) // greatest(n_captures - 1, 1)
                     >= {RECRAWL_HOT_PPM} THEN 'hot'
                WHEN n_versions > 1 THEN 'warm'
                ELSE 'frozen' END AS recrawl_tier
    FROM agg
    """,
)
def recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl-frequency estimation (Cho & Garcia-Molina 2003, "Effective
    page refresh policies for web crawlers", public): each url's capture
    history — here the deterministic fold of {RECRAWL_CAPTURES} adjacent
    doc_ids into one url, the small-scale stand-in for a CDX capture
    index — yields an observed change rate: distinct content
    fingerprints per fetch interval, in integer ppm. The scheduler reads
    the tier: `hot` urls (changed at least every other fetch) get
    short revisit intervals, `warm` changed at least once, `frozen`
    never changed and decays to the longest interval. The classic
    freshness-vs-politeness knob a production crawler runs over its
    whole capture index.

    Scale shape: fingerprint is a pure map over the scan; one
    url_key-keyed aggregation with map-side partials — the version
    count is size(collect_set(fp)), NOT count(DISTINCT fp): the set is
    bounded by {RECRAWL_CAPTURES} elements per key, so it partial-
    aggregates map-side in ONE keyed exchange where the DISTINCT
    rewrite would plan a second (url_key, fp)-keyed exchange; the tier
    is a JVM CASE over the aggregate. One shuffle total, no join, no
    window."""
    d = _t(spark, sf_dir, "documents")
    caps = d.select(
        F.expr(f"doc_id div {RECRAWL_CAPTURES}").alias("url_key"),
        fp_md5_col(F.col("text")).alias("fp"),
    )
    agg = caps.groupBy("url_key").agg(
        F.count("*").cast("long").alias("n_captures"),
        F.size(F.collect_set("fp")).cast("long").alias("n_versions"),
    )
    rate = F.expr("1000000 * (n_versions - 1) div greatest(n_captures - 1, 1)")
    return agg.select(
        "url_key",
        "n_captures",
        "n_versions",
        rate.alias("change_rate_ppm"),
        F.when(rate >= RECRAWL_HOT_PPM, "hot")
        .when(F.col("n_versions") > 1, "warm")
        .otherwise("frozen")
        .alias("recrawl_tier"),
    )


# ---------------------------------------------------------------------------
# training-shard manifest (the write-path balance report)
# ---------------------------------------------------------------------------

N_SHARDS = 64  # output shards a training run streams in parallel


@register(
    "training_shard_manifest",
    f"""
    WITH caps AS (
      SELECT {_HEX_A_SQL.format(fp=FP_MD5_SQL)} % {N_SHARDS} AS shard_id,
             CASE WHEN text = '' THEN 0
                  ELSE len(str_split(text, ' ')) END AS n,
             length(text) AS nb
      FROM documents),
    agg AS (
      SELECT shard_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(sum(nb) AS BIGINT) AS n_bytes
      FROM caps GROUP BY 1)
    SELECT shard_id, n_docs, n_tokens, n_bytes,
           CAST(n_tokens * 1000000 // greatest(sum(n_tokens) OVER (), 1)
                AS BIGINT) AS token_share_ppm,
           CAST(abs(n_tokens * {N_SHARDS} * 1000000
                    // greatest(sum(n_tokens) OVER (), 1) - 1000000)
                AS BIGINT) AS imbalance_ppm
    FROM agg
    """,
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-path manifest: every document is assigned to one of
    {N_SHARDS} output shards by CONTENT fingerprint (60 unsigned md5
    bits, mod shards — stable across reruns and re-partitions, so a
    resumed writer re-creates byte-identical shards), and the manifest
    reports per-shard doc/token/byte totals plus balance: token share
    in ppm and the deviation from the ideal 1/shards split
    (imbalance_ppm = |share * shards - 1| in ppm). A training loader
    consumes exactly this table to stripe shards over data-parallel
    readers; the imbalance column is the alarm that a shard function
    went skewed.

    Scale shape: shard assignment is a pure map over the scan; one
    {N_SHARDS}-group aggregation with map-side partials; share math is
    windows over the {N_SHARDS}-row table only. At 10^12 docs the md5
    shard key is uniform by construction — expected imbalance is
    O(1/sqrt(docs per shard)) ppm, and the manifest proves it."""
    d = _t(spark, sf_dir, "documents")
    n = F.when(F.col("text") == "", 0).otherwise(F.size(F.split(F.col("text"), " ")))
    caps = d.select(
        (_hex_slice_col(fp_md5_col(F.col("text")), 1) % N_SHARDS).alias("shard_id"),
        n.cast("long").alias("n"),
        F.length("text").cast("long").alias("nb"),
    )
    agg = caps.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.sum("nb").cast("long").alias("n_bytes"),
    )
    w_all = Window.partitionBy(F.col("shard_id") % 1)  # tiny-table idiom
    return agg.select(
        "shard_id",
        "n_docs",
        "n_tokens",
        "n_bytes",
        F.expr("n_tokens * 1000000").alias("_t6"),
        F.expr(f"n_tokens * {N_SHARDS} * 1000000").alias("_ts6"),
        F.greatest(F.sum("n_tokens").over(w_all), F.lit(1)).alias("_tt"),
    ).select(
        "shard_id",
        "n_docs",
        "n_tokens",
        "n_bytes",
        F.expr("_t6 div _tt").alias("token_share_ppm"),
        F.abs(F.expr("_ts6 div _tt") - 1_000_000).cast("long").alias("imbalance_ppm"),
    )


# ---------------------------------------------------------------------------
# measured eval contamination (n-gram overlap ratio)
# ---------------------------------------------------------------------------

# corpus_decontamination / decontaminate_bloom answer the BINARY
# question (is the doc's fingerprint in the eval set); this measures
# HOW contaminated: the fraction of a training doc's token n-grams that
# also occur anywhere in the held-out eval slice — the GPT-3
# appendix-C / Dolma "dirty token" ratio. Real pipelines use 8-13-gram
# windows against natural text; this corpus's generator vocabulary is
# ~30 words, so 3-grams are the statistically equivalent grain (13-gram
# collisions would be identically zero and measure nothing).
CONTAM_K = 3
CONTAM_PPM = 150_000  # docs with >15% overlapping n-grams are dirty


@register(
    "eval_ngram_overlap",
    f"""
    WITH docs AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= {CONTAM_K}
               THEN list_transform(range(0, len(toks) - {CONTAM_K} + 1),
                    i -> array_to_string(toks[i + 1 : i + {CONTAM_K}], ' '))
               ELSE CAST([] AS VARCHAR[]) END AS sh
      FROM docs),
    eval_set AS (
      SELECT DISTINCT unnest(sh) AS shingle FROM g
      WHERE doc_id % {EVAL_MOD} = {EVAL_REM}),
    train AS (
      SELECT doc_id, unnest(sh) AS shingle FROM g
      WHERE doc_id % {EVAL_MOD} <> {EVAL_REM}),
    tot AS (
      SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_grams FROM g
      WHERE doc_id % {EVAL_MOD} <> {EVAL_REM}),
    m AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS matched
      FROM train t JOIN eval_set e USING (shingle) GROUP BY 1)
    SELECT tot.doc_id, n_grams,
           CAST(coalesce(matched, 0) AS BIGINT) AS matched,
           CAST(coalesce(matched, 0) * 1000000 // greatest(n_grams, 1)
                AS BIGINT) AS overlap_ppm,
           CAST(CASE WHEN coalesce(matched, 0) * 1000000
                          // greatest(n_grams, 1) >= {CONTAM_PPM}
                THEN 1 ELSE 0 END AS INT) AS contaminated
    FROM tot LEFT JOIN m USING (doc_id)
    """,
)
def eval_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured benchmark contamination: for every training document,
    the ppm of its token {CONTAM_K}-grams that occur anywhere in the
    held-out eval slice (doc_id % {EVAL_MOD} == {EVAL_REM}), plus the
    dirty flag at {CONTAM_PPM} ppm. Counts are per n-gram INSTANCE
    (positions), matching the dirty-token accounting real
    decontamination reports use.

    Scale shape: n-grams are built map-side from the scan; the only
    corpus-scale exchanges are the shingle-keyed equi-join against the
    eval n-gram set (uniform md5-grade keys — synthetic-text shingles
    have no Zipf head here; a real corpus would reuse the stop-shingle
    cut dedup_ngram_jaccard applies) and the per-doc rollup. The
    zero-match left join is keyed on doc_id. Nothing is collected; the
    eval side stays distributed (real eval sets are tiny and would
    broadcast, but the shape must survive an eval slice of any size)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    g = d.select(
        "doc_id",
        F.when(
            F.size(toks) >= CONTAM_K,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - CONTAM_K),
                lambda i: F.array_join(F.slice(toks, i + 1, CONTAM_K), " "),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("sh"),
    )
    is_eval = F.col("doc_id") % EVAL_MOD == EVAL_REM
    eval_set = (
        g.filter(is_eval)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    train = g.filter(~is_eval)
    matches = (
        train.select("doc_id", F.explode("sh").alias("shingle"))
        .join(eval_set, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("matched"))
    )
    tot = train.select("doc_id", F.size("sh").cast("long").alias("n_grams"))
    joined = tot.join(matches, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("matched"), F.lit(0)).cast("long").alias("matched"),
        F.greatest(F.col("n_grams"), F.lit(1)).alias("_den"),
    )
    ppm = F.expr("matched * 1000000 div _den")
    return joined.select(
        "doc_id",
        "n_grams",
        "matched",
        ppm.cast("long").alias("overlap_ppm"),
        F.when(ppm >= CONTAM_PPM, 1).otherwise(0).cast("int").alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# crawler-trap detection (URL template mining)
# ---------------------------------------------------------------------------

# Crawlers (Heritrix's PathologicalPath rule, StormCrawler's URL
# filters) detect traps by collapsing URLs to digit-masked path
# templates and flagging templates that explode in URL count while the
# content behind them barely varies (session ids, calendar archives,
# faceted navigation). The URL lab here is synthesized closed-form from
# doc_id — five path shapes, one of which (the session-id shape) emits
# three URL variants per document with IDENTICAL content — so both
# engines rebuild the same crawl frontier without any fixture file.
TRAP_HOSTS = 13
TRAP_MIN_URLS = 12  # templates below this never flag (cold templates)
TRAP_MAX_CONTENT_PPM = 400_000  # <=40% unique content behind the template

_TRAP_URL_SQL = f"""
    'https://h' || lpad(CAST(doc_id % {TRAP_HOSTS} AS VARCHAR), 2, '0')
    || '.example.com' ||
    CASE doc_id % 5
      WHEN 0 THEN '/2024/' || CAST(1 + doc_id % 12 AS VARCHAR) || '/'
                  || CAST(doc_id AS VARCHAR) || '/index.html'
      WHEN 1 THEN '/product/' || CAST(doc_id AS VARCHAR) || '?session='
                  || CAST((doc_id * 7919 + v * 131) % 100000 AS VARCHAR)
      WHEN 2 THEN '/tag/t' || CAST(doc_id % 7 AS VARCHAR) || '/page/'
                  || CAST(doc_id % 500 AS VARCHAR)
      WHEN 3 THEN '/article/' || CAST(doc_id AS VARCHAR) || '.html'
      ELSE '/search?q=w' || CAST(doc_id % 11 AS VARCHAR) || '&sort='
                  || CAST(doc_id % 3 AS VARCHAR)
    END"""


@register(
    "url_template_traps",
    f"""
    WITH variants AS (
      SELECT doc_id, text, unnest(CASE WHEN doc_id % 5 = 1
               THEN [0, 1, 2] ELSE [0] END) AS v
      FROM documents),
    urls AS (
      SELECT doc_id, {_TRAP_URL_SQL} AS url, {FP_MD5_SQL} AS fp
      FROM variants),
    keyed AS (
      SELECT regexp_extract(url, '^https://([^/]+)', 1) AS host,
             regexp_replace(regexp_extract(url, '^https://[^/]+(.*)$', 1),
                            '[0-9]+', '<D>', 'g') AS template,
             fp
      FROM urls),
    per_fp AS (
      SELECT host, template, fp, count(*) AS n
      FROM keyed GROUP BY 1, 2, 3),
    agg AS (
      SELECT host, template,
             CAST(sum(n) AS BIGINT) AS n_urls,
             CAST(count(*) AS BIGINT) AS n_contents
      FROM per_fp GROUP BY 1, 2)
    SELECT host, template, n_urls, n_contents,
           CAST(n_contents * 1000000 // n_urls AS BIGINT) AS content_ppm,
           CAST(CASE WHEN n_urls >= {TRAP_MIN_URLS}
                      AND n_contents * 1000000 // n_urls
                          <= {TRAP_MAX_CONTENT_PPM}
                THEN 1 ELSE 0 END AS INT) AS is_trap
    FROM agg
    """,
)
def url_template_traps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap detection by URL template mining: URLs collapse to
    digit-masked path templates per host; a template is a trap when it
    accumulates many URLs ({TRAP_MIN_URLS}+) whose content is mostly
    duplicated (unique-content ratio <= {TRAP_MAX_CONTENT_PPM} ppm) —
    the session-id/calendar/faceted-nav signature. The synthetic URL
    lab plants exactly one trap shape (three session-id URL variants
    per doc, identical content), so the flag provably separates it from
    the four honest shapes.

    Scale shape: template masking is a pure map; uniqueness counting is
    the two-level exact-distinct — groupBy (host, template, fp) with
    map-side partials, then (host, template) — so no count(DISTINCT)
    double-exchange and no per-template collect; both exchanges key on
    (host, template[, fp]), which spreads a trap template's millions of
    URLs by fingerprint first. Output is one row per (host, template):
    bounded by the crawl's template diversity, not its URL count."""
    d = _t(spark, sf_dir, "documents")
    variants = d.select(
        "doc_id",
        "text",
        F.explode(
            F.when(
                F.col("doc_id") % 5 == 1, F.array(F.lit(0), F.lit(1), F.lit(2))
            ).otherwise(F.array(F.lit(0)))
        ).alias("v"),
    )
    host = F.concat(
        F.lit("h"), F.lpad((F.col("doc_id") % TRAP_HOSTS).cast("string"), 2, "0"),
        F.lit(".example.com"),
    )
    did = F.col("doc_id").cast("string")
    path = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("/2024/"), (1 + F.col("doc_id") % 12).cast("string"),
                F.lit("/"), did, F.lit("/index.html"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(
                F.lit("/product/"), did, F.lit("?session="),
                ((F.col("doc_id") * 7919 + F.col("v") * 131) % 100000).cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(
                F.lit("/tag/t"), (F.col("doc_id") % 7).cast("string"),
                F.lit("/page/"), (F.col("doc_id") % 500).cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("/article/"), did, F.lit(".html")),
        )
        .otherwise(
            F.concat(
                F.lit("/search?q=w"), (F.col("doc_id") % 11).cast("string"),
                F.lit("&sort="), (F.col("doc_id") % 3).cast("string"),
            )
        )
    )
    keyed = variants.select(
        host.alias("host"),
        F.regexp_replace(path, "[0-9]+", "<D>").alias("template"),
        fp_md5_col(F.col("text")).alias("fp"),
    )
    agg = (
        keyed.groupBy("host", "template", "fp")
        .agg(F.count("*").alias("n"))
        .groupBy("host", "template")
        .agg(
            F.sum("n").cast("long").alias("n_urls"),
            F.count("*").cast("long").alias("n_contents"),
        )
    )
    ratio = F.expr("n_contents * 1000000 div n_urls")
    return agg.select(
        "host",
        "template",
        "n_urls",
        "n_contents",
        ratio.cast("long").alias("content_ppm"),
        F.when(
            (F.col("n_urls") >= TRAP_MIN_URLS) & (ratio <= TRAP_MAX_CONTENT_PPM), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("is_trap"),
    )


# ---------------------------------------------------------------------------
# tokenizer training prep: BPE pair statistics and learned merges
# ---------------------------------------------------------------------------

# The corpus-side half of BPE tokenizer training (Sennrich et al. 2016;
# the GPT-2/SentencePiece preprocessing shape): adjacent-symbol pair
# frequencies over the word-frequency table, and the first BPE_MERGES
# greedy merges learned exactly. Words — not raw text — are the unit:
# the word-frequency aggregation collapses the corpus to its vocabulary
# once, and every BPE iteration is an aggregation over that bounded
# table, never a corpus rescan.
BPE_TOP_PAIRS = 50
BPE_MERGES = 3

# Symbol representation for the merge iterations: every symbol boundary
# carries a DOUBLED \x01 delimiter ("\x01\x01a\x01\x01b\x01\x01"), and a
# merge of (l, r) string-replaces "\x01l\x01\x01r\x01" with
# "\x01lr\x01". Single delimiters would break on adjacent occurrences:
# replace() scans left to right without overlap, so with "a a a a" and
# single separators the second "a a" straddles a consumed space and is
# missed — doubling gives each occurrence its own boundary chars, which
# makes non-overlapping replace EXACTLY greedy left-to-right BPE (both
# engines' replace() scans identically; verified in tests). The outer
# single \x01 on each side of the pattern also pins l and r to full
# symbols ("\x01h\x01\x01e\x01" cannot match inside "...\x01th\x01\x01e…"
# because the char before "h" there is "t", not a delimiter).
_BPE_S = "\x01"
_BPE_D = _BPE_S * 2

_BPE_WORDS_CTE = f"""words AS (
      SELECT term, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(str_split(text, ' ')) AS term
            FROM documents WHERE text <> '')
      WHERE term <> '' AND NOT contains(term, '{_BPE_S}')
      GROUP BY term)"""


@register(
    "bpe_pair_counts",
    f"""
    WITH {_BPE_WORDS_CTE},
    pairs AS (
      SELECT substr(term, CAST(i AS INT), 1) AS left_sym,
             substr(term, CAST(i AS INT) + 1, 1) AS right_sym,
             CAST(sum(freq) AS BIGINT) AS pair_count
      FROM words, unnest(range(1, len(term))) AS r(i)
      GROUP BY 1, 2)
    SELECT left_sym, right_sym, pair_count, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY pair_count DESC,
                                       left_sym, right_sym) AS rank
          FROM pairs)
    WHERE rank <= {BPE_TOP_PAIRS}
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iteration-0 BPE statistics: frequency of every adjacent character
    pair, weighted by word frequency — the table the first merge is read
    from, and the tokenizer-training analogue of corpus_vocabulary.

    Scale shape: the corpus collapses to the word-frequency table in one
    map-side-combinable aggregation (vocabulary-bounded output); the
    pair explode then runs over VOCABULARY rows, not corpus rows, and
    re-aggregates into an alphabet^2-bounded table. The top-50 rank uses
    the constant-non-foldable window key so Spark plans a per-partition
    WindowGroupLimit before the single-partition exchange (the
    corpus_vocabulary discipline — a bare global orderBy would sort
    every pair in one task)."""
    words = _bpe_words(spark, sf_dir)
    pairs = (
        words.filter(F.length("term") >= 2)
        .select(
            "term",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("term") - 1)).alias("i"),
        )
        .select(
            F.expr("substring(term, i, 1)").alias("left_sym"),
            F.expr("substring(term, i + 1, 1)").alias("right_sym"),
            "freq",
        )
        .groupBy("left_sym", "right_sym")
        .agg(F.sum("freq").cast("long").alias("pair_count"))
    )
    w = Window.partitionBy(F.col("pair_count") % 1).orderBy(
        F.col("pair_count").desc(), "left_sym", "right_sym"
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BPE_TOP_PAIRS)
        .select("left_sym", "right_sym", "pair_count", "rank")
    )


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-frequency table (term, freq) — the bounded working set every
    BPE stage aggregates over. Words containing the \\x01 delimiter are
    dropped on BOTH sides (hostile bytes must not alias a symbol
    boundary)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.col("text") != "")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .filter((F.col("term") != "") & (~F.col("term").contains(_BPE_S)))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )


def _bpe_pairs_from_rep(reps: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts from the delimited representation.
    split(rep, \\x01\\x01) yields ['', s1, ..., sn, ''] so symbol i sits
    at 1-based position i+1; pairs exist only when n >= 2 (size >= 4)."""
    tk = F.split(F.col("rep"), _BPE_D)
    return (
        reps.select("freq", tk.alias("tk"))
        .filter(F.size("tk") >= 4)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(tk) - 2), i -> "
                    "struct(element_at(tk, i) AS left_sym, "
                    "element_at(tk, i + 1) AS right_sym))"
                )
            ).alias("p"),
        )
        .select("p.left_sym", "p.right_sym", "freq")
        .groupBy("left_sym", "right_sym")
        .agg(F.sum("freq").cast("long").alias("pair_count"))
    )


def _bpe_merge_ctes() -> str:
    """The shared WITH prefix learning the BPE_MERGES merges: words,
    rep0, then per-iteration pair counts (p{i}) and the 1-row argmax
    (m{i}). Both the learn oracle and the encode oracle splice this in,
    so the two queries read the exact same merge table."""
    d, s = _BPE_D, _BPE_S
    sql = f"""
    WITH {_BPE_WORDS_CTE},
    rep0 AS (
      SELECT freq,
             '{d}' || array_to_string(str_split(term, ''), '{d}') || '{d}' AS rep
      FROM words)"""
    for it in range(1, BPE_MERGES + 1):
        prev = f"rep{it - 1}"
        sql += f""",
    p{it} AS (
      SELECT tk[CAST(i AS INT)] AS left_sym,
             tk[CAST(i AS INT) + 1] AS right_sym,
             CAST(sum(freq) AS BIGINT) AS pair_count
      FROM (SELECT freq, str_split(rep, '{d}') AS tk FROM {prev}),
           unnest(range(2, len(tk) - 1)) AS r(i)
      GROUP BY 1, 2),
    m{it} AS (
      SELECT left_sym, right_sym, pair_count FROM p{it}
      ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1)"""
        if it < BPE_MERGES:
            sql += f""",
    rep{it} AS (
      SELECT freq,
             replace(rep, '{s}' || left_sym || '{d}' || right_sym || '{s}',
                          '{s}' || left_sym || right_sym || '{s}') AS rep
      FROM {prev}, m{it})"""
    return sql


def _bpe_oracle() -> str:
    union = "\n    UNION ALL ".join(
        f"SELECT {it} AS iteration, left_sym, right_sym, pair_count FROM m{it}"
        for it in range(1, BPE_MERGES + 1)
    )
    return _bpe_merge_ctes() + "\n    " + union


@register("bpe_learn_merges", _bpe_oracle())
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE_MERGES greedy BPE merges, learned exactly: each
    iteration counts adjacent-symbol pairs over the word-frequency
    table, takes the global argmax (ties: count desc, then left/right
    symbol), and applies it via the doubled-delimiter string replace —
    provably equal to greedy left-to-right pair merging (see _BPE_D).

    Scale shape: the corpus is touched ONCE (the word-frequency
    aggregation, persisted — vocabulary-bounded); every iteration after
    that is a pair aggregation over vocabulary rows with map-side
    combine, a 1-row argmax via the WindowGroupLimit constant-key idiom,
    and a 1-row broadcast joined back to apply the merge (whitelisted in
    the plan audit — the same unrolled-iteration shape as
    ann_topk_ivf_lloyd). Output: (iteration, left_sym, right_sym,
    pair_count), one row per learned merge."""
    from pyspark import StorageLevel

    reps = (
        _bpe_words(spark, sf_dir)
        .select(
            "freq",
            F.concat(
                F.lit(_BPE_D),
                F.array_join(F.split("term", ""), _BPE_D),
                F.lit(_BPE_D),
            ).alias("rep"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    merges: DataFrame | None = None
    for it in range(1, BPE_MERGES + 1):
        pairs = _bpe_pairs_from_rep(reps)
        w = Window.partitionBy(F.col("pair_count") % 1).orderBy(
            F.col("pair_count").desc(), "left_sym", "right_sym"
        )
        top = (
            pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") == 1)
            .select("left_sym", "right_sym", "pair_count")
        )
        row = top.select(
            F.lit(it).alias("iteration"), "left_sym", "right_sym", "pair_count"
        )
        merges = row if merges is None else merges.unionByName(row)
        if it < BPE_MERGES:
            reps = (
                reps.crossJoin(F.broadcast(top))
                .withColumn(
                    "rep",
                    F.replace(
                        F.col("rep"),
                        F.concat(
                            F.lit(_BPE_S),
                            F.col("left_sym"),
                            F.lit(_BPE_D),
                            F.col("right_sym"),
                            F.lit(_BPE_S),
                        ),
                        F.concat(
                            F.lit(_BPE_S),
                            F.col("left_sym"),
                            F.col("right_sym"),
                            F.lit(_BPE_S),
                        ),
                    ),
                )
                .select("freq", "rep")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
    assert merges is not None
    return merges


# ---------------------------------------------------------------------------
# canonical-document selection over near-dup clusters
# ---------------------------------------------------------------------------


@register(
    "dedup_canonical_selection",
    f"""
    WITH comp AS ({{dedup_clusters_oracle}}),
    scored AS (
      SELECT c.node, c.component,
             CASE WHEN d.text = '' THEN CAST(0 AS BIGINT)
                  ELSE {_QC_SCORE_SQL} END AS score_ppm
      FROM comp c JOIN documents d ON d.doc_id = c.node),
    ranked AS (
      SELECT node, component, score_ppm,
             CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
               AS n_members,
             row_number() OVER (PARTITION BY component
                                ORDER BY score_ppm DESC, node) AS rk
      FROM scored)
    SELECT node AS doc_id, component, score_ppm, n_members,
           (rk = 1) AS is_canonical
    FROM ranked
    """,
)
def dedup_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: within each near-dup cluster
    (dedup_clusters' n-gram-Jaccard components), keep the member with
    the best hashed-linear quality score (ties: lowest doc_id) — the
    step every production dedup pipeline runs AFTER clustering, since
    dropping all-but-first by doc_id discards the best-written copy.

    Scale shape: cluster membership comes from the capped shingle
    equi-join + min-label propagation (dedup_clusters); the quality
    score is a narrow JVM map (no shuffle); the only new exchange keys
    on `component`, whose groups are near-dup clusters — small by
    construction (the max_df=30 stop-shingle cut bounds candidate
    fanout), so the per-cluster window never sees a skewed partition."""
    from .text_queries import dedup_clusters

    clusters = dedup_clusters(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node"), "text"
    )
    score = F.when(F.col("text") == "", F.lit(0).cast("long")).otherwise(
        _qc_score_col(F.split(F.col("text"), " "))
    )
    scored = clusters.join(d, "node").select(
        "node", "component", score.alias("score_ppm")
    )
    w_rank = Window.partitionBy("component").orderBy(
        F.col("score_ppm").desc(), "node"
    )
    w_all = Window.partitionBy("component")
    return scored.select(
        F.col("node").alias("doc_id"),
        "component",
        "score_ppm",
        F.count("*").over(w_all).cast("long").alias("n_members"),
        (F.row_number().over(w_rank) == 1).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# per-source quality-quantile calibration (FineWeb-style percentile cut)
# ---------------------------------------------------------------------------

# "Drop the bottom 40% of each source by classifier score" is how
# production curation calibrates a quality filter per source (FineWeb's
# per-dump percentile thresholds) — a fixed global threshold would let
# a clean source dominate and gut a noisy one. The per-source score
# quantile is computed at HISTOGRAM grain, never by ranking documents:
# scores are bucketed, and the threshold is the largest bucket whose
# cumulative count stays within the drop target, so the cut lands on a
# bucket boundary (achieved <= target, undershoot bounded by one
# bucket's population — both published per row).
QCUT_SHIFT = 1 << 40  # score_ppm offset; covers |score| up to ~1e6-token docs
QCUT_STEP = 1 << 20  # bucket width in score ppm (~1 token-weight unit)
QCUT_DROP_NUM, QCUT_DROP_DEN = 2, 5  # drop the bottom 2/5 per source

_QCUT_TARGET = f"(n_docs * {QCUT_DROP_NUM}) div {QCUT_DROP_DEN}"


@register(
    "source_quality_quantile_cut",
    f"""
    WITH scored AS (
      SELECT source,
             (CASE WHEN text = '' THEN CAST(0 AS BIGINT)
                   ELSE {_QC_SCORE_SQL} END + {QCUT_SHIFT}) // {QCUT_STEP}
               AS qb
      FROM documents),
    hb AS (
      SELECT source, qb, CAST(count(*) AS BIGINT) AS c
      FROM scored GROUP BY 1, 2),
    cc AS (
      SELECT source, qb, c,
             CAST(sum(c) OVER (PARTITION BY source ORDER BY qb) AS BIGINT)
               AS cum,
             CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n_docs
      FROM hb),
    cut AS (
      SELECT source, max(n_docs) AS n_docs,
             coalesce(max(CASE WHEN cum <= (n_docs * {QCUT_DROP_NUM}) // {QCUT_DROP_DEN}
                               THEN qb END), -1) AS cutoff_bucket,
             coalesce(max(CASE WHEN cum <= (n_docs * {QCUT_DROP_NUM}) // {QCUT_DROP_DEN}
                               THEN cum END), 0) AS dropped
      FROM cc GROUP BY source)
    SELECT source, n_docs,
           (n_docs * {QCUT_DROP_NUM}) // {QCUT_DROP_DEN} AS drop_target,
           cutoff_bucket, dropped,
           n_docs - dropped AS kept,
           dropped * 1000000 // n_docs AS dropped_ppm,
           (n_docs * {QCUT_DROP_NUM}) // {QCUT_DROP_DEN} - dropped AS undershoot
    FROM cut
    """,
)
def source_quality_quantile_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-percentile calibration: for each source,
    find the hashed-linear classifier-score threshold (bucket grain)
    that drops the bottom QCUT_DROP_NUM/QCUT_DROP_DEN of its documents
    — the per-source percentile cut FineWeb-style pipelines use instead
    of one global threshold. The published row is the calibration
    table a filter stage would broadcast: cutoff bucket, target vs
    achieved drop count (achieved <= target always — the cut never
    overshoots because it stops at the last whole bucket inside the
    budget), and the undershoot the bucket grain cost.

    Scale shape at 10^12 rows: scoring + bucketing is a narrow JVM map
    (doc_quality_classifier's exact integer score, shifted
    non-negative so floor/trunc div agree); ONE map-side-combinable
    groupBy(source, bucket) reduces the corpus to a
    |sources| x |buckets| table, and every window after it partitions
    by source over that bounded table — per-source document RANKING
    never happens, which is what makes a percentile cut feasible where
    a row_number() over 5e10-doc source partitions would be one-task
    death (the crawl_frontier_slots lesson applied to quantiles)."""
    d = _t(spark, sf_dir, "documents")
    score = F.when(F.col("text") == "", F.lit(0).cast("long")).otherwise(
        _qc_score_col(F.split(F.col("text"), " "))
    )
    scored = d.select("source", score.alias("s")).select(
        "source", F.expr(f"(s + {QCUT_SHIFT}) div {QCUT_STEP}").alias("qb")
    )
    hb = scored.groupBy("source", "qb").agg(F.count("*").alias("c"))
    w_cum = (
        Window.partitionBy("source")
        .orderBy("qb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    cc = hb.select(
        "source",
        "qb",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("n_docs"),
    )
    in_budget = F.expr(f"cum <= {_QCUT_TARGET}")
    cut = cc.groupBy("source").agg(
        F.max("n_docs").alias("n_docs"),
        F.coalesce(F.max(F.when(in_budget, F.col("qb"))), F.lit(-1))
        .cast("long")
        .alias("cutoff_bucket"),
        F.coalesce(F.max(F.when(in_budget, F.col("cum"))), F.lit(0))
        .cast("long")
        .alias("dropped"),
    )
    return cut.select(
        "source",
        "n_docs",
        F.expr(_QCUT_TARGET).alias("drop_target"),
        "cutoff_bucket",
        "dropped",
        (F.col("n_docs") - F.col("dropped")).alias("kept"),
        F.expr("dropped * 1000000 div n_docs").alias("dropped_ppm"),
        (F.expr(_QCUT_TARGET) - F.col("dropped")).alias("undershoot"),
    )


# ---------------------------------------------------------------------------
# soft dedup: reweight duplicates instead of dropping them
# ---------------------------------------------------------------------------


@register(
    "dedup_soft_weights",
    f"""
    WITH fp AS (
      SELECT doc_id, {FP_MD5_SQL} AS fp FROM documents WHERE text <> ''),
    cs AS (
      SELECT fp, CAST(count(*) AS BIGINT) AS cluster_size,
             min(doc_id) AS rep
      FROM fp GROUP BY fp)
    SELECT f.doc_id, c.cluster_size,
           1000000 // c.cluster_size AS weight_ppm,
           f.doc_id = c.rep AS is_representative
    FROM fp f JOIN cs c USING (fp)
    """,
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication (the SoftDedup / "dedup by reweighting"
    policy): instead of DROPPING all-but-one copy of each exact-dup
    cluster, every document stays in the corpus with sampling weight
    1/cluster_size (integer ppm), so each distinct text contributes
    total weight 1 to the training mixture and the effective corpus
    size is the number of clusters. Production pipelines use this
    where hard dedup loses signal (high-quality boilerplate, repeated
    reference pages); the per-doc weight feeds the same sampler as
    lang_alpha_sampling. The min-doc_id representative flag is the
    cheap exact-cluster canonical (identical text, so quality ranking
    — dedup_canonical_selection's job for NEAR-dups — is moot).

    Scale shape: one fingerprint-keyed agg + one fingerprint-keyed
    join back — both sides hash-partition on the same uniform md5 key
    (no skew by construction), and against a fingerprint-bucketed
    corpus table both co-locate shuffle-free. No windows, no
    driver-side state."""
    d = _td(spark, sf_dir).filter(F.col("text") != "")
    fp = d.select("doc_id", fp_md5_col(F.col("text")).alias("fp"))
    cs = fp.groupBy("fp").agg(
        F.count("*").alias("cluster_size"), F.min("doc_id").alias("rep")
    )
    return fp.join(cs, "fp").select(
        "doc_id",
        "cluster_size",
        F.expr("1000000 div cluster_size").alias("weight_ppm"),
        (F.col("doc_id") == F.col("rep")).alias("is_representative"),
    )


# ---------------------------------------------------------------------------
# tokenizer training prep, part 2: alphabet coverage and encoded lengths
# ---------------------------------------------------------------------------

# SentencePiece-style character coverage: keep the smallest
# frequency-ranked character prefix covering >= 0.9995 of corpus
# character occurrences (the default character_coverage). Expressed as
# the reduced fraction 1999/2000 so the keep test is pure int64 —
# cum_prev/total < 0.9995  <=>  cum_prev * 2000 < 1999 * total — and the
# multiplier 2000 keeps the product inside int64 up to ~4.6e15 corpus
# characters (a ppm-scaled comparison would overflow 1000x sooner).
CHAR_COVERAGE_NUM = 1999
CHAR_COVERAGE_DEN = 2000


@register(
    "char_coverage_alphabet",
    f"""
    WITH {_BPE_WORDS_CTE},
    chars AS (
      SELECT ch, CAST(sum(freq) AS BIGINT) AS char_count
      FROM (SELECT unnest(str_split(term, '')) AS ch, freq FROM words)
      WHERE ch <> '' GROUP BY ch),
    ranked AS (
      SELECT ch, char_count,
             CAST(row_number() OVER (ORDER BY char_count DESC, ch) AS INT)
               AS rank,
             CAST(sum(char_count) OVER (ORDER BY char_count DESC, ch
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_count,
             CAST(sum(char_count) OVER () AS BIGINT) AS total_count
      FROM chars)
    SELECT ch, char_count, rank, cum_count, total_count,
           ((cum_count - char_count) * {CHAR_COVERAGE_DEN}
              < {CHAR_COVERAGE_NUM} * total_count) AS kept
    FROM ranked
    """,
)
def char_coverage_alphabet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alphabet selection for tokenizer training (the character_coverage
    stage of SentencePiece/BPE prep): per-character corpus frequencies
    weighted by word frequency, ranked descending, and the minimal
    prefix covering CHAR_COVERAGE_NUM/DEN of all character occurrences
    marked kept — everything outside it becomes the UNK byte-fallback
    tail. A character is kept iff the cumulative count BEFORE it is
    still short of the coverage bar, so the boundary character itself
    is always kept.

    Scale shape: the corpus collapses to the word-frequency table in
    one map-side-combinable aggregation (the same _bpe_words collapse
    the BPE queries use); the char explode runs over VOCABULARY rows
    and re-aggregates into an alphabet-bounded table. The rank /
    prefix-sum / total windows are global but run over that bounded
    alphabet table — the doc_quality_tiers discipline (prefix sums on
    a bounded domain, never a corpus sort). Characters are JVM string
    code units on the Spark side and code points in DuckDB; identical
    over BMP text, and the \\x01 delimiter guard upstream already drops
    hostile words. At test scale the 24-letter synthetic alphabet has
    no sub-coverage tail (every char clears the 0.9995 bar); the
    kept=False boundary is exercised by the unit test's Zipf alphabet."""
    words = _bpe_words(spark, sf_dir)
    chars = (
        words.select(F.explode(F.split("term", "")).alias("ch"), "freq")
        .filter(F.col("ch") != "")
        .groupBy("ch")
        .agg(F.sum("freq").cast("long").alias("char_count"))
    )
    part = F.col("char_count") % 1  # non-foldable constant partition key
    w_ord = Window.partitionBy(part).orderBy(F.col("char_count").desc(), "ch")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(part)
    ranked = chars.select(
        "ch",
        "char_count",
        F.row_number().over(w_ord).cast("int").alias("rank"),
        F.sum("char_count").over(w_cum).cast("long").alias("cum_count"),
        F.sum("char_count").over(w_all).cast("long").alias("total_count"),
    )
    kept = (F.col("cum_count") - F.col("char_count")) * CHAR_COVERAGE_DEN < (
        F.col("total_count") * CHAR_COVERAGE_NUM
    )
    return ranked.withColumn("kept", kept)


def _bpe_encode_oracle() -> str:
    # Each merge is read through a scalar subquery and applied as
    # coalesce(replace(rep, pat, sub), rep): a corpus that learns fewer
    # than BPE_MERGES merges (all-single-symbol words) yields an empty
    # m{it}, the scalar subquery returns NULL, replace() propagates it,
    # and the coalesce makes the missing merge a no-op instead of
    # wiping every row (a bare cross join against the empty m{it}
    # would) — mirroring the Spark side's NULL-safe F.get guard.
    d, s = _BPE_D, _BPE_S
    sql = f"""
    {_bpe_merge_ctes()},
    docw AS (
      SELECT doc_id,
             list_filter(str_split(text, ' '),
                         w -> w <> '' AND NOT contains(w, '{s}')) AS ws
      FROM documents),
    e0 AS (
      SELECT doc_id, CAST(len(ws) AS INT) AS n_words,
             CAST(length(array_to_string(ws, '')) AS BIGINT) AS n_chars,
             array_to_string(list_transform(ws, w ->
               '{d}' || array_to_string(str_split(w, ''), '{d}') || '{d}'),
               '') AS rep
      FROM docw)"""
    for it in range(1, BPE_MERGES + 1):
        l = f"(SELECT left_sym FROM m{it})"
        r = f"(SELECT right_sym FROM m{it})"
        sql += f""",
    e{it} AS (
      SELECT doc_id, n_words, n_chars,
             coalesce(replace(rep,
               '{s}' || {l} || '{d}' || {r} || '{s}',
               '{s}' || {l} || {r} || '{s}'), rep) AS rep
      FROM e{it - 1})"""
    return sql + f""",
    enc AS (
      SELECT doc_id, n_words, n_chars,
             CAST(len(str_split(rep, '{d}')) - n_words - 1 AS BIGINT)
               AS n_tokens
      FROM e{BPE_MERGES})
    SELECT doc_id, n_words, n_chars, n_tokens,
           CASE WHEN n_chars > 0 THEN n_tokens * 1000 // n_chars
                ELSE CAST(0 AS BIGINT) END AS tok_per_kchar
    FROM enc
    """


@register("bpe_encode_lengths", _bpe_encode_oracle())
def bpe_encode_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges to every document: per-doc encoded
    sequence length after the BPE_MERGES merges, plus the fertility
    metric tokens-per-1000-chars — the numbers that size sequence
    packing and tokenizer vocab decisions. The whole document is
    encoded as one doubled-delimiter string (each word wrapped in its
    own delimiters, concatenated), so one chain of BPE_MERGES string
    replaces encodes every word at once: the 4-delimiter word junction
    can never match a merge pattern (patterns need exactly two
    delimiters between member symbols, and symbols never contain the
    delimiter), so doc-level replace equals per-word greedy BPE.

    Scale shape: the merges come from the vocabulary-bounded learn
    path (one corpus scan) and reach the encode stage as a 1-row
    broadcast of the sorted merge array (whitelisted in the plan
    audit); the encode itself is a narrow JVM map over documents —
    NO corpus shuffle at all, unlike a join against a per-word token
    table, which would shuffle on the Zipf-skewed term key. Token
    count per doc is size(split(rep)) - n_words - 1: split yields
    ['', sym..., ''] per word with one extra '' at each word junction.
    Words containing the delimiter byte are excluded exactly as in
    training (hostile bytes must not alias a symbol boundary)."""
    merges = bpe_learn_merges(spark, sf_dir)
    ms_row = merges.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct("iteration", "left_sym", "right_sym"))
        ).alias("ms")
    )
    d = _t(spark, sf_dir, "documents")
    ws = F.filter(
        F.split("text", " "),
        lambda w: (w != F.lit("")) & (~w.contains(_BPE_S)),
    )
    doc = d.select("doc_id", ws.alias("ws")).select(
        "doc_id",
        F.size("ws").alias("n_words"),
        F.length(F.array_join("ws", "")).cast("long").alias("n_chars"),
        F.array_join(
            F.transform(
                "ws",
                lambda w: F.concat(
                    F.lit(_BPE_D),
                    F.array_join(F.split(w, ""), _BPE_D),
                    F.lit(_BPE_D),
                ),
            ),
            "",
        ).alias("rep"),
    )
    rep = F.col("rep")
    for it in range(1, BPE_MERGES + 1):
        # F.get is 0-based and NULL-safe (element_at throws under ANSI
        # when a degenerate corpus learns < BPE_MERGES merges); the
        # NULL pattern propagates through replace and the coalesce
        # turns the missing merge into a no-op — mirrored in the
        # oracle's scalar-subquery + coalesce chain.
        m = F.get(F.col("ms"), it - 1)
        left, right = m.getField("left_sym"), m.getField("right_sym")
        rep = F.coalesce(
            F.replace(
                rep,
                F.concat(
                    F.lit(_BPE_S), left, F.lit(_BPE_D), right, F.lit(_BPE_S)
                ),
                F.concat(F.lit(_BPE_S), left, right, F.lit(_BPE_S)),
            ),
            rep,
        )
    enc = doc.crossJoin(F.broadcast(ms_row)).select(
        "doc_id",
        "n_words",
        "n_chars",
        (F.size(F.split(rep, _BPE_D)) - F.col("n_words") - 1)
        .cast("long")
        .alias("n_tokens"),
    )
    return enc.withColumn(
        "tok_per_kchar",
        F.expr(
            "CASE WHEN n_chars > 0 THEN n_tokens * 1000 div n_chars"
            " ELSE CAST(0 AS BIGINT) END"
        ),
    )


# ---------------------------------------------------------------------------
# measured MinHash-LSH quality: empirical S-curve vs exact Jaccard
# ---------------------------------------------------------------------------

JACC_BUCKET_PPM = 100_000  # decile width of the exact-Jaccard buckets


def _minhash_eval_oracle() -> str:
    from .text_queries import NGRAM_MAX_DF, _minhash_oracle
    from .operators import dedup as _dd

    k = _dd.SHINGLE_K
    return f"""
    WITH cand AS ({_minhash_oracle()}),
    shingled AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(str_split(text, ' ')) >= {k}
               THEN list_transform(range(0, len(str_split(text, ' ')) - {k} + 1),
                    i -> array_to_string((str_split(text, ' '))[i + 1 : i + {k}], ' '))
               ELSE [text] END) AS shingles
      FROM documents),
    exploded_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
    keep AS (SELECT shingle FROM exploded_all
             GROUP BY shingle HAVING count(*) <= {NGRAM_MAX_DF}),
    exploded AS (SELECT e.doc_id, e.shingle
                 FROM exploded_all e JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM exploded GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM exploded a JOIN exploded b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    uni AS (
      SELECT id_a, id_b,
             n_inter * 1000000 // (sa.n_sh + sb.n_sh - n_inter) AS jacc_ppm
      FROM inter JOIN sizes sa ON sa.doc_id = id_a
                 JOIN sizes sb ON sb.doc_id = id_b),
    j AS (
      SELECT u.jacc_ppm, (c.id_a IS NOT NULL) AS is_cand
      FROM uni u FULL OUTER JOIN cand c
        ON u.id_a = c.id_a AND u.id_b = c.id_b)
    SELECT CAST(CASE WHEN jacc_ppm IS NULL THEN -1
                     ELSE jacc_ppm // {JACC_BUCKET_PPM} END AS INT)
             AS jacc_bucket,
           CAST(count(jacc_ppm) AS BIGINT) AS n_pairs,
           CAST(count(CASE WHEN is_cand THEN 1 END) AS BIGINT)
             AS n_candidates,
           CASE WHEN count(jacc_ppm) > 0
                THEN CAST(count(CASE WHEN is_cand THEN 1 END)
                          * 1000000 // count(jacc_ppm) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS recall_ppm
    FROM j GROUP BY 1
    """


@register("dedup_minhash_eval", _minhash_eval_oracle())
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured quality of the MinHash-LSH candidate generation: the
    empirical LSH S-curve. Ground truth is exact n-gram Jaccard (the
    dedup_ngram_jaccard definition: distinct token 3-shingles under the
    max_df stop-shingle cut, integer-ppm Jaccard); pairs are bucketed
    by Jaccard decile and each bucket reports how many the banded LSH
    join surfaced as candidates — the measured counterpart of the
    theoretical 1-(1-s^r)^b hit curve, graded the way retrieval_eval_mrr
    grades BM25. Bucket -1 collects LSH candidates whose documents
    share NO discriminative shingle (band collisions / cut-shingle
    overlap): its n_candidates over the total is the false-positive
    cost the verify stage pays.

    Scale shape: the truth side is the same bounded stop-shingle
    equi-join dedup_ngram_jaccard runs (fanout capped by max_df); the
    candidate side is the capped banded equi-join; the comparison is a
    pair-keyed full outer join between two already-bounded pair tables
    and a rollup into <= 12 decile rows. Nothing here is new exchange
    territory — the eval reuses the exact shapes of the two queries it
    grades."""
    from .operators import dedup as _dd
    from .text_queries import NGRAM_MAX_DF

    d = _t(spark, sf_dir, "documents")
    shingled = _dd._doc_shingles(d)
    exploded = shingled.select("doc_id", F.explode("shingles").alias("shingle"))
    dfreq = exploded.groupBy("shingle").agg(F.count("*").alias("_df"))
    kept = exploded.join(
        dfreq.filter(F.col("_df") <= NGRAM_MAX_DF), "shingle"
    ).select("doc_id", "shingle")
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = kept.alias("a"), kept.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    uni = (
        inter.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.expr("n_inter * 1000000 div (n_a + n_b - n_inter)").alias(
                "jacc_ppm"
            ),
        )
    )
    cand = _dd.lsh_candidate_pairs(d).withColumn("is_cand", F.lit(True))
    joined = uni.join(cand, ["id_a", "id_b"], "full_outer")
    bucket = (
        F.when(F.col("jacc_ppm").isNull(), F.lit(-1))
        .otherwise(F.expr(f"jacc_ppm div {JACC_BUCKET_PPM}"))
        .cast("int")
    )
    return (
        joined.select(
            bucket.alias("jacc_bucket"),
            F.col("jacc_ppm").isNotNull().alias("in_uni"),
            F.coalesce(F.col("is_cand"), F.lit(False)).alias("is_cand"),
        )
        .groupBy("jacc_bucket")
        .agg(
            F.sum(F.when(F.col("in_uni"), 1).otherwise(0))
            .cast("long")
            .alias("n_pairs"),
            F.sum(F.when(F.col("is_cand"), 1).otherwise(0))
            .cast("long")
            .alias("n_candidates"),
        )
        .withColumn(
            "recall_ppm",
            F.expr(
                "CASE WHEN n_pairs > 0"
                " THEN n_candidates * 1000000 div n_pairs"
                " ELSE CAST(0 AS BIGINT) END"
            ),
        )
    )


# ---------------------------------------------------------------------------
# classifier-vs-heuristic agreement, and wordlist blocklist filtering
# ---------------------------------------------------------------------------

# Gopher-style heuristic keep rule, all-integer (the label side of the
# classifier eval): token count within bounds, mean word length within
# [3, 10] via cross-multiplication, and at least QL_MIN_STOP stopword
# tokens. The token bound is Gopher's real 50-token floor, which (with
# the stopword floor) produces genuine label variety at test scale.
QL_MIN_TOKENS, QL_MAX_TOKENS = 50, 100_000
QL_MIN_MWL, QL_MAX_MWL = 3, 10
QL_MIN_STOP = 2

from .operators.textstats import STOPWORDS_EN as _QL_STOPWORDS  # noqa: E402

_QL_STOP_LITS = ", ".join(f"'{w}'" for w in _QL_STOPWORDS)

_QL_LABEL_SQL = f"""(
      n_tokens >= {QL_MIN_TOKENS} AND n_tokens <= {QL_MAX_TOKENS}
      AND n_letters >= {QL_MIN_MWL} * n_tokens
      AND n_letters <= {QL_MAX_MWL} * n_tokens
      AND n_stop >= {QL_MIN_STOP})"""


@register(
    "quality_classifier_eval",
    f"""
    WITH scored AS (
      SELECT doc_id,
             CASE WHEN text = '' THEN CAST(0 AS BIGINT)
                  ELSE {_QC_SCORE_SQL} END AS score_ppm,
             (text = '' OR (CASE WHEN text = '' THEN CAST(0 AS BIGINT)
                  ELSE {_QC_SCORE_SQL} END) > 0) AS pred_keep,
             CASE WHEN text = '' THEN CAST(0 AS BIGINT)
                  ELSE CAST(len(str_split(text, ' ')) AS BIGINT) END
               AS n_tokens,
             CASE WHEN text = '' THEN CAST(0 AS BIGINT)
                  ELSE CAST(length(text) - len(str_split(text, ' ')) + 1
                       AS BIGINT) END AS n_letters,
             CAST(len(list_filter(str_split(text, ' '),
                  x -> list_contains([{_QL_STOP_LITS}], x))) AS BIGINT)
               AS n_stop
      FROM documents),
    labeled AS (
      SELECT CAST(CASE WHEN score_ppm = 0 THEN 0
                       WHEN score_ppm > 0 THEN length(bin(score_ppm))
                       ELSE -length(bin(-score_ppm)) END AS INT)
               AS score_bucket,
             pred_keep, {_QL_LABEL_SQL} AS label_keep
      FROM scored)
    SELECT score_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN pred_keep THEN 1 END) AS BIGINT)
             AS n_pred_keep,
           CAST(count(CASE WHEN label_keep THEN 1 END) AS BIGINT)
             AS n_label_keep,
           CAST(count(CASE WHEN pred_keep AND label_keep THEN 1 END)
                AS BIGINT) AS n_both_keep,
           CAST(count(CASE WHEN label_keep THEN 1 END) * 1000000
                // count(*) AS BIGINT) AS label_keep_ppm
    FROM labeled GROUP BY score_bucket
    """,
)
def quality_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured agreement between the two registered quality filters:
    the hashed-linear classifier (doc_quality_classifier's prediction)
    against an all-integer Gopher-style heuristic label (token-count
    bounds, mean word length in [3,10] by cross-multiplication, >=2
    stopwords). Documents bucket by signed log2 of the classifier
    score (the doc_length_histogram bin idiom), and each bucket
    reports prediction/label/agreement counts plus the label-keep rate
    — the calibration curve a production pipeline watches when a
    classifier gates training data. With the deterministic stand-in
    weights the curve reads flat (score is independent of quality —
    exactly what the harness should show for an untrained model);
    learned weights drop in without changing the plan or the oracle
    shape.

    Scale shape: score, prediction, and label are all narrow JVM maps
    over one documents scan (the classifier's F.aggregate sum, a
    length arithmetic, and a stopword-literal filter); the only
    exchange is the final map-side-combinable rollup into <= ~128
    signed-log2 buckets."""
    from .operators import textstats as _ts

    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    empty = F.col("text") == ""
    score = F.when(empty, F.lit(0).cast("long")).otherwise(_qc_score_col(toks))
    n_tokens = F.when(empty, F.lit(0).cast("long")).otherwise(
        F.size(toks).cast("long")
    )
    n_letters = F.when(empty, F.lit(0).cast("long")).otherwise(
        (F.length("text") - F.size(toks) + 1).cast("long")
    )
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*_ts.STOPWORDS_EN))
    ).cast("long")
    scored = d.select(
        score.alias("score_ppm"),
        (empty | (score > 0)).alias("pred_keep"),
        n_tokens.alias("n_tokens"),
        n_letters.alias("n_letters"),
        n_stop.alias("n_stop"),
    )
    label = (
        (F.col("n_tokens") >= QL_MIN_TOKENS)
        & (F.col("n_tokens") <= QL_MAX_TOKENS)
        & (F.col("n_letters") >= QL_MIN_MWL * F.col("n_tokens"))
        & (F.col("n_letters") <= QL_MAX_MWL * F.col("n_tokens"))
        & (F.col("n_stop") >= QL_MIN_STOP)
    )
    bucket = (
        F.when(F.col("score_ppm") == 0, F.lit(0))
        .when(
            F.col("score_ppm") > 0, F.length(F.bin(F.col("score_ppm")))
        )
        .otherwise(-F.length(F.bin(-F.col("score_ppm"))))
        .cast("int")
    )
    labeled = scored.select(
        bucket.alias("score_bucket"),
        "pred_keep",
        label.alias("label_keep"),
    )
    agg = labeled.groupBy("score_bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("pred_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_pred_keep"),
        F.sum(F.when(F.col("label_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_label_keep"),
        F.sum(F.when(F.col("pred_keep") & F.col("label_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_both_keep"),
    )
    return agg.withColumn(
        "label_keep_ppm",
        F.expr("n_label_keep * 1000000 div n_docs"),
    )


# UT1-style category blocklist over token sets: each category is a
# wordlist, a document is blocked when ANY category's token share
# exceeds BLOCK_MAX_PPM. Real deployments broadcast multi-million-entry
# lists (UT1 et al.) as a bucket->category map; the compile-time
# literals here keep the oracle exact while exercising the same plan.
# The first two categories deliberately contain corpus-vocabulary words
# (the SHINGLE_MONITOR_DF convention: the query must return verdict
# variety at test scale); the third is a real-world list exercising the
# zero-hit path.
BLOCKLIST: dict[str, list[str]] = {
    "infra_jargon": ["spark", "hash", "shuffle"],
    "sales_spam": ["customer", "order", "big"],
    "adult": ["xxx", "porn", "casino"],
}
# Block when a category holds > 16% of a doc's tokens. Calibrated to
# the synthetic vocabulary (a 3-word category of the ~30-word Zipf
# vocab holds ~10% of a typical doc): the p90 of the max category
# share, so the filter blocks a realistic ~10% minority at test scale
# instead of everything or nothing.
BLOCK_MAX_PPM = 160_000


def _blocklist_oracle() -> str:
    cats = []
    for cat, words in BLOCKLIST.items():
        lits = ", ".join(f"'{w}'" for w in words)
        cats.append(
            f"""CASE WHEN text = '' THEN CAST(0 AS BIGINT)
                ELSE CAST(len(list_filter(str_split(text, ' '),
                     x -> list_contains([{lits}], x))) * 1000000
                     // len(str_split(text, ' ')) AS BIGINT) END
               AS {cat}_ppm"""
        )
    cols = ",\n             ".join(cats)
    keep = " AND ".join(f"{cat}_ppm <= {BLOCK_MAX_PPM}" for cat in BLOCKLIST)
    return f"""
    WITH hit AS (
      SELECT doc_id,
             {cols}
      FROM documents)
    SELECT doc_id, {", ".join(f"{c}_ppm" for c in BLOCKLIST)},
           ({keep}) AS keep
    FROM hit
    """


@register("doc_blocklist_filter", _blocklist_oracle())
def doc_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-wordlist blocklist filtering (the UT1/RefinedWeb URL- and
    word-list stage): per-document token share of each blocklist
    category in integer ppm, and a keep verdict that blocks the
    document when ANY category exceeds BLOCK_MAX_PPM of its tokens.

    Scale shape: pure narrow JVM maps — one size(filter(tokens in
    list)) per category over the split array, integer ppm floor-div,
    no shuffle, no Python, no join. A production-size list (UT1 runs
    to millions of entries) swaps the literal for a broadcast
    bucket->category map probed with the same hashed-feature scheme
    doc_quality_classifier uses, leaving the plan shape unchanged.
    Empty documents keep (0 tokens, 0 ppm in every category)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    empty = F.col("text") == ""
    def _hits(words: list[str]):
        return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")

    counted = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("_n_toks"),
        empty.alias("_empty"),
        *(
            _hits(words).alias(f"_{cat}_hits")
            for cat, words in BLOCKLIST.items()
        ),
    )
    # integer ppm with int64 floor-div (the repo-wide exactness grain;
    # a double divide-and-cast truncates differently at scale)
    out = counted.select(
        "doc_id",
        *(
            F.when(F.col("_empty"), F.lit(0).cast("long"))
            .otherwise(F.expr(f"_{cat}_hits * 1000000 div _n_toks"))
            .alias(f"{cat}_ppm")
            for cat in BLOCKLIST
        ),
    )
    keep = None
    for cat in BLOCKLIST:
        cond = F.col(f"{cat}_ppm") <= BLOCK_MAX_PPM
        keep = cond if keep is None else (keep & cond)
    return out.withColumn("keep", keep)


_ORACLES["host_components"] = _host_components_oracle()
_ORACLES["cdx_url_index"] = _cdx_oracle()
_ORACLES["host_downsample_cap"] = _host_downsample_oracle()
# the canonical-selection oracle nests dedup_clusters' full recursive
# transitive-closure CTE (registered by text_queries before this module
# imports), so the cluster definition can never drift between the two
_ORACLES["dedup_canonical_selection"] = _ORACLES["dedup_canonical_selection"].replace(
    "{dedup_clusters_oracle}", _ORACLES["dedup_clusters"]
)


COLLOC_MIN_PAIR = 3
COLLOC_TOP_K = 30


@register(
    "collocation_lift_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, str_split(text, ' ') AS tk
      FROM documents WHERE text <> ''),
    uni AS (
      SELECT term, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(tk) AS term FROM toks) GROUP BY term),
    total AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens FROM uni),
    big AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_count
      FROM (SELECT tk[i] AS w1, tk[i + 1] AS w2
            FROM toks, unnest(range(1, len(tk))) AS r(i))
      GROUP BY w1, w2
      HAVING count(*) >= {COLLOC_MIN_PAIR}),
    scored AS (
      SELECT b.w1, b.w2, b.pair_count, u1.cnt AS w1_count, u2.cnt AS w2_count,
             CAST(CAST(b.pair_count AS HUGEINT) * t.n_tokens * 1000000
                  // (CAST(u1.cnt AS HUGEINT) * u2.cnt) AS BIGINT) AS lift_ppm
      FROM big b
      JOIN uni u1 ON b.w1 = u1.term
      JOIN uni u2 ON b.w2 = u2.term
      CROSS JOIN total t),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY lift_ppm DESC, w1, w2) AS rank
      FROM scored)
    SELECT w1, w2, pair_count, w1_count, w2_count, lift_ppm, rank
    FROM ranked WHERE rank <= {COLLOC_TOP_K}
    """,
)
def collocation_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the classic PMI ranking without the log —
    since log is monotone, ranking by exact integer lift
    floor(P(xy)/(P(x)P(y)) * 1e6) = floor(c_xy * N * 1e6 / (c_x * c_y))
    yields the PMI order with zero libm (the doc_tfidf_topk
    discipline). Pairs below {COLLOC_MIN_PAIR} occurrences are cut
    first (PMI's low-count pathology AND the cheap pre-filter). The
    cross-multiplied score runs 128-bit (HUGEINT / DECIMAL(38,0)) so
    c_x * c_y at web-scale counts cannot overflow; the quotient is ppm
    and fits int64.

    Scale shape: bigram and unigram tables are both one
    map-side-combinable aggregation over the token stream (adjacent
    pairs come from zipping the split array with itself — no per-row
    Python); the lift join keys on term against the unigram table —
    vocabulary-keyed equi-joins, never a broadcast of an unbounded
    vocabulary; N arrives as a 1-row broadcast; the global top-K uses
    the constant-key WindowGroupLimit idiom over the pair table."""
    d = _td(spark, sf_dir)
    toks = d.filter(F.col("text") != "").select(F.split("text", " ").alias("tk"))
    uni = (
        toks.select(F.explode("tk").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    total = uni.agg(F.sum("cnt").cast("long").alias("n_tokens"))
    pairs = toks.select(
        F.explode(
            F.expr("zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1), (a, b) -> struct(a AS w1, b AS w2))")
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_count"))
        .filter(F.col("pair_count") >= COLLOC_MIN_PAIR)
    )
    scored = (
        big.join(uni.withColumnRenamed("term", "w1").withColumnRenamed("cnt", "w1_count"), "w1")
        .join(uni.withColumnRenamed("term", "w2").withColumnRenamed("cnt", "w2_count"), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "pair_count",
            "w1_count",
            "w2_count",
            F.expr(
                "CAST(CAST(pair_count AS DECIMAL(38,0)) * n_tokens * 1000000"
                " div (CAST(w1_count AS DECIMAL(38,0)) * w2_count) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    w = Window.partitionBy(F.col("lift_ppm") % 1).orderBy(
        F.col("lift_ppm").desc(), "w1", "w2"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= COLLOC_TOP_K)
    )


# ---------------------------------------------------------------------------
# content-defined chunking (CDC) dedup
# ---------------------------------------------------------------------------

# Rolling-window content-defined chunking — the dedup granularity that
# survives insertions/deletions (fixed-offset chunks shift, content-
# defined ones realign): position i ends a chunk when the hash of the
# CDC_W-gram ending at i is 0 mod CDC_P, giving ~CDC_P-char expected
# chunks whose boundaries depend only on local content. Shared chunks
# across documents are the partial-duplication signal (boilerplate
# fragments, quoted passages) that page-level fingerprints miss.
# At scale: the per-position explode is map-side only and the boundary
# filter cuts it to ~1/CDC_P density BEFORE the single doc-keyed
# exchange (collect_list bounded by doc length); the final fingerprint
# agg keys on uniform md5 prefixes — no skew.
CDC_W = 6  # gram width (chars)
CDC_P = 16  # boundary divisor -> expected chunk ~16 chars


# the rolling gram hash of the CDC_W characters ending at text position i
_CDC_GRAM_HASH_SQL = _HEX_A_SQL.format(fp=f"md5(substr(text, i-{CDC_W}+1, {CDC_W}))")


@register(
    "cdc_chunk_dedup",
    f"""
    WITH pos AS (
      SELECT doc_id, text, unnest(range({CDC_W}, len(text)+1)) AS i
      FROM documents),
    bnd AS (
      SELECT doc_id, i FROM pos
      WHERE {_CDC_GRAM_HASH_SQL} % {CDC_P} = 0),
    cuts AS (SELECT doc_id, list(i ORDER BY i) AS cuts FROM bnd GROUP BY doc_id),
    edges AS (
      SELECT d.doc_id, d.text,
             [0] || coalesce(c.cuts, []) || [len(d.text)] AS b
      FROM documents d LEFT JOIN cuts c USING (doc_id)),
    chunks AS (
      SELECT doc_id, substr(text, CAST(b[j] + 1 AS BIGINT), CAST(b[j+1] - b[j] AS BIGINT)) AS chunk
      FROM edges, unnest(range(1, len(b))) AS r(j)
      WHERE b[j+1] > b[j])
    SELECT md5(chunk) AS fp,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(max(len(chunk)) AS BIGINT) AS chunk_len
    FROM chunks GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
    """,
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunk dedup: chunk every document at rolling
    md5-gram boundaries (hash of the CDC_W-gram ending at i == 0 mod
    CDC_P), fingerprint each chunk, and report the chunks shared by two
    or more distinct documents — chunk-level storage/near-dup telemetry
    over a corpus where whole-doc fingerprints see nothing."""
    d = _td(spark, sf_dir).select("doc_id", "text")
    # Boundary offsets computed PER DOCUMENT inside one row (array
    # higher-order functions): no per-position row materialization, no
    # doc-keyed exchange, no join-back — the r5 verdict's "one md5 call
    # and one Tungsten row per byte of corpus" explode is gone. The
    # boundary predicate is the identical md5 expression, now inside an
    # array filter over the in-row position sequence.
    gram_at = lambda i: F.col("text").substr(i - F.lit(CDC_W - 1), F.lit(CDC_W))  # noqa: E731
    is_cut = lambda i: (  # noqa: E731
        F.conv(F.substring(F.md5(gram_at(i)), 1, 15), 16, 10).cast("long") % CDC_P == 0
    )
    cuts = F.when(
        F.length("text") >= CDC_W,
        F.filter(F.sequence(F.lit(CDC_W), F.length("text")), is_cut),
    ).otherwise(F.array().cast("array<int>"))
    edges = d.select(
        "doc_id",
        "text",
        F.concat(F.array(F.lit(0)), cuts, F.array(F.length("text"))).alias("b"),
    )
    chunk_at = lambda j: F.col("text").substr(  # noqa: E731
        F.element_at(F.col("b"), j) + 1,
        F.element_at(F.col("b"), j + F.lit(1)) - F.element_at(F.col("b"), j),
    )
    chunks = edges.select(
        "doc_id",
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.size("b") - 1),
                    lambda j: chunk_at(j),
                ),
                lambda c: F.length(c) > 0,
            )
        ).alias("chunk"),
    )
    return (
        chunks.groupBy(F.md5("chunk").alias("fp"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.max(F.length("chunk")).cast("long").alias("chunk_len"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# epoch shuffle: format-preserving Feistel permutation (map-only shuffle)
# ---------------------------------------------------------------------------

# A training run must read the corpus in a DIFFERENT pseudo-random order
# each epoch. Materializing that order with a sort is a full exchange of
# the corpus per epoch — at 10^12 rows, petabytes of shuffle for zero
# information. The standard fix (tf.data / Megatron sample-index shape)
# is a format-preserving permutation: a keyed bijection pos = P_e(id)
# computed PER ROW, so "globally shuffled epoch e" is just "read ordered
# by perm_pos" — no exchange at all. Four Feistel rounds over the 62-bit
# id domain with an md5-derived round function give a different, fully
# mixed, provably bijective order per epoch (bijective because every
# Feistel network is invertible: tests/test_epoch_shuffle.py walks the
# inverse). All arithmetic is plain int64 (halves < 2^31, xor of
# non-negatives, one multiply < 2^62) — identical on both engines.
SHUFFLE_HALF_BITS = 31
SHUFFLE_ROUNDS = 4
SHUFFLE_EPOCHS = 3


def _feistel_f_sql(rnd: int) -> str:
    """Round ``rnd``'s keyed hash of the right half ``r``."""
    return (
        f"CAST(CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|{rnd}|' ||"
        f" CAST(epoch AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT)"
        f" % {1 << SHUFFLE_HALF_BITS}"
    )


def _feistel_cte_sql() -> str:
    steps = [
        f"r0 AS (SELECT doc_id, epoch, doc_id // {1 << SHUFFLE_HALF_BITS} AS l,"
        f" doc_id % {1 << SHUFFLE_HALF_BITS} AS r FROM de)"
    ]
    for i in range(SHUFFLE_ROUNDS):
        steps.append(
            f"r{i + 1} AS (SELECT doc_id, epoch, r AS l,"
            f" xor(l, {_feistel_f_sql(i)}) AS r FROM r{i})"
        )
    steps.append(
        f"permuted AS (SELECT doc_id, epoch,"
        f" l * {1 << SHUFFLE_HALF_BITS} + r AS perm_pos"
        f" FROM r{SHUFFLE_ROUNDS})"
    )
    return ",\n    ".join(steps)


def _feistel_pos_col():
    # `div` (integer division), never `/`: a double quotient loses
    # low bits past 2^53, and ids/positions span the 62-bit domain
    half = 1 << SHUFFLE_HALF_BITS
    l = F.expr(f"doc_id div {half}")
    r = F.col("doc_id") % half
    for rnd in range(SHUFFLE_ROUNDS):
        fv = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        r.cast("string"),
                        F.lit(str(rnd)),
                        F.col("epoch").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long") % half
        l, r = r, l.bitwiseXOR(fv)
    return l * half + r


_EPOCHS_SQL = ", ".join(str(e) for e in range(SHUFFLE_EPOCHS))


@register(
    "epoch_shuffle_assignment",
    f"""
    WITH de AS (
      SELECT doc_id, epoch
      FROM documents, unnest([{_EPOCHS_SQL}]) AS e(epoch)),
    {_feistel_cte_sql()}
    SELECT doc_id, CAST(epoch AS BIGINT) AS epoch, perm_pos,
           perm_pos // {1 << (2 * SHUFFLE_HALF_BITS - 6)} AS shard
    FROM permuted
    """,
)
def epoch_shuffle_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch global shuffle WITHOUT a shuffle: every (document,
    epoch) pair gets a permuted position and shard from a keyed Feistel
    bijection over the 62-bit id domain — reading epoch e in training
    order is a scan ordered by perm_pos, and the assignment itself is
    computed map-side with ZERO exchange (the plan below the final
    projection is scan -> generate -> project). At 10^12 rows this
    replaces a petabyte-scale sort per epoch with 4 md5s per row.

    shard is the top-6-bit slice of perm_pos (an exact integer
    division by 2^56): 64 balanced write buckets whose sizes
    epoch_shuffle_balance_eval audits."""
    d = _t(spark, sf_dir, "documents")
    de = d.select(
        "doc_id",
        F.explode(F.array(*[F.lit(e) for e in range(SHUFFLE_EPOCHS)])).alias("epoch"),
    )
    pos = _feistel_pos_col()
    return de.select(
        "doc_id",
        F.col("epoch").cast("long").alias("epoch"),
        pos.alias("perm_pos"),
    ).withColumn(
        "shard", F.expr(f"perm_pos div {1 << (2 * SHUFFLE_HALF_BITS - 6)}")
    )


@register(
    "epoch_shuffle_balance_eval",
    f"""
    WITH de AS (
      SELECT doc_id, epoch
      FROM documents, unnest([{_EPOCHS_SQL}]) AS e(epoch)),
    {_feistel_cte_sql()},
    shards AS (
      SELECT epoch, perm_pos // {1 << (2 * SHUFFLE_HALF_BITS - 6)} AS shard,
             count(*) AS n, count(DISTINCT perm_pos) AS n_pos
      FROM permuted GROUP BY epoch, shard)
    SELECT CAST(epoch AS BIGINT) AS epoch,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(n_pos) AS BIGINT) AS n_distinct_pos,
           CAST(count(*) AS BIGINT) AS n_shards_used,
           CAST(min(n) AS BIGINT) AS min_shard_docs,
           CAST(max(n) AS BIGINT) AS max_shard_docs
    FROM shards GROUP BY epoch
    """,
)
def epoch_shuffle_balance_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the epoch shuffle: per epoch, document count, distinct
    permuted positions (== n_docs is the measured bijectivity evidence
    — any collision would mean two documents fused into one training
    position), shards used, and the min/max shard occupancy the write
    path would see. The per-(epoch, shard) partial agg is map-side
    combined down to 3 x 64 rows before the only exchange; distinct
    perm_pos within a shard never crosses shards (shard IS a bit slice
    of perm_pos), so counting it per shard and summing is exact."""
    d = _t(spark, sf_dir, "documents")
    de = d.select(
        "doc_id",
        F.explode(F.array(*[F.lit(e) for e in range(SHUFFLE_EPOCHS)])).alias("epoch"),
    )
    pos = _feistel_pos_col()
    shards = (
        de.select(
            F.col("epoch").cast("long").alias("epoch"),
            pos.alias("perm_pos"),
        )
        .withColumn(
            "shard", F.expr(f"perm_pos div {1 << (2 * SHUFFLE_HALF_BITS - 6)}")
        )
        .groupBy("epoch", "shard")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("perm_pos").alias("n_pos"),
        )
    )
    return shards.groupBy("epoch").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("n_pos").cast("long").alias("n_distinct_pos"),
        F.count("*").cast("long").alias("n_shards_used"),
        F.min("n").cast("long").alias("min_shard_docs"),
        F.max("n").cast("long").alias("max_shard_docs"),
    )


# ---------------------------------------------------------------------------
# Neyman-optimal stratified sample allocation
# ---------------------------------------------------------------------------

# sample budget: 1/NEYMAN_DIV of the corpus, allocated across
# (source, lang) strata by Neyman 1934 optimal allocation
NEYMAN_DIV = 10

# exact integer sqrt on the full 128-bit radicand grid: the double seed
# floor(sqrt(double(T))) drifts by up to ~s * 2^-52 (the DOUBLE cast
# already rounds T itself past 2^53 — measured off-by-5 at T ~ 2^111,
# found by tests/test_numeric_properties.py), so one integer NEWTON step
# s1 = (s0 + T div s0) div 2 contracts the error quadratically
# (e -> e^2 / 2s + 1 < 2 for any T < 2^126), and a +/-2 window with
# EXACT 128-bit c*c <= T compares finishes the job. Every piece is the
# same integer arithmetic in Spark and DuckDB, so both engines produce
# the identical exact root. {T} must be a 128-bit typed column
# expression; {s0} its double-sqrt floor (the raw seed).
def _isqrt_sql(T: str, s0: str, cast128: str) -> str:
    s1 = (
        f"CAST((greatest({s0}, 1) + {T} {{d}} greatest({s0}, 1)) {{d}} 2"
        f" AS BIGINT)".replace("{d}", "div" if cast128.startswith("DECIMAL") else "//")
    )

    def ok(c: str) -> str:
        return f"CAST(greatest({c}, 0) AS {cast128}) * greatest({c}, 0) <= {T}"

    return (
        f"CASE WHEN {ok(f'{s1} + 2')} THEN {s1} + 2 "
        f"WHEN {ok(f'{s1} + 1')} THEN {s1} + 1 "
        f"WHEN {ok(s1)} THEN {s1} "
        f"WHEN {ok(f'{s1} - 1')} THEN greatest({s1} - 1, 0) "
        f"ELSE greatest({s1} - 2, 0) END"
    )


_NEYMAN_ORACLE = f"""
    WITH x AS (
      SELECT source, lang,
             CASE WHEN text = '' THEN 0
                  ELSE len(str_split(text, ' ')) END AS n
      FROM documents),
    s AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS tokens,
             CAST(count(*) AS HUGEINT) * sum(CAST(n AS HUGEINT) * n)
               - CAST(sum(n) AS HUGEINT) * sum(n) AS t128
      FROM x GROUP BY source, lang),
    w AS (
      SELECT source, lang, n_docs, tokens,
             {_isqrt_sql("t128", "CAST(floor(sqrt(CAST(t128 AS DOUBLE))) AS BIGINT)", "HUGEINT")}
               AS weight
      FROM s),
    tot AS (
      SELECT sum(CAST(weight AS HUGEINT)) AS wsum,
             sum(n_docs) // {NEYMAN_DIV} AS budget
      FROM w),
    q AS (
      SELECT source, lang, n_docs, tokens, weight,
             CAST(CAST(budget AS HUGEINT) * weight
                  // greatest(wsum, 1) AS BIGINT) AS base,
             CAST(CAST(budget AS HUGEINT) * weight
                  % greatest(wsum, 1) AS HUGEINT) AS frac,
             budget, wsum
      FROM w CROSS JOIN tot),
    r AS (
      SELECT *, row_number() OVER (ORDER BY frac DESC, source, lang) AS rk,
             CASE WHEN wsum = 0 THEN 0
                  ELSE budget - sum(base) OVER () END AS leftover
      FROM q)
    SELECT source, lang, n_docs, tokens, CAST(weight AS BIGINT) AS weight,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_docs,
           CAST(least(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END,
                      n_docs) AS BIGINT) AS alloc_capped
    FROM r
    """


@register("neyman_sample_alloc", _NEYMAN_ORACLE)
def neyman_sample_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation (Neyman 1934; every
    survey-sampling textbook since): when a fixed labeling/eval budget
    of sample documents is spread over (source, lang) strata, the
    variance-minimizing allocation is proportional to N_h * S_h —
    stratum size times stratum standard deviation of the target
    variable (doc token count here). High-variance strata (a web dump
    mixing tweets and books) earn proportionally more budget than
    uniform ones (a boilerplate-heavy template host) of the same size —
    the step beyond source_mix_apportionment's pure size-proportional
    shares, and the reason a curation team stratifies at all.

    The whole allocation is EXACT integer arithmetic: N_h * S_h =
    sqrt(N_h^2 * var_h) = sqrt(N_h * sum(x^2) - sum(x)^2), so the
    weight is an integer square root of an exactly-computed 128-bit
    integer — isqrt seeded by the double sqrt, tightened by one integer
    Newton step (the double seed drifts ~s * 2^-52 past 2^53; Newton
    contracts that quadratically to < 2 for any radicand under 2^126),
    and finished over a +/-2 window with exact 128-bit c*c <= T
    compares — so the window can never miss on the full domain. The budget (1/{NEYMAN_DIV} of the corpus)
    is then apportioned by largest remainder over the weights — shares
    sum to EXACTLY the budget (the Hamilton-method discipline of
    source_mix_apportionment, applied to Neyman weights). Zero-variance
    strata get weight 0 and alloc 0 (pure Neyman; the min-1-per-stratum
    practical patch is a trivial post-step), and alloc_capped floors
    the allocation at stratum size. When every stratum has zero variance
    there is no weight to apportion by: every stratum gets 0, and the
    shares sum to 0 instead of the budget.

    Scale shape at 10^12 docs: one (source, lang)-keyed aggregation
    with map-side combine (the ONLY corpus pass — count/sum/sum-of-
    squares are the entire sufficient statistic), then weights, ranks,
    and remainders on the |sources| x |langs|-row table with a 1-row
    total broadcast. The 128-bit radicand (DECIMAL(38,0) / HUGEINT)
    holds to ~1e38: tokens-per-doc^2 * docs-per-stratum * corpus-size
    at the brief's scale peaks ~1e30."""
    d = _t(spark, sf_dir, "documents")
    n = F.when(F.col("text") == "", 0).otherwise(F.size(F.split(F.col("text"), " ")))
    s = (
        d.select("source", "lang", n.cast("long").alias("n"))
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("tokens"),
            F.expr(
                "CAST(count(*) AS DECIMAL(38,0))"
                " * sum(CAST(n AS DECIMAL(38,0)) * n)"
                " - CAST(sum(n) AS DECIMAL(38,0)) * sum(n)"
            ).alias("t128"),
        )
    )
    w = s.withColumn(
        "weight",
        F.expr(
            _isqrt_sql(
                "t128",
                "CAST(floor(sqrt(CAST(t128 AS DOUBLE))) AS BIGINT)",
                "DECIMAL(38,0)",
            )
        ),
    )
    tot = F.broadcast(
        w.agg(
            F.expr("sum(CAST(weight AS DECIMAL(38,0)))").alias("wsum"),
            F.expr(f"sum(n_docs) div {NEYMAN_DIV}").alias("budget"),
        )
    )
    q = w.crossJoin(tot).select(
        "source",
        "lang",
        "n_docs",
        "tokens",
        "weight",
        F.expr(
            "CAST(CAST(budget AS DECIMAL(38,0)) * weight"
            " div greatest(wsum, 1) AS BIGINT)"
        ).alias("base"),
        F.expr(
            "CAST(budget AS DECIMAL(38,0)) * weight % greatest(wsum, 1)"
        ).alias("frac"),
        "budget",
        "wsum",
    )
    # tiny-table windows (|sources| x |langs| rows), same as the
    # apportionment family
    rk_w = Window.orderBy(F.col("frac").desc(), "source", "lang")
    all_w = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = q.select(
        "source",
        "lang",
        "n_docs",
        "tokens",
        "weight",
        "base",
        F.row_number().over(rk_w).alias("rk"),
        # no weight to apportion by: no leftover seats either
        F.when(F.col("wsum") == 0, 0)
        .otherwise(F.col("budget") - F.sum("base").over(all_w))
        .alias("leftover"),
    )
    alloc = F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
    return r.select(
        "source",
        "lang",
        "n_docs",
        "tokens",
        F.col("weight").cast("long").alias("weight"),
        alloc.cast("long").alias("alloc_docs"),
        F.least(alloc, F.col("n_docs")).cast("long").alias("alloc_capped"),
    )


# ---------------------------------------------------------------------------
# Wilson-bound per-source quality gate
# ---------------------------------------------------------------------------

# gate: a source ships only when the Wilson 95% LOWER bound on its
# quality-keep rate clears this (z = 2, the standard "add 2 successes
# and 2 failures" Agresti-Coull/Wilson regime)
WILSON_GATE_PPM = 400_000
_WILSON_SCALE = 10**12  # ppm^2: sqrt comes back in exact ppm units


# Wilson z=2 lower bound in ppm, exact-integer convention: s =
# isqrt(floor(SCALE * (k(n-k)/n + 1))) == floor(10^6 * sqrt(k(n-k)/n + 1))
# (floor(sqrt(x)) == isqrt(floor(x)) for any real x >= 0: m^2 <= x <
# (m+1)^2 pins floor(x) into [m^2, (m+1)^2)), then lb_ppm =
# (10^6*(k+2) - 2s) div (n+4) — at most 1 ppm above the real bound,
# a stated floor convention mirrored bit-for-bit by the oracle.
@register(
    "source_quality_wilson_gate",
    f"""
    WITH v AS (
      SELECT source,
             CASE WHEN text = '' THEN TRUE
                  ELSE ({_QC_SCORE_SQL}) > 0 END AS keep
      FROM documents),
    c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
      FROM v GROUP BY source),
    a AS (
      SELECT source, n_docs, n_keep,
             (CAST(n_keep AS HUGEINT) * (n_docs - n_keep) * {_WILSON_SCALE}
              + CAST(n_docs AS HUGEINT) * {_WILSON_SCALE}) // (n_docs)
               AS wil_arg
      FROM c),
    s AS (
      SELECT source, n_docs, n_keep,
             {_isqrt_sql("wil_arg", "CAST(floor(sqrt(CAST(wil_arg AS DOUBLE))) AS BIGINT)", "HUGEINT")}
               AS sq
      FROM a)
    SELECT source, n_docs, n_keep,
           CAST(n_keep * 1000000 // n_docs AS BIGINT) AS keep_ppm,
           CAST((1000000 * (n_keep + 2) - 2 * sq) // (n_docs + 4) AS BIGINT)
             AS wilson_lb_ppm,
           ((1000000 * (n_keep + 2) - 2 * sq) // (n_docs + 4))
             >= {WILSON_GATE_PPM} AS gated_in
    FROM s
    """,
)
def source_quality_wilson_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality gate with a Wilson 95% lower confidence bound
    (Wilson 1927; the z=2 form behind Agresti-Coull "plus four" — every
    content-moderation / data-vendor acceptance pipeline's standard for
    "is this source's pass rate REALLY above the bar, or did it just
    sample lucky"): a source ships only when the LOWER bound of its
    doc_quality_classifier keep-rate clears {WILSON_GATE_PPM} ppm. The
    point estimate alone admits a 10-doc source with 5 lucky passes;
    the Wilson bound makes small-n sources prove themselves — exactly
    the asymmetry a corpus curator wants when onboarding crawl sources.

    Exact-integer discipline: the bound's square root is the
    {_WILSON_SCALE}-scaled radicand's integer sqrt (floor(sqrt(x)) ==
    isqrt(floor(x)) for real x, so pre-flooring the rational radicand
    is lossless), via the same Newton-corrected double-seeded isqrt as
    neyman_sample_alloc; published ppm is within 2 ppm of the real
    bound (stated floor conventions, mirrored bit-for-bit). 128-bit
    radicand (k(n-k)*1e12/n peaks ~2.5e35 at 10^12-doc sources).

    Scale shape: the keep verdict is doc_quality_classifier's in-row
    JVM expression (no shuffle), one source-keyed count/sum agg with
    map-side combine, then bound arithmetic on the |sources|-row table.
    No windows, no joins, no Python."""
    d = _t(spark, sf_dir, "documents")
    keep = F.when(F.col("text") == "", F.lit(True)).otherwise(
        _qc_score_col(F.split(F.col("text"), " ")) > 0
    )
    c = (
        d.select("source", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_keep"),
        )
    )
    return wilson_gate_from_counts(c)


def wilson_gate_from_counts(c: DataFrame) -> DataFrame:
    """(source, n_docs, n_keep) -> the published Wilson-gate row.

    The radicand floor-division stays 128-bit on the Spark side: the
    previous `(...DECIMAL...) div n_docs` went through IntegralDivide,
    which returns BIGINT and silently wraps once the quotient passes
    2^63 (~4e7 balanced-keep docs per source — the r5 ADVICE finding).
    Exact decomposition instead: with x = k(n-k) and (q1, r1) =
    divmod(x, n), floor(x*S/n) = q1*S + floor(r1*S/n); every
    intermediate is <= ~2.5e23 so the DECIMAL division results fit
    their (38,6) types exactly, and wil_arg itself is the full
    <= 2.5e35 radicand in DECIMAL(38,0). Identical values wherever the
    old form did not overflow — a pure widening."""
    S = _WILSON_SCALE
    a = (
        c.withColumn(
            "_x", F.expr("CAST(n_keep AS DECIMAL(38,0)) * (n_docs - n_keep)")
        )
        .withColumn("_q1", F.expr("CAST((_x - _x % n_docs) / n_docs AS DECIMAL(38,0))"))
        .withColumn("_r1", F.expr("_x % n_docs"))
        .withColumn(
            "wil_arg",
            F.expr(
                f"CAST(_q1 * {S}"
                f" + CAST((_r1 * {S} - (_r1 * {S}) % n_docs) / n_docs AS DECIMAL(38,0))"
                f" + {S} AS DECIMAL(38,0))"
            ),
        )
    )
    s = a.withColumn(
        "sq",
        F.expr(
            _isqrt_sql(
                "wil_arg",
                "CAST(floor(sqrt(CAST(wil_arg AS DOUBLE))) AS BIGINT)",
                "DECIMAL(38,0)",
            )
        ),
    )
    lb = F.expr("CAST((1000000 * (n_keep + 2) - 2 * sq) div (n_docs + 4) AS BIGINT)")
    return s.select(
        "source",
        "n_docs",
        "n_keep",
        F.expr("CAST(n_keep * 1000000 div n_docs AS BIGINT)").alias("keep_ppm"),
        lb.alias("wilson_lb_ppm"),
        (lb >= WILSON_GATE_PPM).alias("gated_in"),
    )


# ---------------------------------------------------------------------------
# filter-overlap ablation matrix
# ---------------------------------------------------------------------------


def _filter_overlap_oracle() -> str:
    """Nests the four registered filter oracles verbatim, so the matrix
    grades exactly the verdicts the individual queries publish. All four
    live in relational.ORACLES already (text_queries is imported above),
    so no registry round-trip is needed."""
    osql = _ORACLES
    return f"""
    WITH qf AS (SELECT doc_id, keep AS q FROM ({osql["doc_quality_classifier"]}) _q),
    rf AS (SELECT doc_id, keep AS r FROM ({osql["doc_repetition_filter"]}) _r),
    pf AS (SELECT doc_id, (n_emails + n_ips + n_phones) = 0 AS p
           FROM ({osql["doc_pii_redaction"]}) _p),
    lf AS (SELECT doc_id, lang_guess = lang AS l FROM ({osql["doc_lang_id"]}) _l),
    m AS (
      SELECT qf.doc_id, q, r, p, l
      FROM qf JOIN rf USING (doc_id) JOIN pf USING (doc_id) JOIN lf USING (doc_id)),
    g AS (
      SELECT q AS quality_keep, r AS repetition_keep, p AS pii_clean,
             l AS lang_match, CAST(count(*) AS BIGINT) AS n_docs
      FROM m GROUP BY 1, 2, 3, 4),
    t AS (SELECT sum(n_docs) AS total FROM g)
    SELECT quality_keep, repetition_keep, pii_clean, lang_match, n_docs,
           CAST(n_docs * 1000000 // total AS BIGINT) AS share_ppm
    FROM g CROSS JOIN t
    """


@register("filter_overlap_matrix")  # oracle assigned below (needs the registry)
def filter_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-ablation overlap matrix: the joint distribution of the
    four registered quality-gate verdicts — hashed-linear quality
    (doc_quality_classifier), Gopher repetition
    (doc_repetition_filter), PII-clean (doc_pii_redaction counts all
    zero), and lang-ID agreement (doc_lang_id guess == ground truth) —
    one row per verdict combination with exact counts and corpus share.
    This is the ablation planning table every curation team builds
    before touching thresholds: which filters are near-redundant (their
    disagreement cells are tiny), which documents are cut by EXACTLY
    one filter (the cells with a single False — the marginal effect of
    dropping that filter), and how much of the corpus survives the full
    conjunction. Composing the REGISTERED queries (not re-stating their
    logic) keeps the matrix in lockstep with the verdicts it audits —
    the oracle nests the four component oracles verbatim for the same
    reason.

    Scale shape at 10^12 docs: quality / PII / lang verdicts are
    in-row JVM expressions; repetition contributes its documented
    doc_id-keyed aggs; the four frames then join on the uniform doc_id
    key and collapse into a <= 16-row matrix via map-side-combinable
    counts, with the corpus total as a 1-row broadcast onto those 16
    rows. No windows over corpus rows, no Python."""
    from .functions import redact
    from .operators import textstats
    from .text_queries import _pii_injected_text, _qc_keep_col

    # Four independent branches joined on doc_id, NOT one fused
    # projection: fusing all four verdict trees into a single Project
    # was measured 1.4x SLOWER at sf1.0 — the combined tree exceeds
    # whole-stage-codegen limits and falls back to interpreted
    # evaluation, while separate branches stay codegen'd and run as
    # parallel jobs. Each branch reads through the SPREAD documents
    # scan (_td): unlike the standalone component queries (whose
    # expensive columns Catalyst count-prunes), the joins here force
    # every verdict to be computed, so the single-task scan was the
    # bottleneck (8.6 -> 2.3 s). The verdict expressions are the same
    # column trees the registered component queries publish.
    q = _td(spark, sf_dir).select("doc_id", _qc_keep_col().alias("q"))
    r = textstats.with_repetition_stats(_td(spark, sf_dir)).select(
        "doc_id", F.col("keep").alias("r")
    )
    n_emails, n_ips, n_phones = redact.pii_count_cols(_pii_injected_text())
    p = _td(spark, sf_dir).select(
        "doc_id", ((n_emails + n_ips + n_phones) == 0).alias("p")
    )
    l = _td(spark, sf_dir).select(
        "doc_id", (textstats.lang_id_cols(F.col("text")) == F.col("lang")).alias("l")
    )
    m = q.join(r, "doc_id").join(p, "doc_id").join(l, "doc_id")
    g = m.groupBy(
        F.col("q").alias("quality_keep"),
        F.col("r").alias("repetition_keep"),
        F.col("p").alias("pii_clean"),
        F.col("l").alias("lang_match"),
    ).agg(F.count("*").cast("long").alias("n_docs"))
    t = F.broadcast(g.agg(F.sum("n_docs").alias("total")))
    return g.crossJoin(t).select(
        "quality_keep",
        "repetition_keep",
        "pii_clean",
        "lang_match",
        "n_docs",
        F.expr("CAST(n_docs * 1000000 div total AS BIGINT)").alias("share_ppm"),
    )


_ORACLES["filter_overlap_matrix"] = _filter_overlap_oracle()
