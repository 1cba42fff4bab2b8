"""Embedding-curation queries: product-quantized ANN, contrastive
hard-negative mining, and label-centroid outlier pruning.

These complete the embedding family next to brute/int8/IVF/LSH
(text_queries.py): PQ is the compressed-scan path a 10^12-row corpus
actually serves from (4-bit codes, integer ADC), hard negatives are the
pair-mining stage of a contrastive training pipeline, and centroid
outliers are the D4/CleanLab-style "prune the vectors farthest from
their class" curation cut. Every query is oracle-checked; all exactness
conventions (round-then-rank, packed-argmax codes, integer micro-scaled
scores, MEAN_ROUND centroid grain) are shared with the existing ANN
oracles so both engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import similarity
from .operators.similarity import _dot, _norm
from .relational import _td, register

TOPK = 5

# ---------------------------------------------------------------------------
# PQ + ADC scan
# ---------------------------------------------------------------------------

_PQ_DS = 64 // similarity.PQ_M  # dims per subspace


def _pq_oracle() -> str:
    """Exact SQL mirror of the PQ path: seeded codebook (subvectors of
    vec_id < PQ_K), packed L2-argmin codes (round(2*dot - |c|^2, 6) with
    lowest-cid tie-break), integer micro-scaled ADC LUT join, order-exact
    int64 sum — the same arithmetic pq_encode_batch/pq_query_lut run in
    numpy."""
    m, k, ds, off = similarity.PQ_M, similarity.PQ_K, _PQ_DS, similarity._PQ_OFFSET
    return f"""
    WITH cb AS (
      SELECT r.m, e.vec_id AS cid,
             list_slice(e.embedding::DOUBLE[], r.m*{ds}+1, r.m*{ds}+{ds}) AS c
      FROM embeddings e, unnest(range(0, {m})) AS r(m)
      WHERE e.vec_id < {k}),
    cbn AS (SELECT m, cid, c, list_inner_product(c, c) AS cc FROM cb),
    sub AS (
      SELECT e.vec_id, r.m,
             list_slice(e.embedding::DOUBLE[], r.m*{ds}+1, r.m*{ds}+{ds}) AS v
      FROM embeddings e, unnest(range(0, {m})) AS r(m)),
    enc AS (
      SELECT s.vec_id, s.m,
             CAST(round(2*list_inner_product(s.v, b.c) - b.cc, 6)*1000000
                  + {off} AS BIGINT)*{k} + ({k}-1-b.cid) AS pack
      FROM sub s JOIN cbn b ON b.m = s.m),
    codes AS (
      SELECT vec_id, m, CAST({k}-1 - (max(pack) % {k}) AS INT) AS cid
      FROM enc GROUP BY vec_id, m),
    qlut AS (
      SELECT q.vec_id AS query_id, b.m, b.cid,
             CAST(round(list_inner_product(
               list_slice(q.embedding::DOUBLE[], b.m*{ds}+1, b.m*{ds}+{ds}), b.c), 6)
               *1000000 AS BIGINT) AS lut
      FROM embeddings q, cbn b WHERE q.vec_id % 100 = 0),
    adc AS (
      SELECT l.query_id, c.vec_id, CAST(sum(l.lut) AS BIGINT) AS adc_micros
      FROM codes c JOIN qlut l ON l.m = c.m AND l.cid = c.cid
      GROUP BY l.query_id, c.vec_id),
    ranked AS (
      SELECT query_id, vec_id, adc_micros,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_micros DESC, vec_id) AS rank
      FROM adc)
    SELECT query_id, vec_id, adc_micros, rank FROM ranked WHERE rank <= {TOPK}
    """


@register("ann_topk_pq", _pq_oracle())
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized top-k (ADC scan): vectors coded as PQ_M 4-bit
    subspace codes (4 bytes vs 256 — the compression that keeps a
    10^12-row scan memory-bandwidth-feasible), queries scored against
    the codes via integer lookup tables in the shared Arrow top-k scan.
    Same deterministic seeding idea as ann_topk_ivf's coarse
    quantizer."""
    e = _td(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.pq_topk_adc(e, queries, k=TOPK)


# ---------------------------------------------------------------------------
# contrastive hard negatives
# ---------------------------------------------------------------------------

HARDNEG_MOD = 50  # query slice: vec_id % 50 == 0


@register(
    "embedding_hard_negatives",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS query_label, embedding
      FROM embeddings WHERE vec_id % {HARDNEG_MOD} = 0),
    scored AS (
      SELECT q.query_id, q.query_label, c.vec_id, c.label AS neg_label,
             round(list_cosine_similarity(c.embedding::DOUBLE[],
                                          q.embedding::DOUBLE[]), 4) AS cosine
      FROM embeddings c JOIN q ON c.label <> q.query_label),
    ranked AS (
      SELECT query_id, query_label, vec_id, neg_label, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
    SELECT query_id, query_label, vec_id, neg_label, cosine, rank
    FROM ranked WHERE rank <= {TOPK}
    """,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the TOPK most-similar corpus vectors with a DIFFERENT label. The
    Arrow scan emits only batch-local top-k per query before the rank
    window (partial top-k: k rows per (query, batch) shuffle, not the
    full score matrix)."""
    e = _td(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % HARDNEG_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return similarity.hard_negative_topk(e, queries, k=TOPK)


# ---------------------------------------------------------------------------
# label-centroid outliers
# ---------------------------------------------------------------------------

OUTLIER_K = 5  # bottom-k per label


@register(
    "embedding_label_outliers",
    f"""
    WITH expl AS (
      SELECT label, generate_subscripts(embedding, 1) AS i,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings),
    cent AS (SELECT label, i, round(avg(v), {similarity.MEAN_ROUND}) AS m
             FROM expl GROUP BY label, i),
    cvec AS (SELECT label, list(m ORDER BY i) AS c FROM cent GROUP BY label),
    scored AS (
      SELECT e.vec_id, e.label,
             round(list_cosine_similarity(e.embedding::DOUBLE[], cv.c), 4) AS cosine
      FROM embeddings e JOIN cvec cv ON cv.label = e.label),
    ranked AS (
      SELECT vec_id, label, cosine,
             row_number() OVER (PARTITION BY label
                                ORDER BY cosine ASC, vec_id) AS rank
      FROM scored)
    SELECT vec_id, label, cosine, rank FROM ranked WHERE rank <= {OUTLIER_K}
    """,
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-centroid outlier pruning (the D4/CleanLab curation cut):
    per-label mean embedding (each dim rounded at the MEAN_ROUND grain,
    same as the Lloyd centroids, so both engines see identical
    centroids), then the OUTLIER_K vectors LEAST cosine-similar to their
    own class centroid. Centroids are a |labels| x dim aggregate —
    broadcast back to the corpus on the label key; the bottom-k window
    has a partition spec so WindowGroupLimit caps it per-partition.
    Label cardinality is bounded (a classifier's classes), so the
    per-label window never sees a Zipf host-style monster partition."""
    e = _td(spark, sf_dir, "embeddings")
    expl = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = expl.groupBy("label", "pos").agg(
        F.round(F.avg("v"), similarity.MEAN_ROUND).alias("m")
    )
    cvec = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("c")
    )
    ed = F.col("embedding").cast("array<double>")
    scored = e.join(F.broadcast(cvec), "label").select(
        "vec_id",
        "label",
        F.round(_dot(ed, F.col("c")) / (_norm(ed) * _norm(F.col("c"))), 4).alias("cosine"),
    )
    w = Window.partitionBy("label").orderBy(F.col("cosine").asc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= OUTLIER_K
    )


# ---------------------------------------------------------------------------
# measured eval: PQ recall vs exact brute force
# ---------------------------------------------------------------------------

from .relational import ORACLES as _ORACLES  # noqa: E402
from . import text_queries as _tq  # noqa: E402,F401 — registers ann_topk_cosine's oracle


def _pq_recall_oracle() -> str:
    """Nests the ann_topk_cosine (exact truth) and ann_topk_pq oracles
    verbatim — the eval grades exactly the two registered rankings, so
    neither definition can drift."""
    truth_sql = _ORACLES["ann_topk_cosine"]
    pq_sql = _pq_oracle()
    return f"""
    WITH truth AS (SELECT * FROM ({truth_sql}) _tr),
    pq AS (SELECT * FROM ({pq_sql}) _pq),
    joined AS (
      SELECT t.query_id, t.rank AS truth_rank,
             CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM truth t
      LEFT JOIN pq p ON p.query_id = t.query_id AND p.vec_id = t.vec_id)
    SELECT query_id,
           CAST(sum(hit) AS BIGINT) AS n_hits,
           CAST(sum(hit) * 1000000 // {TOPK} AS BIGINT) AS recall_ppm,
           (max(CASE WHEN truth_rank = 1 THEN hit ELSE 0 END) = 1) AS top1_hit
    FROM joined GROUP BY query_id
    """


@register("ann_pq_recall_eval", _pq_recall_oracle())
def ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the PQ/ADC ranking against the exact
    brute-force truth (recall@k per query + whether the true nearest
    neighbor survived quantization) — grades ann_topk_pq the way
    dedup_minhash_eval grades the LSH candidate join. The comparison is
    a (query, vec) equi-join between two k-row-per-query tables and a
    |queries|-row rollup: the eval adds no exchange beyond the two
    rankings it grades."""
    e = _td(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = similarity.cosine_topk_bruteforce(e, queries, k=TOPK)
    pq = similarity.pq_topk_adc(e, queries, k=TOPK).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    joined = truth.select("query_id", "vec_id", F.col("rank").alias("truth_rank")).join(
        pq, ["query_id", "vec_id"], "left"
    )
    return joined.groupBy("query_id").agg(
        F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
        F.expr(f"CAST(sum(coalesce(hit, 0)) * 1000000 DIV {TOPK} AS BIGINT)").alias(
            "recall_ppm"
        ),
        (
            F.max(
                F.when(
                    (F.col("truth_rank") == 1) & F.col("hit").isNotNull(), 1
                ).otherwise(0)
            )
            == 1
        ).alias("top1_hit"),
    )


# ---------------------------------------------------------------------------
# bitext mining (margin criterion) — parallel-pair mining over two
# "language" sides of the embedding space
# ---------------------------------------------------------------------------

BITEXT_K = 4  # kNN shell per direction
BITEXT_SRC_LABEL = 0  # label slice standing in for the source language
BITEXT_TGT_LABEL = 1  # label slice standing in for the target language
BITEXT_MARGIN_T = 1.05  # ratio-margin mining threshold (CCMatrix uses ~1.06)


def _bitext_cand_sql() -> str:
    """Exact SQL mirror of bitext_margin_candidates: brute-force rounded
    cosines, per-direction top-k shells (cosine desc, id tie-break),
    int64 tick sums, margin as ONE int64/int64 IEEE division."""
    k, s = BITEXT_K, similarity.BITEXT_COS_SCALE
    return f"""
    WITH src AS (SELECT vec_id, embedding FROM embeddings
                 WHERE label = {BITEXT_SRC_LABEL}),
    tgt AS (SELECT vec_id, embedding FROM embeddings
            WHERE label = {BITEXT_TGT_LABEL}),
    fs AS (
      SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
             round(list_cosine_similarity(s.embedding::DOUBLE[],
                                          t.embedding::DOUBLE[]), 4) AS cosine
      FROM src s, tgt t),
    fk AS (SELECT * FROM (
      SELECT *, row_number() OVER (PARTITION BY src_id
                                   ORDER BY cosine DESC, tgt_id) AS r
      FROM fs) WHERE r <= {k}),
    bk AS (SELECT * FROM (
      SELECT *, row_number() OVER (PARTITION BY tgt_id
                                   ORDER BY cosine DESC, src_id) AS r
      FROM fs) WHERE r <= {k}),
    sf AS (SELECT src_id, CAST(sum(CAST(round(cosine*{s}) AS BIGINT)) AS BIGINT)
                  AS sum_fwd FROM fk GROUP BY src_id),
    sb AS (SELECT tgt_id, CAST(sum(CAST(round(cosine*{s}) AS BIGINT)) AS BIGINT)
                  AS sum_bwd FROM bk GROUP BY tgt_id),
    cand AS (
      SELECT f.src_id, f.tgt_id, f.cosine,
             CASE WHEN sf.sum_fwd + sb.sum_bwd > 0
                  THEN CAST(2*{k}*CAST(round(f.cosine*{s}) AS BIGINT) AS DOUBLE)
                       / CAST(sf.sum_fwd + sb.sum_bwd AS DOUBLE)
                  END AS margin
      FROM fk f JOIN sf ON sf.src_id = f.src_id
                JOIN sb ON sb.tgt_id = f.tgt_id)
    """


def _bitext_mine_sql() -> str:
    return (
        _bitext_cand_sql()
        + f"""
    , ranked AS (
      SELECT src_id, tgt_id, cosine, margin,
             row_number() OVER (PARTITION BY src_id
                                ORDER BY margin DESC NULLS LAST, tgt_id) AS rank
      FROM cand)
    SELECT src_id, tgt_id, cosine, margin, rank,
           (rank = 1 AND coalesce(margin >= {BITEXT_MARGIN_T}, FALSE)) AS mined
    FROM ranked
    """
    )


@register("bitext_margin_mine", _bitext_mine_sql())
def bitext_margin_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019; the CCMatrix /
    CCAligned parallel-corpus stage of a multilingual training pipeline):
    two label slices of the embeddings table stand in for the two
    language sides; every source vector's BITEXT_K nearest targets are
    scored by the ratio margin and the per-source winner above
    BITEXT_MARGIN_T is flagged `mined`. The margin is an int64/int64
    IEEE division (bit-identical across engines), so the threshold
    compare and the rank order are exact — see
    operators/similarity.py:bitext_margin_candidates for the scale
    shape (pluggable kNN: IVF/PQ at 10^12 rows; everything downstream
    is k-row-per-vector keyed joins)."""
    e = _td(spark, sf_dir, "embeddings")
    src = e.filter(F.col("label") == BITEXT_SRC_LABEL)
    tgt = e.filter(F.col("label") == BITEXT_TGT_LABEL)
    cand = similarity.bitext_margin_candidates(src, tgt, k=BITEXT_K)
    w = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc_nulls_last(), F.col("tgt_id")
    )
    return cand.withColumn("rank", F.row_number().over(w)).withColumn(
        "mined",
        (F.col("rank") == 1)
        & F.coalesce(F.col("margin") >= BITEXT_MARGIN_T, F.lit(False)),
    )


def _bitext_mutual_sql() -> str:
    return f"""
    WITH src AS (SELECT vec_id, embedding FROM embeddings
                 WHERE label = {BITEXT_SRC_LABEL}),
    tgt AS (SELECT vec_id, embedding FROM embeddings
            WHERE label = {BITEXT_TGT_LABEL}),
    fs AS (
      SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
             round(list_cosine_similarity(s.embedding::DOUBLE[],
                                          t.embedding::DOUBLE[]), 4) AS cosine
      FROM src s, tgt t),
    f1 AS (SELECT src_id, tgt_id, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY src_id
                                   ORDER BY cosine DESC, tgt_id) AS r
      FROM fs) WHERE r = 1),
    b1 AS (SELECT src_id, tgt_id FROM (
      SELECT *, row_number() OVER (PARTITION BY tgt_id
                                   ORDER BY cosine DESC, src_id) AS r
      FROM fs) WHERE r = 1)
    SELECT f1.src_id, f1.tgt_id, f1.cosine
    FROM f1 JOIN b1 ON b1.src_id = f1.src_id AND b1.tgt_id = f1.tgt_id
    """


@register("bitext_mutual_top1", _bitext_mutual_sql())
def bitext_mutual_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-nearest-neighbor bitext pairs: (x, y) where y is x's
    single nearest target AND x is y's single nearest source — the
    high-precision mining set (forward-only top-1 admits hub targets
    that "win" many sources; mutuality filters them). Two k=1 kNN
    passes + one equi-join on the pair key; each direction's top-1
    table is |side|-row, so the join is keyed, never a broadcast of a
    corpus-scale side."""
    e = _td(spark, sf_dir, "embeddings")
    src = e.filter(F.col("label") == BITEXT_SRC_LABEL)
    tgt = e.filter(F.col("label") == BITEXT_TGT_LABEL)
    f1 = similarity.cosine_topk_bruteforce(
        tgt,
        src.select(F.col("vec_id").alias("query_id"), "embedding"),
        k=1,
    ).select(F.col("query_id").alias("src_id"), F.col("vec_id").alias("tgt_id"), "cosine")
    b1 = similarity.cosine_topk_bruteforce(
        src,
        tgt.select(F.col("vec_id").alias("query_id"), "embedding"),
        k=1,
    ).select(F.col("vec_id").alias("src_id"), F.col("query_id").alias("tgt_id"))
    return f1.join(b1, ["src_id", "tgt_id"])


def _bitext_eval_sql() -> str:
    """Nests the bitext_margin_mine and bitext_mutual_top1 oracles
    verbatim so the eval grades exactly the two registered queries."""
    return f"""
    WITH mine AS ({_bitext_mine_sql()}),
    mutual AS ({_bitext_mutual_sql()}),
    mined AS (SELECT src_id, tgt_id FROM mine WHERE mined),
    ovl AS (SELECT count(*) AS n_overlap
            FROM mined m JOIN mutual u
              ON u.src_id = m.src_id AND u.tgt_id = m.tgt_id)
    SELECT (SELECT count(*) FROM mine) AS n_candidates,
           (SELECT count(*) FROM mined) AS n_mined,
           (SELECT count(*) FROM mutual) AS n_mutual,
           (SELECT n_overlap FROM ovl) AS n_overlap,
           CAST((SELECT count(*) FROM mined) * 1000000
                // (SELECT count(*) FROM mine) AS BIGINT) AS mined_share_ppm
    """


@register("bitext_mine_eval", _bitext_eval_sql())
def bitext_mine_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured agreement between the two mining strategies: how many
    margin-mined winners are also mutual nearest neighbors (the
    precision proxy CCAligned-style pipelines monitor before committing
    a mined corpus to training). Four scalar counts over the two
    k-row-per-vector mining outputs — the eval adds no exchange beyond
    the queries it grades."""
    mine = bitext_margin_mine(spark, sf_dir)
    mutual = bitext_mutual_top1(spark, sf_dir)
    mined = mine.filter("mined").select("src_id", "tgt_id")
    # four 1-row scalar aggregates cross-joined in-plan (the repo's
    # scalar-subquery shape) — no driver-side counts.
    c_cand = mine.agg(F.count(F.lit(1)).alias("n_candidates"))
    c_mined = mined.agg(F.count(F.lit(1)).alias("n_mined"))
    c_mutual = mutual.agg(F.count(F.lit(1)).alias("n_mutual"))
    c_ovl = mined.join(mutual.select("src_id", "tgt_id"), ["src_id", "tgt_id"]).agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return (
        c_cand.crossJoin(c_mined)
        .crossJoin(c_mutual)
        .crossJoin(c_ovl)
        .select(
            "n_candidates",
            "n_mined",
            "n_mutual",
            "n_overlap",
            # integer DIV, not double division: a double quotient can
            # round UP across an integer boundary before the cast.
            F.when(
                F.col("n_candidates") > 0,
                F.expr("n_mined * 1000000L DIV n_candidates"),
            )
            .cast("long")
            .alias("mined_share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# k-center greedy coreset — diversity selection for training-data curation
# ---------------------------------------------------------------------------

KCENTER_K = 6  # centers selected by the greedy sweep


def _kc_dist_sql(a: str) -> str:
    """Cosine-tick distance from vector ``a`` to the center ``c.v``."""
    s = similarity.BITEXT_COS_SCALE
    return f"{s} - CAST(round(round(list_cosine_similarity({a}, c.v), 4)*{s}) AS BIGINT)"


def _kcenter_ctes() -> str:
    """Unrolled SQL mirror of kcenter_greedy: c{i} is the i-th selected
    center (argmax of the running min-distance, ties lowest vec_id),
    d{i} relaxes every vector's min distance against it — the exact
    per-iteration arithmetic the Spark operator runs, at the shared
    round-4 cosine-tick grain."""
    sql = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
    d1 AS (SELECT e.vec_id, e.v, {_kc_dist_sql('e.v')} AS mind
           FROM e, c1 c)"""
    for it in range(2, KCENTER_K + 1):
        sql += f""",
    c{it} AS (SELECT vec_id, v, mind FROM d{it - 1}
              ORDER BY mind DESC, vec_id LIMIT 1),
    d{it} AS (SELECT d.vec_id, d.v,
                     least(d.mind, {_kc_dist_sql('d.v')}) AS mind
              FROM d{it - 1} d, c{it} c)"""
    return sql


def _kcenter_oracle() -> str:
    union = "\n    UNION ALL ".join(
        f"SELECT {it} AS center_rank, vec_id, mind AS radius_ticks FROM c{it}"
        for it in range(2, KCENTER_K + 1)
    )
    return (
        _kcenter_ctes()
        + "\n    SELECT 1 AS center_rank, vec_id, CAST(NULL AS BIGINT) AS radius_ticks FROM c1"
        + "\n    UNION ALL "
        + union
    )


@register("embedding_kcenter_coreset", _kcenter_oracle())
def embedding_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (Gonzalez) diversity coreset over the embedding
    corpus: the KCENTER_K vectors that 2-approximate the minimal
    covering radius under cosine distance — the "pick maximally diverse
    training examples" curation stage (active-learning coreset
    selection), next to the redundancy-driven cuts (SemDeDup, centroid
    outliers) that remove points instead of choosing them.

    Output: (center_rank, vec_id, radius_ticks) — radius_ticks is the
    corpus max-min distance at the moment of selection (NULL for the
    seed) and is non-increasing in rank, the Gonzalez invariant the
    pytest asserts. Distances are int64 cosine-ticks at the shared
    round-4 grain, so both engines select identical centers.

    Scale shape (see operators/similarity.kcenter_greedy): the corpus
    is read ONCE into a persisted (id, vector) projection; each of the
    k iterations reduces it map-side to a 1-row argmax via max/max_by
    partial aggregation — NEVER a constant-key window over the corpus —
    and broadcasts the new center back (whitelisted 1-row
    BroadcastNestedLoopJoins, the ann_topk_ivf_lloyd shape). The only
    data motion is the 1-row center per iteration."""
    emb = _td(spark, sf_dir, "embeddings")
    centers, _ = similarity.kcenter_greedy(emb, KCENTER_K)
    return centers


def _kcenter_eval_oracle() -> str:
    k = KCENTER_K
    return (
        _kcenter_ctes()
        + f""",
    fk AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k}),
    fd AS (SELECT e.vec_id, min({_kc_dist_sql('e.v')}) AS mind
           FROM e, fk c GROUP BY e.vec_id),
    kcs AS (SELECT max(mind) AS radius_kcenter_ticks,
                   CAST(sum(mind) AS BIGINT) AS sum_kcenter_ticks,
                   count(*) AS n_vectors
            FROM d{k}),
    fks AS (SELECT max(mind) AS radius_firstk_ticks,
                   CAST(sum(mind) AS BIGINT) AS sum_firstk_ticks
            FROM fd)
    SELECT {k} AS k, n_vectors, radius_kcenter_ticks, sum_kcenter_ticks,
           radius_firstk_ticks, sum_firstk_ticks
    FROM kcs, fks"""
    )


@register("coreset_coverage_eval", _kcenter_eval_oracle())
def coreset_coverage_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured coverage of the k-center coreset vs the naive baseline
    (the k lowest vec_ids, i.e. "just take the first k you stored"):
    covering radius (max over the corpus of distance-to-nearest-center)
    and total coverage cost (sum of those distances), both in exact
    int64 ticks. The monitoring row a curation pipeline reads before
    trusting a diversity-sampled subset — the same measured-eval shape
    as ann_pq_recall_eval / dedup_minhash_eval.

    Scale shape: the k-center state arrives from the greedy sweep (k
    scans, 1-row broadcasts); the baseline needs one TakeOrderedAndProject
    (per-partition top-k, k rows to the driver — never a global sort),
    one k-row broadcast fanout, and one vec_id-keyed min. The two 1-row
    stat aggregates cross-join in-plan (whitelisted)."""
    emb = _td(spark, sf_dir, "embeddings")
    _, state = similarity.kcenter_greedy(emb, KCENTER_K)
    e = emb.select("vec_id", F.col("embedding").alias("v"))
    firstk = e.orderBy("vec_id").limit(KCENTER_K).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("c_v")
    )
    fd = (
        e.crossJoin(F.broadcast(firstk))
        .select("vec_id", similarity._cos_dist_ticks(F.col("v"), F.col("c_v")).alias("d"))
        .groupBy("vec_id")
        .agg(F.min("d").alias("mind"))
    )
    kcs = state.agg(
        F.max("mind").alias("radius_kcenter_ticks"),
        F.sum("mind").alias("sum_kcenter_ticks"),
        F.count("*").alias("n_vectors"),
    )
    fks = fd.agg(
        F.max("mind").alias("radius_firstk_ticks"),
        F.sum("mind").alias("sum_firstk_ticks"),
    )
    return kcs.crossJoin(fks).select(
        F.lit(KCENTER_K).alias("k"),
        "n_vectors",
        "radius_kcenter_ticks",
        "sum_kcenter_ticks",
        "radius_firstk_ticks",
        "sum_firstk_ticks",
    )


# ---------------------------------------------------------------------------
# Matryoshka-truncation recall eval
# ---------------------------------------------------------------------------

# retrieval runs on the first MRL_DIMS of the 64-dim embedding
MRL_DIMS = 16


def _mrl_recall_oracle() -> str:
    """Nests ann_topk_cosine's oracle twice — once verbatim (the truth)
    and once with both vectors prefix-sliced to MRL_DIMS (the truncated
    ranking) — so the eval grades exactly the registered exact ranking
    against the same ranking run on the truncated prefix."""
    from .text_queries import _ORACLES as _TQ_ORACLES

    truth_sql = _TQ_ORACLES["ann_topk_cosine"]
    trunc_sql = truth_sql.replace(
        "list_cosine_similarity(c.embedding, q.embedding)",
        f"list_cosine_similarity(c.embedding[1:{MRL_DIMS}], q.embedding[1:{MRL_DIMS}])",
    )
    return f"""
    WITH truth AS (SELECT * FROM ({truth_sql}) _tr),
    tr AS (SELECT * FROM ({trunc_sql}) _tc),
    joined AS (
      SELECT t.query_id, t.rank AS truth_rank,
             CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM truth t
      LEFT JOIN tr p ON p.query_id = t.query_id AND p.vec_id = t.vec_id)
    SELECT query_id,
           CAST(sum(hit) AS BIGINT) AS n_hits,
           CAST(sum(hit) * 1000000 // {TOPK} AS BIGINT) AS recall_ppm,
           (max(CASE WHEN truth_rank = 1 THEN hit ELSE 0 END) = 1) AS top1_hit
    FROM joined GROUP BY query_id
    """


@register("ann_matryoshka_recall", _mrl_recall_oracle())
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval eval (Kusupati et al. 2022,
    "Matryoshka Representation Learning"; public): recall@{TOPK} of
    ranking on only the FIRST {MRL_DIMS} of 64 embedding dimensions
    against the full-dimension exact ranking — the measurement behind
    the now-standard serving pattern where a 4x-shorter prefix powers
    the first-stage scan (4x less bandwidth and memory — at a 10^12-row
    corpus the difference between an in-RAM and an on-disk index) and
    the full vector only reranks survivors. Output mirrors
    ann_pq_recall_eval, so the two compression strategies (prefix
    truncation vs product quantization) are directly comparable per
    query on the same truth; a synthetic-embedding caveat applies to
    absolute numbers (MRL-trained models front-load information;
    these embeddings don't), which is exactly why the eval MEASURES
    instead of assumes.

    Scale shape: two brute-force rankings over the shared
    Arrow-batched matmul scorer (the prefix ranking slices JVM-side
    before Python, so the scorer moves {MRL_DIMS}/64 of the bytes),
    then a (query, vec) equi-join of two {TOPK}-row-per-query tables
    and a |queries|-row rollup — the eval adds no exchange beyond the
    rankings it grades (same discipline as ann_pq_recall_eval)."""
    e = _td(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = similarity.cosine_topk_bruteforce(e, queries, k=TOPK)
    e16 = e.select("vec_id", F.slice("embedding", 1, MRL_DIMS).alias("embedding"))
    q16 = queries.select(
        "query_id", F.slice("embedding", 1, MRL_DIMS).alias("embedding")
    )
    trunc = similarity.cosine_topk_bruteforce(e16, q16, k=TOPK)
    joined = truth.alias("t").join(
        trunc.alias("p"),
        (F.col("t.query_id") == F.col("p.query_id"))
        & (F.col("t.vec_id") == F.col("p.vec_id")),
        "left",
    )
    hit = F.when(F.col("p.vec_id").isNotNull(), 1).otherwise(0)
    return (
        joined.select(
            F.col("t.query_id").alias("query_id"),
            F.col("t.rank").alias("truth_rank"),
            hit.alias("hit"),
        )
        .groupBy("query_id")
        .agg(
            F.sum("hit").cast("long").alias("n_hits"),
            F.expr(f"CAST(sum(hit) * 1000000 div {TOPK} AS BIGINT)").alias(
                "recall_ppm"
            ),
            (
                F.max(F.when(F.col("truth_rank") == 1, F.col("hit")).otherwise(0)) == 1
            ).alias("top1_hit"),
        )
    )
