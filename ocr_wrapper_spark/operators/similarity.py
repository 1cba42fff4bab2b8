"""Similarity search over embedding columns (array<float>).

Every operator reads the embeddings schema: a corpus of
(vec_id long, embedding array) rows, queries keyed by query_id, and a
label column where an operator needs one.

* exact and compressed top-k (brute-force cosine, int8 codes, PQ/ADC,
  label-masked hard negatives) — one shared Arrow scan, ``_scan_topk``:
  each batch's embedding column becomes one float64 matrix, the
  operator scores it against the collected query side with one matrix
  product, and only each query's batch-local top-k leaves the batch;
  the ``_topk`` window ranks those rows as it would the full matrix;
* IVF and LSH variants — candidates meet in an equi-join on a cluster
  or (plane-signature prefix) bucket key and are scored by JVM
  expressions, turning the N x Q cross product into bucket-local work.

At 100 TB the broadcast side is the query set (small), the corpus stays
partitioned; Catalyst broadcasts automatically under the threshold and we
hint it explicitly.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_PLANES = 16
LSH_DIM = 64  # embedding width the random hyperplanes of cosine_topk_lsh span


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def _topk(scored: DataFrame, k: int, score: str) -> DataFrame:
    """Per-query top-k of (query_id, vec_id, score) rows: score desc, id
    asc — the tie-break every oracle mirrors for cross-engine determinism."""
    w = Window.partitionBy("query_id").orderBy(F.col(score).desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _matrix(col: pa.ListArray) -> np.ndarray:
    """A list<float> Arrow column as one (rows, dim) float64 matrix.
    A null row or rows of unequal length raise, so values are never
    realigned across rows; float32 -> float64 keeps every value."""
    if col.null_count:
        raise ValueError("null embedding row")
    lengths = np.diff(np.asarray(col.offsets))
    dim = int(lengths[0]) if len(lengths) else 0
    if (lengths != dim).any():
        raise ValueError("embedding rows of unequal length")
    values = col.flatten().to_numpy(zero_copy_only=False)
    return values.astype(np.float64).reshape(len(col), dim)


def _local_topk(S: np.ndarray, ids: np.ndarray, k: int, drop: np.ndarray):
    """(row, column) indices of each column's top-k in the (rows, queries)
    score matrix S under ``_topk``'s window order: score descending, then
    id ascending. A NaN score (a zero-norm vector's cosine) sorts last:
    it leaves the scan as NULL, which Spark's descending order ranks
    after every value. Pairs that ``drop`` marks never rank."""
    keys = (np.broadcast_to(ids[:, None], S.shape), -S, drop)
    rows = np.lexsort(keys, axis=0)[:k]
    cols = np.broadcast_to(np.arange(S.shape[1]), rows.shape)
    kept = ~drop[rows, cols]
    return rows[kept], cols[kept]


def _scan_topk(corpus: DataFrame, q_cols: list[np.ndarray], score, k: int, schema: str,
               drop=None) -> DataFrame:
    """The Arrow scan every matrix-scored top-k operator shares.

    ``corpus`` holds ``embedding``, ``vec_id`` and any columns to pass
    through; ``score`` maps a batch's (rows, dim) embedding matrix to its
    (rows, queries) score matrix, and ``drop(batch)``, if given, marks
    the pairs that may not rank. Each batch emits only its per-query
    top-k: the global top-k is a subset of the union of the batch-local
    top-k's under the same order, so the ``_topk`` window over the
    union ranks exactly as over the full matrix, while at most k rows
    per (query, batch) reach the JVM. Output columns, named by
    ``schema``: ``q_cols`` (query_id first) indexed by query, the
    corpus columns other than embedding indexed by row, then the score."""
    names = T.StructType.fromDDL(schema).fieldNames()
    passed = [c for c in corpus.columns if c != "embedding"]

    def scan(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            S = score(_matrix(batch.column("embedding")))
            ids = batch.column("vec_id").to_numpy()
            mask = np.zeros(S.shape, dtype=bool) if drop is None else drop(batch)
            rows, cols = _local_topk(S, ids, k, mask)
            arrays = [pa.array(c[cols]) for c in q_cols]
            arrays += [batch.column(c).take(pa.array(rows)) for c in passed]
            arrays.append(pa.array(S[rows, cols], from_pandas=True))  # NaN -> NULL
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return _topk(corpus.mapInArrow(scan, schema=schema), k, names[-1])


def _query_side(queries: DataFrame, *cols: str):
    """The collected query side: query ids (int64), the (queries, dim)
    float64 embedding matrix, then each of ``cols`` as an array. It is
    the small side by construction and travels in the task closure."""
    rows = queries.select("query_id", "embedding", *cols).collect()
    q_ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    Q = np.asarray([r[1] for r in rows], dtype=np.float64)
    return (q_ids, Q, *(np.asarray([r[2 + i] for r in rows]) for i in range(len(cols))))


def _unit(V: np.ndarray) -> np.ndarray:
    return V / np.linalg.norm(V, axis=1, keepdims=True)


def cosine_topk_bruteforce(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity; rank computed
    on the score rounded to 4 digits, the grain the oracles round to. All
    (query, corpus) scores of a batch come from one numpy matmul (~50x the
    per-pair JVM expression for dim-64 vectors)."""
    q_ids, Q = _query_side(queries)
    Qn = _unit(Q)
    return _scan_topk(
        corpus.select("vec_id", "embedding"),
        [q_ids],
        lambda M: np.round(_unit(M) @ Qn.T, 4),
        k,
        "query_id long, vec_id long, cosine double",
    )


ZERO_NORM_EPS = 1e-100  # below this max|v| a vector counts as zero


def _quantize_i8(V: np.ndarray) -> np.ndarray:
    """Per-vector symmetric int8 scalar quantization: q = floor(v * 127 /
    max|v| + 0.5). floor(x + 0.5) instead of numpy's round-half-even so
    DuckDB's floor reproduces every code exactly. (Near-)zero vectors
    quantize to all-zero codes instead of NaN garbage — the oracle
    mirrors the same m < eps branch."""
    m = np.abs(V).max(axis=1, keepdims=True)
    zero = m < ZERO_NORM_EPS
    safe_m = np.where(zero, 1.0, m)
    codes = np.floor(V * (127.0 / safe_m) + 0.5).astype(np.int32)
    return np.where(zero, 0, codes)


def cosine_topk_int8(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Quantized brute-force top-k: vectors scalar-quantized to int8
    (per-vector symmetric scale), cosine computed on the integer codes.
    The scale cancels in the cosine, so this approximates the float
    score to ~1/127 while reading 4 bytes/dim less — at 100 TB of
    embeddings the scan is memory-bandwidth-bound and the quantized
    corpus is 4x smaller (int8 SIMD dot on real hardware). Integer dot
    products are order-exact, which is what makes the DuckDB oracle an
    exact mirror rather than a tolerance check."""
    q_ids, Q = _query_side(queries)
    Q = _quantize_i8(Q).astype(np.int64)
    qnorm = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))

    def score(M):
        C = _quantize_i8(M).astype(np.int64)
        cnorm = np.sqrt((C * C).sum(axis=1).astype(np.float64))
        # integer dot products are order-exact; only the final divide +
        # round touch floats, so DuckDB reproduces every score
        # bit-for-bit. The norm-product floor keeps zero-code vectors at
        # cosine 0 instead of 0/0 NaN (oracle mirrors it).
        D = (C @ Q.T).astype(np.float64)
        return np.round(D / np.maximum(cnorm[:, None] * qnorm[None, :], ZERO_NORM_EPS), 6)

    return _scan_topk(
        corpus.select("vec_id", "embedding"), [q_ids], score, k,
        "query_id long, vec_id long, cosine double",
    )


# Above this corpus size collecting the corpus for the broadcast matmul
# would exhaust driver memory; cosine_near_pairs raises instead.
BROADCAST_LIMIT = 200_000
NEAR_PAIR_THRESHOLD = 0.4  # the synthetic embeddings are near-orthogonal


def cosine_near_pairs(corpus: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    NEAR_PAIR_THRESHOLD): one numpy matmul per Arrow batch against the
    broadcast corpus matrix — exact, O(n) driver memory (dim-64 float64
    is 0.5 KB/row). The corpus is collected while the query is built,
    after a column-pruned count that enforces the driver-memory guard: a
    corpus over BROADCAST_LIMIT rows raises."""
    n = corpus.select("vec_id").count()
    if n > BROADCAST_LIMIT:
        raise ValueError(
            f"corpus has {n} rows > broadcast_limit {BROADCAST_LIMIT} "
            "(collect+broadcast would exhaust driver memory)"
        )
    rows = corpus.select("vec_id", "embedding").collect()
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    Mn = _unit(np.asarray([r[1] for r in rows], dtype=np.float64))
    order = np.argsort(ids)
    ids, Mn = ids[order], Mn[order]

    spark = corpus.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_m = spark.sparkContext.broadcast(Mn)

    def op(batches):
        all_ids, all_m = b_ids.value, b_m.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            a_ids = batch.column("vec_id").to_numpy()
            S = np.round(_unit(_matrix(batch.column("embedding"))) @ all_m.T, 4)
            ii, jj = np.nonzero((S >= NEAR_PAIR_THRESHOLD) & (a_ids[:, None] < all_ids[None, :]))
            yield pa.RecordBatch.from_arrays(
                [pa.array(a_ids[ii]), pa.array(all_ids[jj]), pa.array(S[ii, jj])],
                names=["id_a", "id_b", "cosine"],
            )

    return corpus.select("vec_id", "embedding").mapInArrow(
        op, schema="id_a long, id_b long, cosine double"
    )


# IVF coarse quantizer: the first N_CENTROIDS corpus vectors act as the
# (deterministic) centroid seeds — k-means init without Lloyd rounds, so
# the DuckDB oracle can recompute every assignment exactly. At real
# scale the seeds would be refined by distributed Lloyd iterations; the
# query-side structure (assign -> probe top clusters -> in-cluster
# rerank) is identical either way and is what this operator exercises.
N_CENTROIDS = 16
N_PROBE = 4  # random embeddings scatter true neighbors across clusters;
# probing 4/16 lists reads 25% of the corpus for ~0.7 recall here
_CODE_OFFSET = 2_000_000  # shift rounded-cosine codes positive before packing


def _cluster_code_matrix(Vn: np.ndarray, Cn: np.ndarray, n_centroids: int) -> np.ndarray:
    """Packed (rounded-cosine, centroid-id) codes: sortable ints whose
    descending order is (cosine desc, cid asc) — the arithmetic argmax
    trick the DuckDB oracle mirrors (greatest() takes no structs)."""
    S = np.round(Vn @ Cn.T, 6)
    codes = (
        np.rint(S * 1e6 + _CODE_OFFSET).astype(np.int64) * n_centroids
        + (n_centroids - 1 - np.arange(n_centroids, dtype=np.int64))
    )
    return codes


def top_clusters_pandas_udf(Cn: np.ndarray, n_centroids: int, n_top: int):
    """Vectorized top-n_top coarse-centroid assignment (one matmul per
    Arrow batch) on the packed-code argmax the DuckDB oracle mirrors.
    Shared by ivf_topk_cosine and the SemDeDup cluster assignment."""
    import pandas as pd

    def udf(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.asarray(vecs.tolist(), dtype=np.float64)
        codes = _cluster_code_matrix(_unit(V), Cn, n_centroids)
        order = np.argsort(-codes, axis=1, kind="stable")[:, :n_top]
        return pd.Series([row.astype("int32").tolist() for row in order])

    # type hints as objects: pandas is not a module global, so the
    # string hints of this module's annotations would not resolve
    udf.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return F.pandas_udf(T.ArrayType(T.IntegerType()))(udf)


def seed_centroids(corpus: DataFrame, n_centroids: int = N_CENTROIDS) -> np.ndarray:
    """The deterministic centroid seeds (first n_centroids corpus
    vectors by id) as a float64 matrix — n_centroids x dim, driver-side
    by construction."""
    seeds = sorted(
        corpus.filter(F.col("vec_id") < n_centroids).select("vec_id", "embedding").collect(),
        key=lambda r: r[0],
    )
    return np.asarray([r[1] for r in seeds], dtype=np.float64)


MEAN_ROUND = 6  # Lloyd centroid means rounded at 1e-6 so the float64
# accumulation-order noise (~1e-15, Spark partition order vs DuckDB scan
# order) can never reach the value the oracle recomputes


def lloyd_refine(corpus: DataFrame, C: np.ndarray, n_iter: int = 1) -> np.ndarray:
    """Distributed Lloyd iteration(s) over the coarse centroids.

    Each iteration: assign every corpus vector to its best centroid
    (same packed-code argmax the query path uses), accumulate per-cluster
    (sum, count) partials inside each partition via mapInArrow (<=
    n_centroids rows per partition — the shuffle is numPartitions x
    n_centroids rows, never the corpus), element-wise-sum the partials in
    Spark (posexplode -> groupBy(cluster, pos)), and take the mean
    rounded at 1e-6. Only the n_centroids x dim result reaches the
    driver. Empty clusters keep their previous centroid.

    The rounding makes the refined centroids engine- and
    partitioning-deterministic: float32 inputs summed in float64 differ
    across orders by ~1e-15, eight orders below the rounding grain.
    """
    n_centroids, dim = C.shape
    for _ in range(n_iter):
        Cn = _unit(C)

        def partials(batches):
            sums = np.zeros((n_centroids, dim), dtype=np.float64)
            counts = np.zeros(n_centroids, dtype=np.int64)
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                V = _matrix(batch.column("embedding"))
                best = np.argmax(_cluster_code_matrix(_unit(V), Cn, n_centroids), axis=1)
                np.add.at(sums, best, V)
                np.add.at(counts, best, 1)
            hit = np.nonzero(counts)[0]
            if hit.size:
                vsum = pa.ListArray.from_arrays(
                    pa.array(np.arange(hit.size + 1, dtype=np.int32) * dim), pa.array(sums[hit].ravel())
                )
                yield pa.RecordBatch.from_arrays(
                    [pa.array(hit.astype(np.int32)), pa.array(counts[hit]), vsum],
                    names=["cluster", "cnt", "vsum"],
                )

        parts = corpus.select("embedding").mapInArrow(
            partials, schema="cluster int, cnt long, vsum array<double>"
        )
        summed = (
            parts.select("cluster", "cnt", F.posexplode("vsum").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.sum("v").alias("s"), F.sum("cnt").alias("n"))
            .collect()
        )  # n_centroids x dim rows — tiny at any corpus scale
        C_new = C.copy()
        counts_total = np.zeros(n_centroids, dtype=np.int64)
        sums_total = np.zeros((n_centroids, dim), dtype=np.float64)
        for r in summed:
            sums_total[r["cluster"], r["pos"]] = r["s"]
            counts_total[r["cluster"]] = r["n"]
        hit = counts_total > 0
        C_new[hit] = np.round(sums_total[hit] / counts_total[hit, None], MEAN_ROUND)
        C = C_new
    return C


def ivf_topk_cosine(corpus: DataFrame, queries: DataFrame, k: int = 5, lloyd_iters: int = 0) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are
    assigned to their best coarse centroid once (the inverted lists);
    each query probes its N_PROBE closest centroids and reranks
    exactly inside those lists only. The candidate set meets in an
    equi-join on cluster id — corpus stays partitioned, nothing large on
    the driver (centroids are N_CENTROIDS x dim).

    ``lloyd_iters`` > 0 refines the seeded centroids with distributed
    k-means iterations (lloyd_refine) before building the lists —
    tighter clusters, better recall per probed list at real scale."""
    C = seed_centroids(corpus)
    if lloyd_iters:
        C = lloyd_refine(corpus, C, n_iter=lloyd_iters)
    Cn = _unit(C)

    def top_clusters_udf(n_top: int):
        return top_clusters_pandas_udf(Cn, N_CENTROIDS, n_top)

    # norms are computed ONCE per corpus row / per probe row and carried
    # through the join as scalars; per-candidate work is then a single
    # dot-product fold instead of three O(dim) array folds (the norm of
    # a vector does not depend on the candidate pair).
    assigned = corpus.select(
        F.col("vec_id"),
        F.col("embedding"),
        _norm(F.col("embedding")).alias("_cnorm"),
        F.element_at(top_clusters_udf(1)(F.col("embedding")), 1).alias("cluster"),
    )
    probes = queries.select(
        F.col("query_id"),
        F.col("embedding").alias("_qvec"),
        _norm(F.col("embedding")).alias("_qnorm"),
        F.explode(top_clusters_udf(N_PROBE)(F.col("embedding"))).alias("cluster"),
    )
    cand = assigned.join(F.broadcast(probes), "cluster").select(
        "query_id",
        "vec_id",
        F.col("embedding").alias("_cvec"),
        "_qvec",
        "_cnorm",
        "_qnorm",
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        F.round(
            _dot(F.col("_cvec"), F.col("_qvec")) / (F.col("_cnorm") * F.col("_qnorm")), 4
        ).alias("cosine"),
    )
    return _topk(scored, k, "cosine")


def _random_planes() -> np.ndarray:
    rng = np.random.RandomState(7)
    return rng.standard_normal((N_PLANES, LSH_DIM)).astype(np.float64)


def hyperplane_signature_col(vec_col, planes: np.ndarray):
    """Bit signature: sign of dot(vec, plane_i) per plane, as a packed long.
    Built entirely from JVM expressions (no UDF): per plane an aggregate
    dot product against literal coefficients."""
    bits = []
    for i, plane in enumerate(planes):
        coeffs = F.array(*[F.lit(float(v)) for v in plane])
        d = F.aggregate(F.zip_with(vec_col, coeffs, lambda x, c: x * c), F.lit(0.0), lambda a, v: a + v)
        bits.append(F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("long"))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def cosine_topk_lsh(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH bucketing + exact rerank
    inside buckets. 4 bands of 4 planes each; candidates = bucket
    collisions in any band (union via posexplode of band keys)."""
    planes = _random_planes()
    n_bands = 4
    per_band = N_PLANES // n_bands

    def banded(df, idc):
        sig = df.withColumn("_sig", hyperplane_signature_col(F.col("embedding"), planes))
        return sig.select(
            F.col(idc),
            F.col("embedding"),
            F.posexplode(
                F.array(
                    *[
                        F.shiftrightunsigned(F.col("_sig"), band * per_band)
                        .bitwiseAND(F.lit((1 << per_band) - 1))
                        .alias(f"b{band}")
                        for band in range(n_bands)
                    ]
                )
            ).alias("band_id", "bucket"),
        )

    cb = banded(corpus.select("vec_id", "embedding"), "vec_id")
    qb = banded(queries.select("query_id", "embedding"), "query_id")

    cand = (
        cb.alias("c")
        .join(
            F.broadcast(qb.alias("q")),
            (F.col("c.band_id") == F.col("q.band_id")) & (F.col("c.bucket") == F.col("q.bucket")),
        )
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("c.vec_id").alias("vec_id"),
            F.col("c.embedding").alias("_cvec"),
            F.col("q.embedding").alias("_qvec"),
        )
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        F.round(
            _dot(F.col("_cvec"), F.col("_qvec")) / (_norm(F.col("_cvec")) * _norm(F.col("_qvec"))), 6
        ).alias("cosine"),
    )
    return _topk(scored, k, "cosine")


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-scan ANN path
# ---------------------------------------------------------------------------

# dim-64 embeddings split into PQ_M subspaces of dim/PQ_M dims; each
# subvector is coded as the L2-nearest of PQ_K seeded codewords, so a
# vector stores as PQ_M 4-bit codes (4 bytes) instead of 64 floats
# (256 bytes) — the 64x scan compression that makes 10^12-row ANN
# memory-bandwidth-feasible. Codewords are the subvectors of the first
# PQ_K corpus vectors (same deterministic seeding as the IVF coarse
# quantizer, N_CENTROIDS above) so the DuckDB oracle recomputes every
# code and every ADC score exactly.
PQ_M = 8
PQ_K = 16
# assignment scores are round(2*dot(v,c) - |c|^2, 6); for unit-norm
# vectors that sits in [-3, 2], so a 4e6 shift keeps every packed code
# positive (packed = (score*1e6 + offset)*PQ_K + tiebreak < 2^27).
_PQ_OFFSET = 4_000_000


def pq_codebook(corpus: DataFrame) -> np.ndarray:
    """Seeded PQ codebook (M, K, ds): subvectors of the first K corpus
    vectors. K rows collected — a provably tiny side at any corpus
    scale (like seed_centroids); a production variant would Lloyd-refine
    per subspace exactly as lloyd_refine does for IVF."""
    rows = corpus.filter(F.col("vec_id") < PQ_K).select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r[0])
    V = np.asarray([r[1] for r in rows], dtype=np.float64)  # (K, dim)
    if V.shape[0] != PQ_K:
        raise ValueError(f"need {PQ_K} seed vectors, found {V.shape[0]}")
    dim = V.shape[1]
    if dim % PQ_M:
        raise ValueError(f"dim {dim} not divisible by {PQ_M} subspaces")
    return V.reshape(PQ_K, PQ_M, dim // PQ_M).transpose(1, 0, 2).copy()


def pq_encode_batch(Vm: np.ndarray, C: np.ndarray) -> np.ndarray:
    """PQ codes (b, M) for a batch: per subspace, the L2-argmin codeword
    via the packed argmax of round(2*dot(v,c) - |c|^2, 6) (|v|^2 is
    constant per subvector so argmin L2 == argmax of this) — the same
    sortable-int trick as _cluster_code_matrix, lowest code id wins
    rounded ties, and the DuckDB oracle mirrors the packing."""
    n_k = C.shape[1]
    S = 2.0 * np.einsum("bmd,mkd->bmk", Vm, C) - (C * C).sum(axis=2)[None, :, :]
    pack = np.rint(np.round(S, 6) * 1e6 + _PQ_OFFSET).astype(np.int64) * n_k + (
        n_k - 1 - np.arange(n_k, dtype=np.int64)
    )
    best = pack.max(axis=2)
    # the code decode relies on floor-mod == trunc-mod, i.e. best >= 0:
    # numpy % floors while DuckDB % truncates, so a negative pack (a
    # vector far outside the unit-norm envelope _PQ_OFFSET covers) must
    # fail loudly here rather than silently diverge from the oracle.
    if best.size and best.min() < 0:
        raise ValueError("PQ pack underflow: vector norms exceed the _PQ_OFFSET envelope")
    return (n_k - 1 - (best % n_k)).astype(np.int64)


def pq_query_lut(Q: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Integer ADC lookup tables (nq, M, K): micro-scaled subspace dot
    products round(dot(q_sub, codeword), 6)*1e6 as int64. Summing M
    integer entries is order-exact, so the final ADC score carries no
    float-accumulation noise for the oracle to miss."""
    m_sub, n_k, ds = C.shape
    Qm = Q.reshape(Q.shape[0], m_sub, ds)
    D = np.einsum("qmd,mkd->qmk", Qm, C)
    return np.rint(np.round(D, 6) * 1e6).astype(np.int64)


def pq_topk_adc(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """PQ top-k via asymmetric distance computation: the shared scan
    encodes each Arrow batch to 4-bit codes and scores the codes against
    per-query integer LUTs (a table lookup + int sum per candidate — no
    float math in the scan). The query side and the K-row codebook
    travel in the closure; the corpus is read once and never shuffles
    until the per-query top-k window."""
    C = pq_codebook(corpus)
    q_ids, Q = _query_side(queries)
    lut = pq_query_lut(Q, C)  # (nq, M, K)
    m_idx = np.arange(PQ_M)

    def score(M):
        codes = pq_encode_batch(M.reshape(len(M), PQ_M, -1), C)
        # gather (nq, b, M) LUT entries and sum subspaces: int64-exact
        return lut[:, np.broadcast_to(m_idx, codes.shape), codes].sum(axis=2).T

    return _scan_topk(
        corpus.select("vec_id", "embedding"), [q_ids], score, k,
        "query_id long, vec_id long, adc_micros long",
    )


def hard_negative_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Contrastive hard-negative mining: per query, the k most
    cosine-similar corpus vectors whose label DIFFERS from the query's —
    the pairs a contrastive trainer wants. The label mask is the shared
    scan's ``drop`` input: a same-label pair never ranks."""
    q_ids, Q, q_lab = _query_side(queries, "label")
    q_lab = q_lab.astype(np.int32)
    Qn = _unit(Q)
    return _scan_topk(
        corpus.select("vec_id", "embedding", "label"),
        [q_ids, q_lab],
        lambda M: np.round(_unit(M) @ Qn.T, 4),
        k,
        "query_id long, query_label int, vec_id long, neg_label int, cosine double",
        drop=lambda batch: batch.column("label").to_numpy()[:, None] == q_lab[None, :],
    )


# ---------------------------------------------------------------------------
# bitext mining (margin criterion)
# ---------------------------------------------------------------------------

BITEXT_COS_SCALE = 10_000  # round(cos, 4) * 1e4 — exact int64 "cosine ticks"


def _cos_ticks(cos_col):
    """round(cos,4)*1e4 is within ~1e-9 of an integer in float64, so a
    final half-up round before the cast lands on the same int64 in Spark
    and DuckDB regardless of their round-half conventions."""
    return F.round(cos_col * BITEXT_COS_SCALE).cast("long")


def bitext_margin_candidates(src: DataFrame, tgt: DataFrame, k: int = 4) -> DataFrame:
    """Margin-based bitext candidate scoring (Artetxe & Schwenk 2019,
    the CCMatrix mining criterion): for every source vector x, score its
    k nearest target vectors y by

        margin(x, y) = cos(x, y) / ((avg_fwd(x) + avg_bwd(y)) / 2)

    where avg_fwd(x) is the mean cosine of x's k nearest targets and
    avg_bwd(y) the mean cosine of y's k nearest sources — the ratio
    penalizes "hub" vectors that are near everything.

    Exactness: cosines are rounded to 4 digits then scaled to int64
    ticks; the margin is published as ONE IEEE division of two
    exactly-representable int64s (2*k*cos_ticks / (sum_fwd + sum_bwd)),
    bit-identical across engines — no libm, no float accumulation.
    A non-positive denominator (degenerate geometry: the kNN shells sum
    to <= 0) yields NULL margin.

    Scale shape: the kNN stage is the exact arrow scorer
    (cosine_topk_bruteforce). At 10^12 rows both language sides are
    corpus-scale, so the kNN would swap to the IVF/PQ path (ivf_topk_cosine / pq_topk_adc) exactly like the ann_*
    family — everything downstream of the kNN is k-row-per-vector
    tables: two keyed sums of |src| and |tgt| rows and two equi-joins
    back onto the k*|src|-row candidate set. Nothing below this line
    ever touches the |src| x |tgt| score matrix.
    """
    s_q = src.select(F.col("vec_id").alias("query_id"), "embedding")
    t_q = tgt.select(F.col("vec_id").alias("query_id"), "embedding")
    fwd = cosine_topk_bruteforce(tgt, s_q, k=k).select(
        F.col("query_id").alias("src_id"),
        F.col("vec_id").alias("tgt_id"),
        "cosine",
    )
    bwd = cosine_topk_bruteforce(src, t_q, k=k).select(
        F.col("query_id").alias("tgt_id"),
        F.col("vec_id").alias("src_id"),
        "cosine",
    )
    sum_fwd = fwd.groupBy("src_id").agg(F.sum(_cos_ticks(F.col("cosine"))).alias("sum_fwd"))
    sum_bwd = bwd.groupBy("tgt_id").agg(F.sum(_cos_ticks(F.col("cosine"))).alias("sum_bwd"))
    den = F.col("sum_fwd") + F.col("sum_bwd")
    return (
        # keyed equi-joins, NOT broadcast hints: sum_fwd/sum_bwd are
        # |src|- and |tgt|-row tables (corpus-scale at 10^12); AQE
        # broadcasts them when they are actually small.
        fwd.join(sum_fwd, "src_id")
        .join(sum_bwd, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            "cosine",
            F.when(
                den > 0,
                (F.lit(2 * k) * _cos_ticks(F.col("cosine"))).cast("double") / den.cast("double"),
            ).alias("margin"),
        )
    )

# ---------------------------------------------------------------------------
# k-center greedy coreset (Gonzalez max-min selection)
# ---------------------------------------------------------------------------


def _cos_dist_ticks(a, b):
    """Cosine distance in int64 ticks: 10^4 * (1 - round(cos, 4)) — the
    same round-then-scale grain every ANN/bitext oracle uses, so both
    engines agree bit-for-bit (a vector's distance to itself is 0)."""
    cos = F.round(_dot(a, b) / (_norm(a) * _norm(b)), 4)
    return F.lit(BITEXT_COS_SCALE) - _cos_ticks(cos)


def kcenter_greedy(vectors: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """Gonzalez greedy k-center over cosine distance: seed with the
    lowest id (the 2-approximation guarantee holds for ANY seed), then
    repeatedly pick the vector farthest from its nearest selected
    center (ties: lowest id). The classic diversity-coreset selection
    for training-data curation — the k points that cover the embedding
    space with the smallest max distance, up to a factor of 2.

    Returns (centers, state): centers has one row per selection
    (center_rank, vec_id, radius_ticks — the max-min distance at the
    moment of selection, NULL for the seed; non-increasing in rank),
    state is the final per-vector coverage (vec_id, mind = distance in
    ticks to the nearest of the k centers).

    Scale shape: each of the k iterations reduces the corpus to a 1-row
    argmax via partial-aggregated max/max_by (map-side combine — never a
    constant-key window over the corpus) and broadcasts that row back to
    relax per-vector minima. The (id, vector) projection is persisted
    once (the bpe_learn_merges idiom), so the unrolled lineage re-runs
    only cheap cached narrow maps, not source scans: one read + k 1-row
    broadcasts total, no corpus shuffle anywhere. Degenerate corpora
    (max-min
    distance 0, i.e. every vector already coincides with a center) keep
    selecting the seed's duplicate deterministically — identical on
    both engines, asserted by the degeneracy test."""
    from pyspark import StorageLevel

    # the vec_id alias keeps this cached projection from standing in for
    # the caller's own (vec_id, embedding AS v) projections of the table
    e = vectors.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("v")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    seed = e.agg(F.min_by(F.struct("vec_id", "v"), F.col("vec_id")).alias("c")).select(
        F.col("c.vec_id").alias("c_id"), F.col("c.v").alias("c_v")
    )
    state = e.crossJoin(F.broadcast(seed)).select(
        "vec_id", "v", _cos_dist_ticks(F.col("v"), F.col("c_v")).alias("mind")
    )
    centers = seed.select(
        F.lit(1).alias("center_rank"),
        F.col("c_id").alias("vec_id"),
        F.lit(None).cast("long").alias("radius_ticks"),
    )
    for it in range(2, k + 1):
        # persist the per-iteration state: iteration i's 1-row argmax
        # job otherwise re-executes the whole unrolled relax chain
        # (i-1 distance evaluations per vector), turning k iterations
        # into O(k^2) distance work; with the cache each argmax reads
        # the previous iteration's materialized minima and computes
        # exactly ONE new distance per vector. Integer-tick distances,
        # so materialization cannot perturb results.
        state = state.persist(StorageLevel.MEMORY_AND_DISK)
        ordk = F.struct(F.col("mind"), (-F.col("vec_id")).alias("nid"))
        top = state.agg(
            F.max(ordk).alias("o"),
            F.max_by(F.col("v"), ordk).alias("c_v"),
        ).select(
            F.col("o.mind").alias("radius_ticks"),
            (-F.col("o.nid")).alias("c_id"),
            "c_v",
        )
        centers = centers.unionByName(
            top.select(
                F.lit(it).alias("center_rank"),
                F.col("c_id").alias("vec_id"),
                "radius_ticks",
            )
        )
        state = state.crossJoin(F.broadcast(top.drop("radius_ticks"))).select(
            "vec_id",
            "v",
            F.least(F.col("mind"), _cos_dist_ticks(F.col("v"), F.col("c_v"))).alias("mind"),
        )
    return centers, state.select("vec_id", "mind")
