"""Deduplication operators over document text — the training-data-pipeline
additions (task brief: exact, MinHash+LSH, SimHash, n-gram Jaccard).

All hashing is engine-portable (deterministic arithmetic over token/shingle
bytes) so DuckDB oracles can recompute candidates where SQL allows;
the LSH pieces expose rows-only checks.

Scale notes (100 TB):
* exact dedup = hash groupBy — one shuffle on a 16-byte key, map-side
  combinable;
* MinHash signatures are computed in one pass inside an Arrow batch UDF
  (numpy (n_shingles x n_perm) min-reduce), then LSH banding turns the
  O(n^2) similarity join into an equi-join on (band, bucket) — the
  canonical shuffle-friendly shape;
* SimHash reduces each doc to one 64-bit int; near-dup candidates join
  on rotated prefix buckets, Hamming distance verified with JVM-side
  bit_count (no Python in the verify step).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# MinHash parameters: 64 permutations, 8 bands x 8 rows
N_PERM = 64
N_BANDS = 8
ROWS_PER_BAND = N_PERM // N_BANDS
MERSENNE = (1 << 61) - 1
SHINGLE_K = 3  # token 3-grams


def _perm_params() -> tuple[np.ndarray, np.ndarray]:
    """Deterministic permutation coefficients (seeded, odd a)."""
    rng = np.random.RandomState(42)
    a = rng.randint(1, MERSENNE, size=N_PERM, dtype=np.int64) | 1
    b = rng.randint(0, MERSENNE, size=N_PERM, dtype=np.int64)
    return a, b


_PERM_A, _PERM_B = _perm_params()


# Per-worker token-hash memo: web corpora have a Zipfian vocabulary, so
# most tokens repeat across documents within a task; memoizing the md5
# turns the dominant per-shingle Python hashing cost into a dict lookup.
_TOKEN_MEMO: dict[str, int] = {}
# per Python WORKER process (local[32] runs 32 of them): 500k entries is
# ~60-80 MB each, ~2 GB fleet-wide worst case; the Zipf head that drives
# the hit rate fits comfortably. Cleared (not evicted) when full.
_TOKEN_MEMO_MAX = 500_000

# Shingle hash = polynomial combination of the k token hashes mod 2^64
# (native uint64 wraparound in numpy; mirrored with UHUGEINT arithmetic
# in the DuckDB oracle). Coefficients are odd and < 2^61 so each
# UHUGEINT product term stays < 2^125 (no 128-bit overflow in SQL).
SHINGLE_P = np.array(
    [0x1D8E4E27C47D124F, 0x09E3779B97F4A7C1, 0x05851F42D4C957F3], dtype=np.uint64
)


def _token_hashes(tokens: list[str]) -> np.ndarray:
    from hashlib import md5

    memo = _TOKEN_MEMO
    out = np.empty(len(tokens), dtype=np.uint64)
    for i, t in enumerate(tokens):
        h = memo.get(t)
        if h is None:
            if len(memo) >= _TOKEN_MEMO_MAX:
                memo.clear()
            h = int.from_bytes(md5(t.encode("utf-8")).digest()[:8], "big")
            memo[t] = h
        out[i] = h
    return out


def _shingle_hashes(text: str) -> np.ndarray:
    """Stable 64-bit hashes of token SHINGLE_K-shingles. Tokens are hashed once
    (first 8 bytes of md5, big-endian — DuckDB reproduces it exactly as
    ('0x' || left(md5(t),16))::UBIGINT) and combined per shingle with the
    SHINGLE_P polynomial mod 2^64 — one vectorized numpy pass instead of
    one Python md5 call per shingle. Documents shorter than SHINGLE_K
    tokens fall back to md5 of the whole text (one call)."""
    from hashlib import md5

    k = SHINGLE_K
    tokens = text.split(" ") if text else []
    if len(tokens) < k:
        joined = " ".join(tokens)
        return np.array(
            [int.from_bytes(md5(joined.encode("utf-8")).digest()[:8], "big")],
            dtype=np.uint64,
        )
    th = _token_hashes(tokens)
    out = th[: -(k - 1)] * SHINGLE_P[0]
    for j in range(1, k):
        end = len(th) - (k - 1) + j
        out = out + th[j:end] * SHINGLE_P[j]
    return out


def minhash_signature(text: str) -> np.ndarray:
    """(N_PERM,) int64 signature: min over shingles of the multiply-shift
    hash family h_j(x) = (a_j * x + b_j) mod 2^64 — native uint64 wraparound,
    fully vectorized (S x N_PERM matrix min-reduce per doc)."""
    x = _shingle_hashes(text)
    m = x[:, None] * _PERM_A[None, :].astype(np.uint64) + _PERM_B[None, :].astype(np.uint64)
    return (m.min(axis=0) >> np.uint64(1)).astype(np.int64)


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_udf(text: pd.Series) -> pd.Series:
    return text.fillna("").map(lambda t: minhash_signature(t).tolist())


def with_minhash(df: DataFrame) -> DataFrame:
    return df.withColumn("minhash", minhash_udf(F.col("text")))


# Default cap on LSH bucket size before the candidate self-join. One
# pathological band value (boilerplate-identical or near-empty docs) makes
# the join output quadratic in that bucket's size; the standard LSH-dedup
# practice is to drop (or sample) over-cap buckets — their members are
# boilerplate clusters better handled by exact dedup on content hash.
MAX_BUCKET = 256


def _cap_buckets(bands: DataFrame, keys: list[str]) -> DataFrame:
    """Drop rows in over-populated buckets (count per key > MAX_BUCKET)
    via a window count over the bucket key. A window (not a second
    aggregate branch) matters twice over: the signature UDF upstream is
    the expensive stage and a second branch would re-evaluate it, and the
    window's shuffle is on the SAME key the candidate self-join uses, so
    the exchange is reused."""
    w = Window.partitionBy(*keys)
    return (
        bands.withColumn("_bn", F.count("*").over(w))
        .filter(F.col("_bn") <= MAX_BUCKET)
        .drop("_bn")
    )


def lsh_dropped_buckets(df: DataFrame, max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Monitoring twin of lsh_candidate_pairs: the (band_id, band_hash)
    buckets whose size exceeds the cap, with member counts — what a crawl
    operator alerts on (dropped candidates are countable as n*(n-1)/2)."""
    bands = _minhash_bands(df)
    return (
        bands.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket)
    )


def _minhash_bands(df: DataFrame) -> DataFrame:
    sig = with_minhash(df.select("doc_id", "text"))
    return sig.select(
        F.col("doc_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda b: F.slice(F.col("minhash"), b * ROWS_PER_BAND + 1, ROWS_PER_BAND),
            )
        ).alias("band_id", "band_rows"),
    ).select("doc_id", "band_id", F.xxhash64(F.col("band_rows").cast("array<string>")).alias("band_hash"))


def lsh_candidate_pairs(df: DataFrame) -> DataFrame:
    """MinHash + LSH banding: candidate near-duplicate pairs (id_a < id_b).

    Shape: signature UDF -> explode bands -> groupBy-free *equi-join* on
    (band_id, band_hash) -> distinct pairs. At cluster scale the join key
    is uniformly distributed (hash buckets); buckets larger than
    MAX_BUCKET are dropped before the self-join so one degenerate band
    value cannot fan out quadratically (the DuckDB oracle mirrors the cut).
    """
    bands = _cap_buckets(_minhash_bands(df), ["band_id", "band_hash"])

    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


_SIMHASH_BITS = 63  # 63 bits keep the packed value in signed-int64 range,
# which lets the DuckDB oracle rebuild it without two's-complement gymnastics


@F.pandas_udf(T.LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    """63-bit SimHash over tokens: md5-based token hashes (the same
    DuckDB-reproducible scheme as MinHash, memoized per worker), +-1 bit
    votes, vectorized (T x 63 bit matrix per doc)."""
    shifts = np.arange(_SIMHASH_BITS, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).astype(np.int64)

    def simhash(t: str) -> int:
        x = _token_hashes(t.split(" "))
        bits = ((x[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
        votes = (2 * bits - 1).sum(axis=0)
        return int((weights * (votes > 0)).sum())

    return text.fillna("").map(simhash)


def with_simhash(df: DataFrame) -> DataFrame:
    return df.withColumn("simhash", simhash_udf(F.col("text")))


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit chunks (any doc pair
    within Hamming distance 3 of 64 bits shares at least one of 4 exact
    16-bit chunks — pigeonhole), verify with JVM bit_count. Chunk buckets
    over MAX_BUCKET members are dropped before the self-join (same
    degenerate-bucket guard as lsh_candidate_pairs, mirrored in the oracle)."""
    sh = with_simhash(df.select("doc_id", "text"))
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.shiftrightunsigned(F.col("simhash"), k * 16).bitwiseAND(F.lit(0xFFFF)) for k in range(4)])
        ).alias("chunk_id", "chunk"),
    )
    chunks = _cap_buckets(chunks, ["chunk_id", "chunk"])
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, relational — SQL-oracle friendly)
# ---------------------------------------------------------------------------


def _doc_shingles(df: DataFrame) -> DataFrame:
    """(doc_id, shingles) — distinct token SHINGLE_K-shingles per doc,
    whole-text fallback below SHINGLE_K tokens. The single definition both the Jaccard cut
    and its monitoring twin use: they MUST see the same shingle set."""
    toks = F.split(F.col("text"), " ")
    return df.select(
        F.col("doc_id"),
        F.array_distinct(
            F.when(
                F.size(toks) >= SHINGLE_K,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - SHINGLE_K),
                    lambda i: F.array_join(F.slice(toks, i + 1, SHINGLE_K), " "),
                ),
            ).otherwise(F.array(F.col("text")))
        ).alias("shingles"),
    )


def ngram_dropped_shingles(df: DataFrame, max_df: int = 30) -> DataFrame:
    """Monitoring twin of ngram_jaccard_pairs' stop-shingle cut (same
    role lsh_dropped_buckets plays for MinHash): which shingles exceed
    ``max_df`` and in how many documents — each dropped shingle forfeits
    df*(df-1)/2 intersection rows, so a crawl operator watches this to
    tune the cut. One map-side-combinable aggregate on the shingle."""
    return (
        _doc_shingles(df)
        .select(F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("doc_freq"))
        .filter(F.col("doc_freq") > max_df)
    )


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.8, max_df: int | None = None) -> DataFrame:
    """Exact Jaccard over token SHINGLE_K-shingles, relationally:

    explode distinct shingles -> self-equi-join on shingle -> count
    intersections -> Jaccard = inter / (|A| + |B| - inter).

    Pure built-ins (transform/sequence/array_distinct/explode), one
    shuffle on the shingle key. A hot shingle fans out quadratically in
    the self-join; ``max_df`` drops shingles present in more than that
    many documents from BOTH the intersection and the set sizes (the
    standard stop-shingle cut — Jaccard over the discriminative shingle
    set). The DuckDB oracles mirror the same cut exactly.
    """
    scored = _shingle_pair_intersections(df, max_df)
    return (
        scored.select(
            "id_a",
            "id_b",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _shingle_pair_intersections(df: DataFrame, max_df: int | None) -> DataFrame:
    """Shared pipeline under both shingle dedup operators: explode
    distinct shingles, apply the max_df stop-shingle cut, self-join on
    the shingle key, and return (id_a, id_b, n_inter, n_a, n_b) — the
    intersection counts every set-similarity score derives from. One
    shuffle on the shingle key; a change to the cut or the join lands in
    Jaccard AND containment at once."""
    shingled = _doc_shingles(df)
    exploded = shingled.select("doc_id", F.explode("shingles").alias("shingle"))
    if max_df is not None:
        dfreq = exploded.groupBy("shingle").agg(F.count("*").alias("_df"))
        exploded = (
            exploded.join(dfreq.filter(F.col("_df") <= max_df), "shingle")
            .select("doc_id", "shingle")
        )
        sizes = exploded.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    else:
        sizes = shingled.select("doc_id", F.size("shingles").alias("n_shingles"))

    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def ngram_containment_pairs(df: DataFrame, max_df: int | None = None) -> DataFrame:
    """Asymmetric containment pairs: containment(A in B) = |A∩B| / |A|
    over token SHINGLE_K-shingles. Catches partial scrapes and long quotes —
    a small doc wholly contained in a large one has high containment
    but LOW Jaccard (the union is dominated by the big doc), so
    symmetric Jaccard dedup misses exactly these pairs; this operator
    returns pairs where either direction's containment clears 900 000
    ppm, flagging ``jaccard_missed`` for the ones a Jaccard pass at
    800 000 ppm would not catch.

    All scores are exact integer ppm (floor division) — no doubles, so
    the DuckDB oracle matches bit for bit. Same single shingle-keyed
    shuffle and max_df stop-shingle cut as ``ngram_jaccard_pairs``.
    """
    scored = _shingle_pair_intersections(df, max_df).select(
        "id_a",
        "id_b",
        "n_inter",
        F.expr("n_inter * 1000000 div n_a").alias("cont_a_ppm"),
        F.expr("n_inter * 1000000 div n_b").alias("cont_b_ppm"),
        F.expr("n_inter * 1000000 div (n_a + n_b - n_inter)").alias("jaccard_ppm"),
    )
    return scored.filter(
        F.greatest("cont_a_ppm", "cont_b_ppm") >= 900_000
    ).withColumn("jaccard_missed", F.col("jaccard_ppm") < 800_000)
