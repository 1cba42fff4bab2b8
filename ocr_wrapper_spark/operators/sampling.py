"""Deterministic stratified sampling for training-mix construction.

A training corpus is rarely used as-is: each source gets a weight —
downsample boilerplate-heavy crawls, repeat high-quality sources for
multiple epochs (the public LLaMA/Pile recipe shape). Rates are
per-stratum:

* rate < 1  — Bernoulli downsample at that rate
* rate >= 1 — every doc appears floor(rate) times, plus one more with
  probability frac(rate) (fractional epochs)

Selection uses the same Knuth multiplicative hash as doc_train_split:
``u = ((id * 2654435761) % 2^32) / 2^32`` — deterministic across runs,
partitionings, and cluster sizes, exactly reproducible in SQL. The
whole operator is narrow (filter + explode, no shuffle); only the
monitoring rollup aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KNUTH = 2654435761
MOD = 4294967296


def knuth_hash(key):
    """The Knuth multiplicative hash ``(key * 2654435761) mod 2^32`` of an
    integral column as an exact long in [0, 2^32), for the full int64 id
    range.

    (x * K) computed directly overflows int64 once x >= ~3.47e9 (Spark
    4's default ANSI mode throws, non-ANSI wraps negative), so split the
    key's low 32 bits (two's complement: key mod 2^32) into 16-bit halves
    with bit operations: (lo*K + ((hi*K) mod 2^16) * 2^16) mod 2^32 —
    every intermediate stays below 2^49, and the key appears twice in
    the expression. The SQL oracles compute the same value with
    arithmetic mods (KNUTH_U_SQL).
    """
    lo = key.bitwiseAND(0xFFFF)
    hi = F.shiftright(key, 16).bitwiseAND(0xFFFF)
    return (lo * KNUTH + F.shiftleft((hi * KNUTH).bitwiseAND(0xFFFF), 16)).bitwiseAND(MOD - 1)


def knuth_u(key):
    """Uniform-in-[0,1) Knuth hash of an integral column:
    ``knuth_hash(key) / 2^32``, an exact dyadic rational."""
    return knuth_hash(key).cast("double") / float(MOD)


# SQL mirror of knuth_u for DuckDB oracles — format with the key
# expression, e.g. KNUTH_U_SQL.format(k="doc_id"). The double-% mod
# mirrors Spark's pmod for negative keys too (DuckDB % keeps the
# dividend sign); every intermediate stays below 2^49, as in knuth_hash.
_NONNEG = "((({k}) % 4294967296 + 4294967296) % 4294967296)"
KNUTH_U_SQL = (
    f"(({_NONNEG} % 65536) * 2654435761 "
    f"+ ({_NONNEG} // 65536 * 2654435761) % 4294967296 * 65536) "
    "% 4294967296 / 4294967296.0"
)


def stratified_sample(df: DataFrame, rates: dict[str, float], default_rate: float = 1.0) -> DataFrame:
    """Rows of ``df`` repeated per the rate of their ``source`` stratum,
    keyed by ``doc_id``; ``epoch`` column numbers the copies (1-based).
    Zero-shuffle: filter + explode only."""
    mapping = F.create_map(
        *[x for k, v in sorted(rates.items()) for x in (F.lit(k), F.lit(float(v)))]
    )
    rate = F.coalesce(mapping[F.col("source")], F.lit(float(default_rate)))
    u = knuth_u(F.col("doc_id"))
    n_copies = F.floor(rate).cast("int") + (u < (rate - F.floor(rate))).cast("int")
    return (
        df.withColumn("_n", n_copies)
        .filter(F.col("_n") > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), F.col("_n"))))
        .drop("_n")
    )


def source_mix_summary(df: DataFrame, rates: dict[str, float], default_rate: float = 1.0) -> DataFrame:
    """Per-stratum monitoring rollup of the sample: total rows emitted
    (epochs included) and unique docs kept."""
    sampled = stratified_sample(df, rates, default_rate)
    return sampled.groupBy("source").agg(
        F.count("*").alias("n_samples"),
        F.countDistinct("doc_id").alias("n_unique"),
    )
