"""Text-analysis operators: language ID, quality scoring, token counting
(training-data-pipeline additions).

Everything here is pure JVM expression (built-in functions) — no UDFs —
so the hot path stays inside whole-stage codegen and every operator has
an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# stopword markers per language for the marker-vote language ID.
# Deliberately tiny and deterministic — a real system would use character
# n-gram profiles; the operator shape (per-language score -> argmax via
# greatest/struct-max) is what scales.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "es": ["el", "la", "los", "de", "que", "y", "es", "una"],
    "fr": ["le", "la", "les", "et", "des", "que", "est", "une"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["it", "for", "on", "with", "as", "was"]


def _count_markers(text_col: Column, words: list[str]) -> Column:
    """# tokens of text that are in `words` — via array intersection-free
    filter (JVM-side), counting duplicates."""
    toks = F.split(text_col, " ")
    lit_words = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(lit_words, t)))


def lang_id_cols(text_col: Column) -> Column:
    """Best-scoring language by marker-word vote; 'und' when all zero.

    Argmax is encoded arithmetically (score * n_langs + lang_rank) so the
    exact same integer comparison runs in the DuckDB oracle; ties break
    toward the lexicographically larger language code."""
    langs = sorted(LANG_MARKERS)  # rank = lexicographic position
    n = len(langs)
    encoded = [
        (_count_markers(text_col, LANG_MARKERS[lang]) * n + rank).cast("long")
        for rank, lang in enumerate(langs)
    ]
    best = F.greatest(*encoded)
    rank = F.pmod(best, F.lit(n))
    lang_expr = F.element_at(F.array(*[F.lit(l) for l in langs]), (rank + 1).cast("int"))
    return F.when((best / n).cast("long") > 0, lang_expr).otherwise(F.lit("und"))


def quality_score_cols(text_col: Column) -> list[Column]:
    """Quality-heuristic columns (Gopher/C4-style ratios, public
    literature): length, mean word length, stopword ratio, alpha ratio,
    digit ratio."""
    toks = F.split(text_col, " ")
    n_tokens = F.when(text_col == "", 0).otherwise(F.size(toks))
    n_chars = F.length(text_col)
    n_alpha = F.length(F.regexp_replace(text_col, r"[^a-zA-Z]", ""))
    n_digit = F.length(F.regexp_replace(text_col, r"[^0-9]", ""))
    n_stop = _count_markers(text_col, STOPWORDS_EN)
    return [
        n_tokens.alias("n_tokens"),
        F.when(n_tokens > 0, F.round((n_chars - (n_tokens - 1)) / n_tokens, 4)).otherwise(0.0).alias(
            "mean_word_len"
        ),
        F.when(n_tokens > 0, F.round(n_stop / n_tokens, 4)).otherwise(0.0).alias("stopword_ratio"),
        F.when(n_chars > 0, F.round(n_alpha / n_chars, 4)).otherwise(0.0).alias("alpha_ratio"),
        F.when(n_chars > 0, F.round(n_digit / n_chars, 4)).otherwise(0.0).alias("digit_ratio"),
    ]


# GPT-2-style pre-tokenizer (ASCII subset so Java regex and DuckDB RE2
# agree byte-for-byte): optional-space-led letter runs, digit runs, and
# other-symbol runs — the standard BPE pre-split shape. The whitespace
# class is explicit because Java's \s includes \x0B while RE2's does not.
BPE_PRETOKEN_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\f]+"


def token_count_cols(text_col: Column) -> list[Column]:
    """Whitespace tokens + two BPE-ish estimates: the ~4-chars-per-token
    heuristic and a GPT-2-style pre-tokenizer regex match count."""
    toks = F.when(text_col == "", 0).otherwise(F.size(F.split(text_col, " ")))
    # subword estimate: ceil(chars_without_spaces / 4) — the standard
    # ~4-chars-per-token heuristic, exactly reproducible in SQL
    ink = F.length(F.replace(text_col, F.lit(" "), F.lit("")))
    return [
        toks.alias("ws_tokens"),
        F.ceil(ink / 4).cast("long").alias("est_bpe_tokens"),
        F.size(F.regexp_extract_all(text_col, F.lit(BPE_PRETOKEN_RE), F.lit(0)))
        .cast("long")
        .alias("bpe_pretokens"),
    ]


def with_repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, public
    literature): duplicate-word fraction, top-unigram coverage, and
    top-bigram coverage, plus the keep/cut decision (keep while
    dup_word_frac <= 0.9 and top_bigram_frac <= 0.10).

    The n-gram modes are computed relationally — explode n-grams,
    count per (doc, gram), max per doc — so both shuffles are keyed by
    doc_id and combine map-side; nothing is quadratic in document length
    and nothing leaves the executors. Empty and one-word documents skip
    the explode entirely (no degenerate sequence()).
    """
    # ONE scan of the text column: unigrams and bigrams leave the row as
    # a single tagged explode; n_words / n_distinct fall out of the
    # unigram counts (sum and count of the per-gram groups), so no
    # second pass over the wide column is ever needed. Empty documents
    # produce no grams — they re-enter via a right join against a
    # doc_id-only scan (column-pruned, reads none of the text).
    wdf = (
        df.filter(F.col("text") != "")
        .select(F.col("doc_id"), F.split(F.col("text"), " ").alias("_w"))
    )
    # sequence(0, n-2) flips to a descending [0, -1] when n < 2 (Spark
    # auto-negates the step), so the bigram arm must be gated explicitly
    bigram_structs = F.when(
        F.size("_w") >= 2,
        F.expr(
            "transform(sequence(0, size(_w) - 2), "
            "i -> struct(2 as typ, concat(_w[i], ' ', _w[i+1]) as gram))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<typ:int,gram:string>>"))
    grams = wdf.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(
                    F.col("_w"),
                    lambda w: F.struct(F.lit(1).alias("typ"), w.alias("gram")),
                ),
                bigram_structs,
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.typ").alias("typ"), F.col("g.gram").alias("gram"))

    per_gram = grams.groupBy("doc_id", "typ", "gram").agg(F.count("*").alias("c"))
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum(F.when(F.col("typ") == 1, F.col("c"))).cast("long").alias("_nw"),
        F.count(F.when(F.col("typ") == 1, True)).alias("_nd"),
        F.max(F.when(F.col("typ") == 1, F.col("c"))).alias("_top1"),
        F.max(F.when(F.col("typ") == 2, F.col("c"))).alias("_top2"),
    )
    stats = (
        df.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_nw"), F.lit(0)).cast("int").alias("n_words"),
            F.when(
                F.coalesce(F.col("_nw"), F.lit(0)) > 0,
                F.round(1 - F.col("_nd").cast("double") / F.col("_nw"), 6),
            )
            .otherwise(0.0)
            .alias("dup_word_frac"),
            F.round(
                F.coalesce(F.col("_top1"), F.lit(0)).cast("double")
                / F.greatest(F.coalesce(F.col("_nw"), F.lit(0)), F.lit(1)),
                6,
            ).alias("top_word_frac"),
            F.round(
                F.coalesce(F.col("_top2"), F.lit(0)).cast("double") * 2
                / F.greatest(F.coalesce(F.col("_nw"), F.lit(0)), F.lit(1)),
                6,
            ).alias("top_bigram_frac"),
            F.coalesce(F.col("_top2"), F.lit(0)).alias("_top2c"),
        )
    )
    # the bigram cut requires the top bigram to actually repeat — a short
    # all-distinct doc has top_bigram_frac = 2/n, which would spuriously
    # trip a fixed threshold below n = 2/threshold words
    return stats.withColumn(
        "keep",
        (F.col("dup_word_frac") <= 0.9)
        & ((F.col("top_bigram_frac") <= 0.10) | (F.col("_top2c") < 2)),
    ).drop("_top2c")


DUP_SPAN_WINDOW = 8  # tokens per shared span window (with_dup_span_coverage)


def with_dup_span_coverage(df: DataFrame) -> DataFrame:
    """Exact-substring duplication coverage (the Lee et al. 2022
    "Deduplicating Training Data" shape, windowed for Spark): a token
    position is duplicated if any DUP_SPAN_WINDOW-gram covering it occurs in
    more than one document; emit the covered fraction per doc plus the
    keep/cut decision (keep while dup_span_frac <= 0.2).

    Plan shape: one explode of stride-1 windows, a map-side-combinable
    distinct-doc count per gram, an equi-join back on the gram, and a
    doc_id-keyed distinct-position count — every shuffle is keyed, no
    driver collection, no cross product. At real scale the gram string
    would be md5'd to narrow the exchange; kept raw here so the oracle
    joins on the same bytes.
    """
    toks = F.split(F.col("text"), " ")
    # empty/null docs stay in the output (n_tokens=0, frac=0, keep) —
    # a curation filter must emit a verdict for every input doc, like
    # with_repetition_stats does
    t = df.select(
        F.col("doc_id"),
        toks.alias("_tk"),
        F.when(F.coalesce(F.col("text"), F.lit("")) == "", F.lit(0))
        .otherwise(F.size(toks))
        .alias("n_tokens"),
    )
    wins = t.filter(F.col("n_tokens") >= DUP_SPAN_WINDOW).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_tokens") - DUP_SPAN_WINDOW)).alias("i"),
        "_tk",
    ).select(
        "doc_id", "i", F.array_join(F.slice("_tk", F.col("i") + 1, DUP_SPAN_WINDOW), " ").alias("gram")
    )
    dup_grams = (
        wins.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    covered = (
        wins.join(dup_grams, "gram")
        .select("doc_id", F.explode(F.sequence(F.col("i"), F.col("i") + DUP_SPAN_WINDOW - 1)).alias("p"))
        .groupBy("doc_id")
        .agg(F.countDistinct("p").alias("_cov"))
    )
    return (
        t.select("doc_id", "n_tokens")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce(F.col("_cov"), F.lit(0)).cast("double") / F.col("n_tokens"), 6
                )
            )
            .alias("dup_span_frac"),
        )
        .withColumn("keep", F.col("dup_span_frac") <= 0.2)
    )
