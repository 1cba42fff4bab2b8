"""PII redaction columns for training-data curation.

Regex-only (JVM ``regexp_replace`` / ``regexp_extract_all``, no Python
in the loop), using a conservative pattern subset that parses and
matches identically under Java regex (Spark) and RE2 (DuckDB) — the
same cross-engine discipline as BPE_PRETOKEN_RE in textstats.py:

* emails     — ``local@domain.tld``
* IPv4       — four dot-separated 1-3 digit octets
* intl phone — ``+`` followed by 7..15 digits

Each match is replaced by a typed placeholder token so downstream
tokenization sees a stable vocabulary item instead of a hole.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\+[0-9]{7,15}"

# order matters: emails contain dots and digits, so they are replaced
# before the IPv4/phone passes can see their fragments
_PASSES = [
    (EMAIL_RE, "<EMAIL>"),
    (IPV4_RE, "<IP>"),
    (PHONE_RE, "<PHONE>"),
]


def redacted_col(text_col: Column) -> Column:
    """The text with every PII match replaced by its placeholder."""
    out = text_col
    for pattern, token in _PASSES:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_count_cols(text_col: Column) -> list[Column]:
    """Per-type match counts (computed on the raw text, pre-redaction)."""
    cleaned = text_col
    cols: list[Column] = []
    names = ["n_emails", "n_ips", "n_phones"]
    for (pattern, _), name in zip(_PASSES, names):
        cols.append(
            F.size(F.regexp_extract_all(cleaned, F.lit(pattern), F.lit(0)))
            .cast("long")
            .alias(name)
        )
        # later passes must not re-count fragments of earlier matches
        cleaned = F.regexp_replace(cleaned, pattern, "")
    return cols


def with_pii_redaction(df):
    c = F.col("text")
    return df.select(
        "*",
        redacted_col(c).alias("redacted_text"),
        *pii_count_cols(c),
    )
