"""URL canonicalization for crawl dedup.

Pure JVM string/array expressions (no UDF), mirrored 1:1 by DuckDB SQL
in the registered oracle. Canonical form:

* scheme and host lowercased, userinfo dropped
* leading ``www.`` stripped; default port stripped (``:80`` for http,
  ``:443`` for https)
* empty path becomes ``/``
* query params: tracking params removed (``utm_*``, ``fbclid``,
  ``gclid``, ``ref``), the rest sorted byte-wise, empty query dropped
* fragment dropped

The regexes stay inside the Java-regex/RE2 shared dialect so Spark and
DuckDB agree byte-for-byte (same discipline as textstats.BPE_PRETOKEN_RE).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|ref)(=|$)"


def canonical_url_col(url_col: Column) -> Column:
    scheme = F.lower(F.regexp_extract(url_col, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_extract(url_col, r"^[A-Za-z][A-Za-z0-9+.-]*://(.*)$", 1)
    hostport = F.regexp_replace(
        F.regexp_extract(rest, r"^([^/?#]*)", 1), r"^[^@]*@", ""
    )
    host = F.lower(hostport)
    host = F.when(scheme == "http", F.regexp_replace(host, r":80$", "")).otherwise(
        F.when(scheme == "https", F.regexp_replace(host, r":443$", "")).otherwise(host)
    )
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract(rest, r"^[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    # strip the fragment BEFORE looking for the query: a '?' inside the
    # fragment ('/p#sec?x=1') is fragment text, not a query
    query = F.regexp_extract(
        F.regexp_replace(url_col, r"#[\s\S]*$", ""), r"\?([\s\S]*)$", 1
    )
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    sorted_q = F.array_join(F.array_sort(kept), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)).otherwise(""),
    )
    # inputs without a scheme (relative refs, junk rows in a crawl
    # frontier) pass through unchanged rather than collapsing to '://…'
    return F.when(scheme == "", url_col).otherwise(canon)


def with_canonical_url(df):
    return df.withColumn("canonical_url", canonical_url_col(F.col("url")))


def canonical_dedup(df):
    """Group by canonical URL: keeper = lowest doc_id, plus duplicate
    count. One hash-aggregate shuffle keyed on the canonical string —
    map-side combinable, scale-safe at crawl size."""
    return (
        with_canonical_url(df)
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_dupes"))
    )
