"""Relational operator exposure: named queries + DuckDB oracle SQL.

Every operator family from SURVEY.md §2 gets at least one checkable query
(driver contract: queries()/oracle_sql() in __spark_entry__.py). Column
names and rounding are aligned on both sides so the driver's
order-insensitive value-hash comparison passes.

Conventions:
* money/value SUMS use integer-cents aggregation (money_sum /
  money_sum_sql): round each row to cents, sum exactly in int64 —
  order-independent, so no float summation order can flip a rounding
  boundary (round(sum(..),2) measurably did at sf0.1: 3 of 11k q3
  groups). Ratios/averages still round (4-6dp) before any comparison;
* timestamps never returned raw — cast to date or epoch seconds;
* every computed column aliased identically in Spark and SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco



def money_sum(expr, alias: str):
    """Order-independent money aggregation: round each row to integer
    cents, sum exactly in int64, scale back. round(sum(double), 2)
    differs between engines when float summation ORDER pushes the sum
    across a half-cent boundary (measured: 3 of 11k q3 groups at sf0.1);
    per-row rounding makes the aggregation associative — any ordering,
    any partitioning, same result. SQL mirror (inlined in each oracle):
    CAST(sum(CAST(round((expr) * 100) AS BIGINT)) AS DOUBLE) / 100.
    round-to-INTEGER is the only cross-engine-safe rounding; int64 holds
    9.2e16 cents per group (~9e14 dollars), far above any group."""
    return (F.sum(F.round(expr * 100, 0).cast("long")) / 100.0).alias(alias)


# Parallelize-on-read floor: below this input size the per-row compute a
# query can possibly do is too small for a repartition exchange to pay off.
_SPLIT_MIN_BYTES = 256 * 1024


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Bare table read: the scan plans as many tasks as the file has splits."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _td(spark: SparkSession, sf_dir: str, name: str = "documents") -> DataFrame:
    """Spread-scan read (optimization guide §2.5, "input skew: one huge
    unsplittable file ... repartition immediately after the read") — opt-in
    for the queries whose per-row kernel work (per-token/char md5, shingle
    explode, template vote, vector math) survives count-pruning and
    dominated their runtime when the scan planned one task. The test
    corpora are single parquet files with one row group, so a bare scan
    plans ONE task however wide the cluster; a file at or above
    `_SPLIT_MIN_BYTES` gets a round-robin exchange sized to twice the core
    count. Queries whose expensive columns Catalyst prunes keep the bare
    `_t` read: spreading every bare read measured slower on most queries
    (sf0.1 on a 4-core host: 67 of 120 more than 10% slower, 26 faster),
    so no size rule replaces the opt-in. A directory path never spreads
    (its getsize is the inode size)."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    try:
        size = os.path.getsize(path)
    except OSError:
        size = 0
    if size < _SPLIT_MIN_BYTES:
        return df
    return df.repartition(2 * spark.sparkContext.defaultParallelism)


# ---------------------------------------------------------------------------
# aggregation family (SURVEY.md §2.4)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                       AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_base_price,
           CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_disc_price,
           CAST(sum(CAST(round((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_charge,
           round(avg(l_quantity), 4)                                       AS avg_qty,
           round(avg(l_extendedprice), 4)                                  AS avg_price,
           round(avg(l_discount), 4)                                       AS avg_disc,
           count(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            money_sum(F.col("l_extendedprice"), "sum_base_price"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"),
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), "sum_charge"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(round((l_extendedprice * l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(money_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


@register(
    "rollup_order_priority",
    """
    SELECT coalesce(o_orderstatus, 'ALL')   AS o_orderstatus,
           coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
           count(*)                          AS n_orders,
           CAST(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), money_sum(F.col("o_totalprice"), "total_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "pivot_events_by_type",
    """
    SELECT user_id % 100 AS user_bucket,
           CAST(sum(CAST(round((CASE WHEN event_type = 'click' THEN value ELSE 0 END) * 100) AS BIGINT)) AS DOUBLE) / 100 AS click_value,
           CAST(sum(CAST(round((CASE WHEN event_type = 'view' THEN value ELSE 0 END) * 100) AS BIGINT)) AS DOUBLE) / 100 AS view_value,
           CAST(sum(CAST(round((CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) * 100) AS BIGINT)) AS DOUBLE) / 100 AS purchase_value
    FROM events GROUP BY user_id % 100
    """,
)
def pivot_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("user_bucket", F.col("user_id") % 100)
        .groupBy("user_bucket")
        .agg(
            money_sum(F.when(F.col("event_type") == "click", F.col("value")).otherwise(0), "click_value"),
            money_sum(F.when(F.col("event_type") == "view", F.col("value")).otherwise(0), "view_value"),
            money_sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0), "purchase_value"),
        )
    )


@register(
    "events_tumbling_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           count(*)                    AS n_events,
           CAST(sum(CAST(round((value) * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), money_sum(F.col("value"), "total_value"))
    )


# ---------------------------------------------------------------------------
# join family (SURVEY.md §2.3)
# ---------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey AS l_orderkey,
           CAST(sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp_ntz"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp_ntz"))
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name AS n_name,
           CAST(sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@register(
    "semi_join_customers_with_orders",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def semi_join_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "anti_join_customers_without_orders",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "broadcast_dim_join",
    """
    SELECT r.r_name AS r_name, count(*) AS n_suppliers,
           round(avg(s.s_acctbal), 4) AS avg_acctbal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count("*").alias("n_suppliers"), F.round(F.avg("s_acctbal"), 4).alias("avg_acctbal"))
    )


# ---------------------------------------------------------------------------
# window family (SURVEY.md §2.8)
# ---------------------------------------------------------------------------


@register(
    "topk_parts_per_brand",
    """
    SELECT p_brand, p_partkey, p_retailprice FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part) t
    WHERE rn <= 3
    """,
)
def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice")
    )


@register(
    "running_user_value",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
    FROM events WHERE user_id < 50
    """,
)
def running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.filter(F.col("user_id") < 50)
        .select("event_id", "user_id", F.round(F.sum("value").over(w), 2).alias("running_value"))
    )


@register(
    "sessionize_events",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps)
    SELECT user_id, count(DISTINCT session_id) AS n_sessions
    FROM sessions GROUP BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    gaps = e.select(
        "user_id",
        "ts",
        F.when(
            (
                F.col("ts").cast("timestamp_ltz").cast("long")
                - F.lag(F.col("ts")).over(w).cast("timestamp_ltz").cast("long")
                > 1800
            )
            | F.lag(F.col("ts")).over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = gaps.select("user_id", F.sum("new_session").over(wsum).alias("session_id"))
    return sessions.groupBy("user_id").agg(F.countDistinct("session_id").alias("n_sessions"))


# ---------------------------------------------------------------------------
# set-op family (SURVEY.md §2.6)
# ---------------------------------------------------------------------------


@register(
    "setop_nations_cust_supp",
    """
    SELECT n_nationkey, 'both' AS presence FROM (
      SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
      INTERSECT
      SELECT DISTINCT s_nationkey FROM supplier) t
    UNION ALL
    SELECT n_nationkey, 'customer_only' AS presence FROM (
      SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
      EXCEPT
      SELECT DISTINCT s_nationkey FROM supplier) t
    """,
)
def setop_nations_cust_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey")).distinct()
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey")).distinct()
    both = c.intersect(s).withColumn("presence", F.lit("both"))
    cust_only = c.exceptAll(s).withColumn("presence", F.lit("customer_only"))
    return both.unionByName(cust_only)


# ---------------------------------------------------------------------------
# sort / limit family (SURVEY.md §2.5)
# ---------------------------------------------------------------------------


@register(
    "top10_orders_by_price",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def top10_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


# ---------------------------------------------------------------------------
# scalar-function family over documents (SURVEY.md §2.7)
# ---------------------------------------------------------------------------


@register(
    "doc_token_stats",
    """
    SELECT doc_id,
           CASE WHEN text = '' THEN 0 ELSE len(str_split(text, ' ')) END AS n_tokens,
           length(text)                                                  AS n_chars_actual,
           CASE WHEN length(text) > 0
                THEN round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / length(text), 4)
                ELSE 0.0 END                                             AS ink_ratio
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.when(F.col("text") == "", 0)
        .otherwise(F.size(F.split(F.col("text"), " ")))
        .alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.when(
            F.length("text") > 0,
            F.round(F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / F.length("text"), 4),
        )
        .otherwise(0.0)
        .alias("ink_ratio"),
    )


@register(
    "doc_exact_dedup",
    """
    SELECT md5(text) AS text_hash, count(*) AS n_copies,
           min(doc_id) AS keeper_doc_id
    FROM documents GROUP BY md5(text) HAVING count(*) >= 1
    """,
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bare read, no scan-spread: the per-row work is ONE md5 of the text
    # and the partial aggregation collapses rows before the fp-keyed
    # exchange, so a pre-repartition of the raw text costs more than the
    # single-task map it saves (measured 0.32 -> 0.69 s at sf1.0).
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        d.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
    )


# ---------------------------------------------------------------------------
# additional TPC-H-ish coverage (filters, conditional aggs, correlated
# subqueries, disjunctive pushdown, having, distinct aggs, cube)
# ---------------------------------------------------------------------------


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    cand = o.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp_ntz"))
    )
    matched = cand.join(
        l, (F.col("l_orderkey") == F.col("o_orderkey")) & (F.col("l_shipdate") > F.col("o_orderdate")), "left_semi"
    )
    return matched.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "q10_returned_items",
    """
    SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
           CAST(sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue,
           n.n_name AS n_name
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l.filter(F.col("l_returnflag") == "R"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@register(
    "q12_shipmode_priority",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue",
    """
    SELECT CAST(round(100.00 * sum(CAST(round((CASE WHEN p_type LIKE 'PROMO%%'
                                   THEN l_extendedprice * (1 - l_discount) ELSE 0 END) * 100) AS BIGINT))
                 / sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) * 10000)
            AS BIGINT) / 10000.0 AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.round(
                    100.0
                    * F.sum(F.round(F.when(F.col("p_type").like("PROMO%"), rev).otherwise(0) * 100, 0).cast("long"))
                    / F.sum(F.round(rev * 100, 0).cast("long"))
                    * 10000,
                    0,
                ).cast("long")
                / 10000.0
            ).alias("promo_revenue")
        )
    )


@register(
    "q18_large_orders",
    """
    SELECT o.o_orderkey AS o_orderkey, round(o.o_totalprice, 2) AS o_totalprice,
           round(t.sum_qty, 2) AS sum_qty
    FROM orders o JOIN (
        SELECT l_orderkey, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250) t
      ON o.o_orderkey = t.l_orderkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), F.round("sum_qty", 2).alias("sum_qty"))
    )


@register(
    "q19_disjunctive_filter",
    """
    SELECT CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 40))
    )
    return j.filter(cond).agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
    )


@register(
    "distinct_agg_users",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def distinct_agg_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"), F.count("*").alias("n_events")
    )


@register(
    "cube_orders",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
           coalesce(CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR), 'ALL') AS order_year,
           count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, EXTRACT(year FROM o_orderdate))
    """,
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("order_year", F.year("o_orderdate").cast("string"))
        .cube("o_orderstatus", "order_year")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("order_year", F.lit("ALL")).alias("order_year"),
            "n",
        )
    )


@register(
    "union_all_parties",
    """
    SELECT 'customer' AS kind, c_name AS name, round(c_acctbal, 2) AS acctbal FROM customer WHERE c_acctbal > 9900
    UNION ALL
    SELECT 'supplier' AS kind, s_name AS name, round(s_acctbal, 2) AS acctbal FROM supplier WHERE s_acctbal > 9000
    """,
)
def union_all_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    cc = c.filter(F.col("c_acctbal") > 9900).select(
        F.lit("customer").alias("kind"), F.col("c_name").alias("name"), F.round("c_acctbal", 2).alias("acctbal")
    )
    ss = s.filter(F.col("s_acctbal") > 9000).select(
        F.lit("supplier").alias("kind"), F.col("s_name").alias("name"), F.round("s_acctbal", 2).alias("acctbal")
    )
    return cc.unionByName(ss)


@register(
    "scalar_subquery_above_avg",
    """
    SELECT p_brand, count(*) AS n_above_avg
    FROM part
    WHERE CAST(round(p_retailprice * 1000000) AS BIGINT) >
          (SELECT CAST(round(avg(p_retailprice) * 1000000) AS BIGINT) FROM part)
    GROUP BY p_brand
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    # integer-micros threshold: round-to-INTEGER is the only rounding
    # that is identical across engines (decimal-place rounding of the
    # same double can differ at shortest-repr boundaries). The scalar
    # aggregate stays IN the plan as a broadcast cross join (1 row) —
    # no eager .collect() in the query builder, so Catalyst sees one
    # lazy plan and the scan is shared/pushed normally.
    avg_df = p.agg(F.round(F.avg("p_retailprice") * 1_000_000, 0).cast("long").alias("_avg_micros"))
    return (
        p.crossJoin(F.broadcast(avg_df))
        .filter(F.round(F.col("p_retailprice") * 1_000_000, 0).cast("long") > F.col("_avg_micros"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_above_avg"))
    )


@register(
    "lag_lead_user_events",
    """
    SELECT event_id, user_id,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)  AS prev_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
    FROM events WHERE user_id < 20
    """,
)
def lag_lead_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.filter(F.col("user_id") < 20).select(
        "event_id",
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "events_value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 4) AS p25,
           round(quantile_cont(value, 0.50), 4) AS p50,
           round(quantile_cont(value, 0.75), 4) AS p75,
           round(quantile_cont(value, 0.95), 4) AS p95
    FROM events GROUP BY event_type
    """,
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    quantile_cont); the approx variant (percentile_approx) is the scale
    path but is engine-specific, so the oracle checks the exact one."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(value, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 4).alias("p75"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
    )


@register(
    "host_skew_topk",
    None,  # host distribution oracle exists via pipeline_host_stats; this
    # one exercises approx_count_distinct + top-k ordering (rows-only)
)
def host_skew_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top hosts by doc count with approx-distinct langs — the monitoring
    rollup a crawl operator runs; two-phase salted agg under the hood.

    approx_count_distinct is an HLL++ sketch with NO exactness guarantee
    at any cardinality (Spark's implementation has no sparse mode), so
    the oracle checks it with a tolerance: the query emits
    ``approx_langs_ok`` = 1 iff the sketch is within max(1, 10%) of the
    exact distinct count, and the oracle asserts the literal 1."""
    from .plans.partitioning import host_of, salted_host_counts
    from .sources.pages import synthesize_pages

    pages = synthesize_pages(spark, sf_dir)
    counts = salted_host_counts(pages)
    langs = (
        pages.select(host_of(F.col("url")).alias("host"), "lang")
        .groupBy("host")
        .agg(
            F.approx_count_distinct("lang").alias("_approx"),
            F.countDistinct("lang").alias("_exact"),
        )
        .select(
            "host",
            (
                F.abs(F.col("_approx") - F.col("_exact"))
                <= F.greatest(F.lit(1.0), F.col("_exact") * 0.1)
            )
            .cast("int")
            .alias("approx_langs_ok"),
        )
    )
    return (
        counts.join(langs, "host")
        .select("host", "n_docs", "approx_langs_ok")
        .orderBy(F.col("n_docs").desc(), "host")
        .limit(10)
    )


@register(
    "json_props_extract",
    """
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
           count(*) AS n,
           round(avg(value), 4) AS avg_value
    FROM events GROUP BY CAST(json_extract(props, '$.k') AS BIGINT) % 10
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: JSON path extraction into typed
    aggregation keys (get_json_object vs DuckDB json_extract)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        e.groupBy((k % 10).alias("k_mod"))
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


@register(
    "window_rank_family",
    """
    SELECT p_partkey,
           ntile(4)        OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           dense_rank()    OVER w AS drank,
           round(first_value(p_retailprice) OVER w, 2) AS cheapest_in_brand
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey)
    """,
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family window functions: ntile, percent_rank, dense_rank,
    first_value over a brand partition."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    return p.select(
        "p_partkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.dense_rank().over(w).alias("drank"),
        F.round(F.first("p_retailprice").over(w), 2).alias("cheapest_in_brand"),
    )


# ---------------------------------------------------------------------------
# round-2 TPC-H-family additions (adapted to the available schema: no
# partsupp table, no commit/receipt dates, no comment/phone columns —
# each adaptation noted per query)
# ---------------------------------------------------------------------------


@register(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, CAST(sum(CAST(round((volume) * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year.
    Both nation lookups broadcast; the fact-side joins shuffle on keys."""
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("_cnk"), F.col("n_name").alias("cust_nation"))
    joined = (
        s.join(l, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_snk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_cnk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
        )
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@register(
    "q9_product_type_profit",
    """
    SELECT nation, o_year, CAST(sum(CAST(round((amount) * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_profit
    FROM (
      SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_type = 'ECONOMY')
    GROUP BY nation, o_year
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted: per-nation yearly revenue on a part-type slice
    (no partsupp table, so the supplycost term is dropped — revenue, not
    profit). Part filter pushes below the join; nation broadcasts."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    joined = (
        p.join(l, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").cast("int").alias("o_year")
        )
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_profit"))
    )


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count distribution via a filtered LEFT
    OUTER join (customers with zero qualifying orders count as 0; the
    o_comment NOT LIKE filter is adapted to o_orderpriority — no comment
    column in this schema). Double aggregation, both map-side
    combinable."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q16_supplier_relation",
    """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (5, 11, 17, 23, 28, 36, 42, 49)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted: distinct suppliers per (brand, type, size) via
    the lineitem part-supplier association (no partsupp table). The
    distinct-agg expands then contracts — Spark plans it as two-phase."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(5, 11, 17, 23, 28, 36, 42, 49)
    )
    l = _t(spark, sf_dir, "lineitem")
    return (
        p.join(l, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q17_small_quantity_revenue",
    """
    WITH pa AS (
      SELECT l_partkey, round(0.2 * avg(l_quantity), 6) AS qty_cut
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 7.0) AS BIGINT) / 100.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON pa.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#2' AND l_quantity < qty_cut
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from small-quantity orders relative to the
    part's average quantity. Spark computes the per-part cut as a window
    aggregate (no second scan); the cut is rounded to 6dp on both
    engines so float summation order cannot flip the comparison."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    w = Window.partitionBy("l_partkey")
    cut = l.withColumn("qty_cut", F.round(0.2 * F.avg("l_quantity").over(w), 6))
    return (
        cut.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg((F.round(F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")) / 7.0, 0).cast("long") / 100.0).alias("avg_yearly"))
    )


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue —
    aggregate-then-scalar-subquery-on-the-aggregate. Revenue is rounded
    to 2dp BEFORE the max equality so both engines compare identical
    values."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    revenue = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue"))
    )
    best = revenue.agg(F.max("total_revenue").alias("_best"))
    return (
        s.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(best), F.col("total_revenue") == F.col("_best"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q22_sales_opportunity",
    """
    SELECT cntrycode, count(*) AS numcust, CAST(sum(CAST(round((c_acctbal) * 100) AS BIGINT)) AS DOUBLE) / 100 AS totacctbal
    FROM (
      SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, c_acctbal
      FROM customer
      WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)
        AND c_acctbal > (SELECT round(avg(c_acctbal), 6) FROM customer
                         WHERE c_acctbal > 0.0 AND c_nationkey % 10 IN (1, 3, 5, 7, 9))
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'))
    GROUP BY cntrycode
    """,
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted: promising inactive customers — above-average
    balance, selected country codes (nationkey digit; no phone column),
    and no urgent orders (anti-join for NOT EXISTS; plain "no orders" is
    empty in this data — every customer ordered). The scalar average
    broadcasts, rounded to 6dp on both engines so float summation order
    cannot flip the comparison (same convention as q15/q17)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    codes = [1, 3, 5, 7, 9]
    pool = c.filter((F.col("c_nationkey") % 10).isin(codes))
    avg_bal = pool.filter(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 6).alias("_avg")
    )
    return (
        pool.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy((F.col("c_nationkey") % 10).cast("int").alias("cntrycode"))
        .agg(F.count("*").alias("numcust"), money_sum(F.col("c_acctbal"), "totacctbal"))
    )


@register(
    "asof_join_attribution",
    """
    WITH clicks AS (
      SELECT user_id, ts, max(event_id) AS click_event_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
    purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           c.click_event_id,
           CASE WHEN c.click_event_id IS NULL THEN NULL
                ELSE strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') END AS click_ts,
           CASE WHEN c.click_event_id IS NULL THEN NULL
                ELSE epoch_us(p.ts) - epoch_us(c.ts) END AS gap_us
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (click attribution): every purchase event matched to
    the same user's latest click at-or-before the purchase timestamp —
    the canonical time-series as-of the brief calls out, expressed
    Spark-first as union + ordered carry-forward instead of a range
    join.

    Scale shape: the shared operators/asof.py composition — tagged
    union, ONE exchange on user_id, `last(ignorenulls)` carry-forward
    window (the same operator asof_purchase_last_click runs; this query
    adds the attribution payload: click timestamp + exact gap). A
    range/theta join here would explode to |purchases| x |prior clicks|
    candidates per user before picking the max; the carry-forward form
    is linear in the partition and never materializes a candidate pair.
    Click ties on (user, ts) are pre-collapsed to max(event_id) so the
    match is deterministic (and the oracle's ASOF JOIN unambiguous). At
    10^12 events a hot user additionally splits into time-range buckets
    whose boundary click carries over — same algebra, bounded
    partitions. Output timestamps serialize to microsecond strings (the
    repo convention: queries never return raw timestamps); the gap is
    exact integer microseconds (unix_micros / epoch_us)."""
    from .operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"))
        .select("user_id", "ts", "click_event_id", F.col("ts").alias("click_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(purchases, clicks, ["click_event_id", "click_ts"])
    ts_fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    matched = F.col("asof_click_event_id").isNotNull()
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", ts_fmt).alias("purchase_ts"),
        F.col("asof_click_event_id").alias("click_event_id"),
        F.when(matched, F.date_format("asof_click_ts", ts_fmt)).alias("click_ts"),
        F.when(
            matched,
            # ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the cast
            # to TIMESTAMP (required by unix_micros) is value-preserving
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("asof_click_ts").cast("timestamp")),
        ).alias("gap_us"),
    )
