"""Bucketed-table co-located join: bucketBy on the join key removes the
shuffle (SURVEY.md §4 / README scale design). Uses Spark's session
catalog with a local warehouse dir — the same API as a production
catalog."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
        (
            orders.write.mode("overwrite")
            .bucketBy(4, "o_orderkey")
            .sortBy("o_orderkey")
            .format("parquet")
            .saveAsTable("orders_b")
        )
        (
            lineitem.write.mode("overwrite")
            .bucketBy(4, "l_orderkey")
            .sortBy("l_orderkey")
            .format("parquet")
            .saveAsTable("lineitem_b")
        )
        j = spark.table("lineitem_b").join(
            spark.table("orders_b"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # the whole point: no exchange on either side of the join
        assert "Exchange hashpartitioning" not in plan
        # and it computes the right thing
        expected = lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).count()
        assert j.count() == expected
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
