"""AQE skew-join behavior + order-kernel property battery."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ocr_wrapper_spark.kernels import bbox_core as bc
from ocr_wrapper_spark.kernels import order


def test_aqe_splits_skewed_join(spark):
    """A monster key on the probe side must trigger AQE's skew-join split
    (OptimizeSkewedJoin) instead of one straggler reducer."""
    # 80% of probe rows share one key -> that partition is ~8x the median
    skewed = spark.range(0, 200_000).select(
        F.when(F.col("id") % 10 < 8, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(0, 50_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try:
        j = skewed.join(dim, "k")
        # collect() drives THIS DataFrame's QueryExecution so the adaptive
        # plan finalizes on it (count() would plan a separate query)
        n = len(j.collect())
        expected = 160_000 + skewed.filter(F.col("k") != 7).join(dim, "k").count()
        assert n == expected
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:800]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")


@st.composite
def random_boxes(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    xs = draw(st.lists(st.floats(0.0, 0.9), min_size=n, max_size=n))
    ys = draw(st.lists(st.floats(0.0, 0.9), min_size=n, max_size=n))
    ws = draw(st.lists(st.floats(0.01, 0.09), min_size=n, max_size=n))
    hs = draw(st.lists(st.floats(0.005, 0.02), min_size=n, max_size=n))
    coords = bc.from_xywh(np.array(xs), np.array(ys), np.array(ws), np.array(hs))
    texts = [f"w{i}" for i in range(n)]
    return coords, texts


@given(random_boxes())
@settings(max_examples=150, deadline=None)
def test_order_is_permutation_and_tilt_in_grid(case):
    coords, texts = case
    idx, tilt, line_ids = order.order_boxes(coords, texts, 1224, 1584)
    assert sorted(idx.tolist()) == list(range(len(texts)))  # a permutation
    assert abs(tilt) <= order.MAX_TILT_ANGLE + 1e-9
    assert len(line_ids) == len(texts)
    # line ids are compact (0..max) and non-decreasing in output order
    assert line_ids.min() == 0
    assert set(np.unique(line_ids)) == set(range(line_ids.max() + 1))
    assert (np.diff(line_ids) >= 0).all()


@given(random_boxes())
@settings(max_examples=100, deadline=None)
def test_canonicalize_idempotent(case):
    coords, _ = case
    once = bc.canonicalize(coords, in_pixels=False, validate=False)
    twice = bc.canonicalize(once, in_pixels=False, validate=False)
    assert np.array_equal(once, twice)
    assert bc.check_canonical(once).all()


def test_aqe_skew_join_runtime_split(spark):
    """AQE must split the monster key's partition at runtime
    (skewJoin enabled in session.py): one key owns ~97% of the fact
    side, thresholds lowered so the test-size skew qualifies. The final
    adaptive plan marks the sort-merge join with skew=true."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "512k")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

        fact = spark.range(0, 300_000).select(
            F.when(F.col("id") < 290_000, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 48), F.col("id").cast("string")).alias("payload"),
        )
        dim = spark.range(0, 20_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        joined = fact.join(dim, "k")
        # collect() executes THIS DataFrame's QueryExecution (count()
        # would wrap it in a new one whose adaptive plan never runs)
        assert len(joined.collect()) == 290_000  # only key 0 matches the dim
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        # restore unconditionally — a leak of autoBroadcastJoinThreshold=-1
        # would cascade failures into later plan-asserting tests
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "skew=true" in plan, f"AQE did not split the skewed partition:\n{plan[:2000]}"
