"""As-of join (click attribution): exact matching semantics on a
hand-built event log, plus the plan shape that makes the union +
carry-forward form linear where a range join would explode."""

from __future__ import annotations

import datetime as dt

import pandas as pd

from tests.conftest import SF_SMOKE


def _write_events(tmp_path, rows):
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type"])
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pdf["value"] = 1.0
    pdf["props"] = "{}"
    path = tmp_path / "events.parquet"
    pdf.to_parquet(path)
    return str(tmp_path)


def test_asof_matches_latest_prior_click_inclusive(spark, tmp_path):
    """Semantics: latest click at-or-before the purchase; same-instant
    click counts; click ties collapse to max event_id; a purchase with
    no prior click gets NULLs; clicks strictly after never match."""
    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    sf_dir = _write_events(
        tmp_path,
        [
            # user 1: purchase before any click -> NULL
            (10, t("2024-01-01T00:00:00"), 1, "purchase"),
            # two clicks at the same instant -> max event_id (22) wins
            (21, t("2024-01-01T00:01:00"), 1, "click"),
            (22, t("2024-01-01T00:01:00"), 1, "click"),
            (11, t("2024-01-01T00:02:00"), 1, "purchase"),
            # same-instant click + purchase -> inclusive match
            (23, t("2024-01-01T00:03:00"), 1, "click"),
            (12, t("2024-01-01T00:03:00"), 1, "purchase"),
            # later click must NOT attach to earlier purchases
            (24, t("2024-01-01T00:09:00"), 1, "click"),
            # user 2: clicks only, no purchases -> no output rows
            (30, t("2024-01-01T00:00:30"), 2, "click"),
            # user 3: purchases only
            (40, t("2024-01-01T00:00:40"), 3, "purchase"),
        ],
    )
    from ocr_wrapper_spark.relational import asof_join_attribution

    got = {
        r.event_id: (r.click_event_id, r.gap_us)
        for r in asof_join_attribution(spark, sf_dir).collect()
    }
    assert got == {
        10: (None, None),
        11: (22, 60_000_000),
        12: (23, 0),
        40: (None, None),
    }


def test_asof_is_one_exchange_no_range_join(spark):
    """The plan must be the union + single user_id exchange + one
    window pass — no sort-merge/broadcast join of the two sides, no
    range-join candidate explosion."""
    from ocr_wrapper_spark.relational import asof_join_attribution

    plan = (
        asof_join_attribution(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad
    assert "Window" in plan


def test_asof_operator_matches_pandas_merge_asof(spark):
    """Differential test of the shared operator against an independent
    reference: pandas.merge_asof (backward direction, inclusive) on a
    seeded random event stream — 400 left rows, 300 right rows, 20
    keys, duplicate timestamps included."""
    import numpy as np

    from ocr_wrapper_spark.operators.asof import asof_join

    rng = np.random.default_rng(7)
    n_l, n_r = 400, 300
    left = pd.DataFrame(
        {
            "event_id": np.arange(n_l, dtype=np.int64),
            "user_id": rng.integers(0, 20, n_l).astype(np.int64),
            # coarse second grid so same-instant collisions actually occur
            "ts": pd.to_datetime(rng.integers(0, 500, n_l), unit="s").astype("datetime64[us]"),
        }
    )
    right = pd.DataFrame(
        {
            "user_id": rng.integers(0, 20, n_r).astype(np.int64),
            "ts": pd.to_datetime(rng.integers(0, 500, n_r), unit="s").astype("datetime64[us]"),
            "val": np.arange(n_r, dtype=np.int64),
        }
    )
    # collapse right ties to max(val) per (key, ts): both the operator's
    # documented precondition for determinism and merge_asof's
    # last-row-wins convention after this sort
    right = right.groupby(["user_id", "ts"], as_index=False)["val"].max()

    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            ["val"],
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )

    expected = pd.merge_asof(
        left.sort_values("ts", kind="stable"),
        right.sort_values("ts", kind="stable"),
        on="ts",
        by="user_id",
        direction="backward",
        allow_exact_matches=True,
    ).sort_values("event_id").reset_index(drop=True)

    got_vals = got["asof_val"].astype("float64")
    exp_vals = expected["val"].astype("float64")
    assert len(got) == n_l
    pd.testing.assert_series_equal(
        got_vals, exp_vals, check_names=False, check_index=False
    )
