"""As-of join — an operator Spark lacks natively (task brief: implement
as a composition of existing DataFrame ops when semantics allow).

Semantics: for each left row, attach the most recent right row (by time)
with the same key and right.ts <= left.ts.

Implementation (composition, no UDF): union the two sides tagged by
origin, then a single window pass per key ordered by (ts, origin) taking
``last(right_value, ignoreNulls)`` — right rows carry their value, left
rows carry null, so the running last-non-null at each left row is exactly
the as-of match. One shuffle on the key (same as any keyed window), no
join explosion, skew handled by AQE like any window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


KEY = "user_id"  # both sides' join key
TS = "ts"  # both sides' event time


def asof_join(left: DataFrame, right: DataFrame, right_value_cols: list[str]) -> DataFrame:
    """Returns left columns + ``asof_<col>`` for each right value column,
    matching on KEY and TS."""
    l_tag = left.select(
        *left.columns,
        F.lit(1).alias("_origin"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_rv_{c}") for c in right_value_cols],
    )
    r_tag = right.select(
        KEY,
        TS,
        F.lit(0).alias("_origin"),
        *[F.col(c).alias(f"_rv_{c}") for c in right_value_cols],
    )
    # align schemas: left columns missing on the right become nulls
    for c in left.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = l_tag.unionByName(r_tag.select(l_tag.columns))

    # right rows sort before left rows at equal ts (origin 0 < 1), so a
    # right row at exactly left.ts is visible to that left row
    w = (
        Window.partitionBy(KEY)
        .orderBy(TS, "_origin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = unioned
    for c in right_value_cols:
        out = out.withColumn(f"asof_{c}", F.last(f"_rv_{c}", ignorenulls=True).over(w))
    return out.filter(F.col("_origin") == 1).drop("_origin", *[f"_rv_{c}" for c in right_value_cols])
