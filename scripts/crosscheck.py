"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row
count, column names, and an order-insensitive value hash.

Usage: python scripts/crosscheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    if df.empty:
        return hashlib.md5(("|".join(df.columns)).encode()).hexdigest()
    for c in df.columns:
        df[c] = df[c].map(lambda v: f"{v:.6g}" if isinstance(v, float) else str(v))
    rows = sorted("|".join(r) for r in df.itertuples(index=False, name=None))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    # normalize dtypes the way a hash comparison would see them
    out = df.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.dt.tz_localize(None) if getattr(s.dt, "tz", None) is not None else s
        if pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        if pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64").round(6)
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from ocr_wrapper_spark.session import get_spark

    spark = get_spark(app_name="crosscheck")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        try:
            sdf = norm(fn(spark, sf_dir).toPandas())
            # queries that persist() multi-consumer frames never get to
            # unpersist them (they return lazy DataFrames); drop the
            # blocks here so a 125-query sweep doesn't accumulate a
            # session-lifetime cache
            spark.catalog.clearCache()
        except Exception as exc:
            failures.append((name, f"spark error: {exc}"))
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            odf = norm(con.sql(oracles[name]).df())
        except Exception as exc:
            failures.append((name, f"duckdb error: {exc}"))
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue

        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        elif any(
            # the driver's hasher is dtype-sensitive: an int64 on one side vs
            # float64 on the other (e.g. DuckDB HUGEINT sum -> pandas float64)
            # hashes differently even when %.6g formatting prints the same text
            {sdf[c].dtype.kind, odf[c].dtype.kind} in ({"i", "f"}, {"u", "f"})
            for c in sdf.columns
        ):
            drift = [
                f"{c}: spark {sdf[c].dtype} vs oracle {odf[c].dtype}"
                for c in sdf.columns
                if {sdf[c].dtype.kind, odf[c].dtype.kind} in ({"i", "f"}, {"u", "f"})
            ]
            problems.append(f"dtype drift {'; '.join(drift)}")
        elif value_hash(sdf) != value_hash(odf):
            problems.append("value hash mismatch")
            merged = sdf.sort_values(sorted(sdf.columns)).reset_index(drop=True).compare(
                odf[sdf.columns].sort_values(sorted(sdf.columns)).reset_index(drop=True)
            ) if len(sdf) == len(odf) else None
            if merged is not None and not merged.empty:
                problems.append(f"first diffs:\n{merged.head(5)}")
        if problems:
            failures.append((name, "; ".join(problems[:2])))
            print(f"FAIL  {name}: {'; '.join(str(p) for p in problems)}")
        else:
            print(f"OK    {name}: {len(sdf)} rows")

    # count only the queries this invocation actually ran — a filtered
    # run must not produce a log that reads like a full-surface pass
    suffix = f" (of {len(qs)} registered)" if n_run != len(qs) else ""
    print(f"\n{n_run - len(failures)}/{n_run} queries pass{suffix}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
