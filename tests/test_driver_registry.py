"""Driver-contract registry invariants: every queries() name has an
oracle, the verify-priority list references only real queries (a typo
would silently waste one of the driver's ~50 snapshot slots), and the
never-snapshotted names come first."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_priority_names_exist_and_lead():
    import __spark_entry__ as m

    q = m.queries()
    o = m.oracle_sql()
    # oracles must reference real queries; queries MAY omit an oracle
    # (the documented rows-only path for non-SQL-expressible ops) —
    # currently none do, but that's a choice, not an invariant
    assert set(o) <= set(q), f"orphan oracles: {set(o) - set(q)}"
    missing = [n for n in m._VERIFY_PRIORITY if n not in q]
    assert not missing, f"_VERIFY_PRIORITY names not registered: {missing}"
    # priority names must actually lead the iteration order
    head = list(q)[: len([n for n in m._VERIFY_PRIORITY if n in q])]
    assert head == [n for n in m._VERIFY_PRIORITY if n in q]


def test_bench_query_names_exist():
    """Every BENCH_QUERIES entry must resolve to a registered query —
    bench.py skips unknown names silently, so a typo or rename quietly
    drops the query from every future BENCH_r*.json (this happened: a
    planned-but-renamed as-of entry sat unnoticed across rounds)."""
    import __spark_entry__ as m
    import bench

    q = m.queries()
    missing = [n for n in bench.BENCH_QUERIES if n not in q]
    assert not missing, f"BENCH_QUERIES names not registered: {missing}"


def test_every_query_has_oracle():
    """All 150 registered queries currently carry a DuckDB oracle (the
    strongest driver check). If a future non-SQL-expressible op drops
    one on purpose, shrink this to a named allowlist rather than
    deleting the test."""
    import __spark_entry__ as m

    q, o = m.queries(), m.oracle_sql()
    assert set(q) == set(o), f"oracle-less queries: {set(q) - set(o)}"


def test_host_cdf_spliced_once():
    """Oracles write the host CDF as a `{cdf}` placeholder and
    oracle_sql() substitutes it: none may leak the placeholder, and the
    35 host-mapped oracles carry the literal."""
    import __spark_entry__ as m
    from ocr_wrapper_spark.sources.pages import _host_cdf_sql

    o = m.oracle_sql()
    assert [n for n, sql in o.items() if "{cdf}" in sql] == []
    assert sum(_host_cdf_sql() in sql for sql in o.values()) == 35
