"""Seeded input tables owned by the benchmark.

The benchmark runs from a bare checkout, so it cannot read the shared
test-data directories. It writes its own tables instead, with the same
schemas and value domains as the TPC-H-style ``sf*`` test data that the
registered queries and their DuckDB oracles read:

* ``documents`` (doc_id, text, lang, source, n_chars): words from the
  same 31-word vocabulary, texts cut to ``n_chars`` characters;
* ``customer``, ``orders``, ``lineitem`` (q1 / q3) and ``embeddings``
  (unit-norm 64-float vectors with a 0..9 label).

Every table is a pure function of (seed, scale); nothing is reused across
runs. ``scale`` is the TPC-H scale factor: 0.01 gives 500 documents,
1 500 customers, 15 000 orders and 60 000 line items.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = np.array([0.44, 0.15, 0.14, 0.14, 0.13])
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EPOCH_1995 = np.datetime64("1995-01-01", "us")
N_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
TABLES = ("customer", "orders", "lineitem", "documents", "embeddings")  # what write_sf_dir writes


def _words_text(rng: np.random.Generator, n_chars: int) -> str:
    words = rng.choice(len(VOCAB), size=n_chars // 2 + 1)
    return " ".join(VOCAB[w] for w in words)[:n_chars]


def documents(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """Document rows with ids 0..n-1. Like the test data, about one
    document in twenty is a near-duplicate of an earlier one: its text plus
    the word ``dup``."""
    n_chars = rng.integers(48, 554, size=n)
    texts = [_words_text(rng, int(k)).rstrip(" ") for k in n_chars]
    dups = np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE)
    for i in dups[dups > 0]:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": np.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def remap_doc_ids(rng: np.random.Generator, doc_ids: np.ndarray) -> np.ndarray:
    """Seeded injective doc_id remap that keeps ``doc_id % 300``.

    The page builder derives the payload dialect, checkbox and QR count,
    PDF rotation/tilt variant from doc_id residues modulo 4, 5, 6, 10 and
    (doc_id // 5) modulo 2, 4, 5, all of which divide 300. The remap
    therefore keeps the dialect mix while the url, host and lineage
    bucket of every page move with the seed."""
    perm = rng.permutation(len(doc_ids)).astype(np.int64)
    return perm * 300 + doc_ids % 300


def _tpch(rng: np.random.Generator, scale: float) -> dict[str, dict[str, np.ndarray]]:
    n_cust = max(150, int(150_000 * scale))
    n_orders = max(1500, int(1_500_000 * scale))
    n_items = max(6000, int(6_000_000 * scale))
    cust = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }
    odate = EPOCH_1995 + rng.integers(0, N_ORDER_DAYS, n_orders) * np.timedelta64(1, "D")
    orders = {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    }
    okey = rng.integers(0, n_orders, n_items).astype(np.int64)
    # line numbers 1..k within each order, in row order
    order_idx = np.argsort(okey, kind="stable")
    linenum = np.empty(n_items, dtype=np.int32)
    sorted_keys = okey[order_idx]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    run_pos = np.arange(n_items) - np.repeat(starts, np.diff(np.r_[starts, n_items]))
    linenum[order_idx] = (run_pos + 1).astype(np.int32)
    ship = odate[okey] + rng.integers(1, 122, n_items) * np.timedelta64(1, "D")
    lineitem = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, max(200, int(200_000 * scale)), n_items).astype(np.int64),
        "l_suppkey": rng.integers(0, max(10, int(10_000 * scale)), n_items).astype(np.int64),
        "l_linenumber": linenum,
        "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_items), 2),
        "l_discount": rng.integers(0, 11, n_items) / 100.0,
        "l_tax": rng.integers(0, 9, n_items) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_items),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_items),
        "l_shipdate": ship.astype("datetime64[us]"),
    }
    return {"customer": cust, "orders": orders, "lineitem": lineitem}


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict[str, np.ndarray]:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def write_table(cols: dict[str, np.ndarray], path: str) -> None:
    arrays = {}
    for k, v in cols.items():
        if k == "embedding":
            arrays[k] = pa.array(v, type=pa.list_(pa.float32()))
        else:
            arrays[k] = pa.array(v)
    pq.write_table(pa.table(arrays), path)


def n_documents(scale: float) -> int:
    return max(50, int(50_000 * scale))


def write_sf_dir(seed: int, scale: float, out_dir: str) -> str:
    """Write the tables the query mix reads into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    tables = _tpch(rng, scale)
    tables["documents"] = documents(rng, n_documents(scale))
    tables["embeddings"] = _embeddings(rng, max(50, min(2000, int(50_000 * scale))))
    for name, cols in tables.items():
        write_table(cols, f"{out_dir}/{name}.parquet")
    return out_dir

