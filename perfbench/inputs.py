"""Seeded input tables for the benchmark, shaped like the repo's test data:
one parquet file per table, the same schemas and column domains, and row
counts proportional to the scale factor ``sf`` (sf0.1: 5,000 documents,
2,000 embeddings, 600,000 lineitems).

The engine only ever sees these files. Every workload builds its inputs
here from ``--seed``, so the same seed gives byte-identical tables, and no
file outside the run's work directory is read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

# rows per unit of scale factor
ROWS = {
    "documents": 50_000,
    "embeddings": 20_000,
    "supplier": 10_000,
    "customer": 150_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "part": 200_000,
}
DIM = 64
DUP_SHARE = 0.05  # planted near-duplicates: an earlier text + " dup"


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    for d in np.flatnonzero(rng.random(n) < DUP_SHARE):
        if d > 0:
            texts[d] = texts[int(rng.integers(0, d))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), size=n, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    v = rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel())
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), flat
        ),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    }


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    start = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - start).astype(int)
    d = start + rng.integers(0, span, size=n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _tpch(rng: np.random.Generator, sf: float) -> dict[str, dict]:
    N_SUPP, N_CUST, N_ORDERS, N_LINEITEM, N_PART = (
        int(ROWS[t] * sf) for t in ("supplier", "customer", "orders", "lineitem", "part")
    )
    li_status = rng.integers(0, 2, size=N_LINEITEM)
    return {
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(N_SUPP, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPP)]),
            "s_nationkey": pa.array(rng.integers(0, 25, size=N_SUPP).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, N_SUPP, -999.99, 9999.99)),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(N_CUST, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUST)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=N_CUST).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, N_CUST, -999.99, 9999.99)),
            "c_mktsegment": pa.array(
                [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), size=N_CUST)]
            ),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, N_CUST, size=N_ORDERS)),
            "o_orderstatus": pa.array(
                [("F", "O", "P")[i] for i in rng.integers(0, 3, size=N_ORDERS)]
            ),
            "o_totalprice": pa.array(_money(rng, N_ORDERS, 1000.0, 450000.0)),
            "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", "2001-11-01"),
            "o_orderpriority": pa.array(
                [PRIORITIES[i] for i in rng.integers(0, len(PRIORITIES), size=N_ORDERS)]
            ),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, size=N_LINEITEM)),
            "l_partkey": pa.array(rng.integers(0, N_PART, size=N_LINEITEM)),
            "l_suppkey": pa.array(rng.integers(0, N_SUPP, size=N_LINEITEM)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=N_LINEITEM).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, size=N_LINEITEM).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, N_LINEITEM, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, size=N_LINEITEM) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=N_LINEITEM) / 100.0),
            "l_returnflag": pa.array(
                [("A", "N", "R")[i] for i in rng.integers(0, 3, size=N_LINEITEM)]
            ),
            "l_linestatus": pa.array([("F", "O")[i] for i in li_status]),
            "l_shipdate": _days(rng, N_LINEITEM, "1995-01-02", "2001-11-05"),
        },
    }


def write_inputs(out_dir: str, seed: int, sf: float, leaves: bool) -> None:
    """Write documents under ``out_dir``; with ``leaves``, also the
    embeddings and the five TPC-H tables the operator leaves read."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x5EED])
    _write(out_dir, "documents", _documents(rng, int(ROWS["documents"] * sf)))
    if leaves:
        _write(out_dir, "embeddings", _embeddings(rng, int(ROWS["embeddings"] * sf)))
        for name, cols in _tpch(rng, sf).items():
            _write(out_dir, name, cols)
