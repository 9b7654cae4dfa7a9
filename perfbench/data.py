"""Deterministic benchmark tables, generated inside the checkout.

The tables follow the TPC-H-star schema the tpch mapping reads, plus the
``documents`` and ``embeddings`` tables of the doc → KG pipeline and the
near-dup operators.  Every value comes from one fixed generator seed, so
the data — and with it every expected output recorded in
``expected.json`` — is the same on every run; the workload seed only
draws lookup keys and operation order.

``scale=1.0`` gives the row counts of the sf0.01 test set (60,000 line
items); the self-test uses a smaller scale.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VERSION = 1  # bump when the generated values change; expected.json follows

BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "documents": 1000,
    "embeddings": 1000,
}
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "de", "fr", "es", "zh"]
EMB_DIM = 64
NEAR_DUP_SHARE = 0.03


def _rows(scale: float, name: str) -> int:
    return max(int(BASE_ROWS[name] * scale), 20)


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64("1995-01-01", "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            # planted near-duplicate: an earlier doc with two tokens swapped out
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 2):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMB_DIM))
    dups = np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE)
    dups = dups[dups > 0]
    # planted near-duplicates: an earlier vector plus noise (cosine ≈ 0.4–0.9)
    src = (rng.random(len(dups)) * dups).astype(int)
    v[dups] = v[src] + rng.uniform(0.5, 1.5, (len(dups), 1)) * rng.standard_normal(
        (len(dups), EMB_DIM)
    )
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = (_rows(scale, t) for t in ("customer", "supplier", "part"))
    n_ord, n_li = _rows(scale, "orders"), _rows(scale, "lineitem")
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, n_cust, -999, 9999),
                "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                # nations 0..19 only, so FILTER EXISTS has customers to drop
                "s_nationkey": pa.array(rng.integers(0, 20, n_supp), pa.int32()),
                "s_acctbal": _money(rng, n_supp, -999, 9999),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        np.array(["small", "red", "blue", "large"])[rng.integers(0, 4, n_part)],
                        np.array(["ring", "widget", "bolt", "gear"])[rng.integers(0, 4, n_part)],
                    )
                ],
                "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
                "p_type": [["ECONOMY", "SMALL", "LARGE"][j] for j in rng.integers(0, 3, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
            }
        ),
    }
    # customers whose key is a multiple of 50 place no orders (FILTER NOT EXISTS)
    buyers = np.flatnonzero(np.arange(n_cust) % 50 != 0)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(buyers[rng.integers(0, len(buyers), n_ord)], pa.int64()),
            "o_orderstatus": [["F", "O", "P"][j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _ts(rng.integers(0, 2500, n_ord)),
            "o_orderpriority": [
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][j]
                for j in rng.integers(0, 5, n_ord)
            ],
        }
    )
    l_order = np.sort(rng.integers(0, n_ord, n_li))
    first = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    line_no = np.arange(n_li) - np.repeat(first, np.diff(np.r_[first, n_li])) + 1
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(line_no, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900, 100000),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": [["A", "N", "R"][j] for j in rng.integers(0, 3, n_li)],
            "l_linestatus": [["F", "O"][j] for j in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(rng.integers(0, 2600, n_li)),
        }
    )
    out["documents"] = _documents(rng, _rows(scale, "documents"))
    out["embeddings"] = _embeddings(rng, _rows(scale, "embeddings"))
    return out


def key(scale: float) -> str:
    """Name of the data set at ``scale``: its directory and its entry in
    expected.json."""
    return f"scale{scale:g}-v{VERSION}"


def ensure(root: str, scale: float) -> str:
    """Return the directory holding the tables for ``scale``, writing them
    first if absent.  Written to a temporary sibling and renamed, so an
    interrupted run never leaves a partial data set behind."""
    path = os.path.join(root, key(scale))
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, path)
    return path
