"""Seeded TPC-H-ish star schema plus events/documents/embeddings, as parquet.

Same tables, columns, types and value domains as the fixed test corpus the
registry's oracles are written against (TESTDATA.md): uniform keys,
Poisson-like lines per order, a 31-word document vocabulary with injected
exact and near duplicates, unit-norm 64-d float32 embeddings. Row counts
scale with ``sf`` the way that corpus does (lineitem ~6 M x sf).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

_VOCAB = ("a agg batch big column customer data fast filter group hash join key "
          "line merge order part query row scan slow small sort spark stream "
          "table the value vector window").split()
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]


def ensure_tables(cache_root: str, seed: int, sf: float) -> tuple[str, float]:
    """Generate the tables for (seed, sf) unless cached; returns (dir, gen_s)."""
    root = os.path.join(cache_root, f"tables-s{seed}-sf{sf:g}")
    if os.path.exists(os.path.join(root, "_DONE")):
        return root, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    for name, table in _generate(np.random.default_rng(seed), sf).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    with open(os.path.join(root, "_DONE"), "w") as f:
        f.write("ok\n")
    return root, time.perf_counter() - t0


def _days(rng, n, lo: str, hi: str):
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = lo_d + rng.integers(0, (hi_d - lo_d).astype(np.int64) + 1, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo: float, hi: float):
    return np.round(rng.uniform(lo, hi, n), 2)


def _generate(rng, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    n_doc, n_emb = int(50_000 * sf), min(int(50_000 * sf), 2_000)
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": _REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5),
    })
    out["customer"] = pa.table({
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })
    out["supplier"] = pa.table({
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": i64(pk),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part).tolist(),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(month_us, n_ev, replace=False)) + np.datetime64(
        "2024-01-01T00:00:00", "us"
    ).astype(np.int64)
    out["events"] = pa.table({
        "event_id": i64(range(n_ev)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": rng.choice(_EVENTS, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = pa.table(_documents(rng, n_doc))
    emb = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb)),
    })
    return out


def _documents(rng, n: int) -> dict:
    """Random-word documents; ~0.2 % exact and ~2 % near duplicates."""
    lengths = rng.integers(10, 101, n)
    words = [[_VOCAB[w] for w in rng.integers(0, len(_VOCAB), k)] for k in lengths]
    for i in rng.choice(np.arange(1, n), max(1, n // 50), replace=False):
        near = list(words[rng.integers(0, i)])
        for j in rng.integers(0, len(near), 2):
            near[j] = _VOCAB[rng.integers(0, len(_VOCAB))]
        words[i] = near
    for i in rng.choice(np.arange(1, n), max(1, n // 500), replace=False):
        words[i] = list(words[rng.integers(0, i)])
    text = [" ".join(w) for w in words]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": text,
        "lang": rng.choice(_LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    }
