"""Seeded synthetic input tables for the benchmark.

The benchmark runs where no prepared test data exists, so it writes
its own tables from ``--seed``: the TPC-H-like star schema plus the
``events``, ``documents`` and ``embeddings`` tables, with the same
names, column types and value domains as the tables the registered
queries are written against (one parquet file per table). Row counts
scale with ``sf`` the same way (``lineitem`` = 6e6 * sf rows).

``(l_orderkey, l_linenumber)`` is unique: every order gets 1..7 lines
numbered from 1, so the DML workload can key MERGE on it.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_VOCAB = (
    "a the data table row column value key query scan filter join agg "
    "group order sort window hash merge batch stream spark vector part "
    "line customer small big fast slow"
).split()
_EPOCH_1995 = int(dt.datetime(1995, 1, 1).timestamp() * 1_000_000)
_EPOCH_2024 = int(dt.datetime(2024, 1, 1).timestamp() * 1_000_000)
_DAY_US = 86_400 * 1_000_000


def _money(rng, lo, hi, n):
    """Two-decimal doubles in [lo, hi] (the queries' exact-sum
    convention relies on cent-valued doubles)."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def lineitem_table(rng: np.random.Generator, n_orders: int, key_base: int = 0,
                   n_parts: int = 20000, n_supp: int = 1000) -> pa.Table:
    """Line items for orders ``key_base .. key_base + n_orders - 1``,
    1..7 lines per order (4 on average), sorted by key."""
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(key_base, key_base + n_orders, dtype=np.int64), lines)
    starts = np.cumsum(lines) - lines
    lnum = (np.arange(len(okey)) - np.repeat(starts, lines) + 1).astype(np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * _money(rng, 18.0, 2100.0, n), 2)
    ship = _EPOCH_1995 + rng.integers(0, 2500, n) * _DAY_US
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(ship),
    })


def _documents(rng, n_docs: int) -> pa.Table:
    texts, langs = [], []
    vocab = np.array(_VOCAB)
    for i in range(n_docs):
        k = int(rng.integers(10, 101))
        words = list(vocab[rng.integers(0, len(vocab), k)])
        if i % 20 == 8:  # planted near-duplicates of an earlier doc
            words = texts[i - 5].split(" ")[: k] + ["dup"]
        texts.append(" ".join(words))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])[
        rng.integers(0, 7, n_docs)
    ]
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.normal(0.0, 1.0, (n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts. Deterministic in ``(seed, sf)``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    adj = np.array("red blue hot new small green old big cold dark light pale fresh".split())
    noun = np.array("bolt ring widget anvil plate rod gear nut".split())
    ptype = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    etype = np.array(["click", "error", "purchase", "signup", "view"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

    tables = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, len(adj), n_part)], " "),
                noun[rng.integers(0, len(noun), n_part)],
            ),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": ptype[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, n_ord) * _DAY_US),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
        }),
        "lineitem": lineitem_table(rng, n_ord, 0, n_part, n_supp),
        "events": pa.table({
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_events))),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": etype[rng.integers(0, 5, n_events)],
            "value": _money(rng, 0.0, 500.0, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
