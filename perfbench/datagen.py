"""Seeded generator of the benchmark's input tables.

Produces the star schema (region, nation, customer, supplier, part,
orders, lineitem) and the auxiliary tables (events, documents,
embeddings) with the column names, types and value domains of the
repository's test fixtures (FIXTURES.md), one parquet file per table.
The same (seed, sf) always yields byte-identical values, so expected
outputs computed from one generation hold for every run with that seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
AUX = ("events", "documents", "embeddings")
TABLES = STAR + AUX

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a the join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window spark part group big sort "
    "query fast"
).split()
EMB_DIM = 64

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _star(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    partkey = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (partkey % 1000) / 10.0, 2)
    part = pa.table({
        "p_partkey": partkey,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    })

    span_days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    orderdate = _EPOCH_1995 + rng.integers(0, span_days + 1, n_ord) * _DAY_US
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(orderdate),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })

    # 1..7 lines per order (mean 4), TPC-H style: ship 1..121 days after order
    lines = rng.integers(1, 8, n_ord)
    l_orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_line = len(l_orderkey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(n_line) - starts + 1).astype(np.int32)
    l_partkey = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    shipdate = orderdate[l_orderkey] + rng.integers(1, 122, n_line) * _DAY_US
    lineitem = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": l_partkey,
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": l_linenumber,
        "l_quantity": qty,
        # cents-precise like the fixtures: the 4-decimal revenue terms then
        # rarely sum to an exact half-cent, where two engines' float sums
        # can round apart
        "l_extendedprice": np.round(qty * retail[l_partkey] * rng.uniform(0.9, 1.1, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(shipdate),
    })
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem,
    }


def _events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    n_users = max(50, int(15_000 * sf))
    month_us = 30 * _DAY_US
    offsets = np.sort(rng.integers(0, month_us, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(np.datetime64("2024-01-01", "us") + offsets),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(0.01, np.round(rng.lognormal(3.4, 1.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(500, int(50_000 * sf))
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document, one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 91)))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(500, int(20_000 * sf))
    vecs = rng.standard_normal((n, EMB_DIM))
    # planted near neighbours: 5% of vectors are a perturbed earlier one
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.01 * rng.standard_normal(EMB_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def generate(out_dir: str, seed: int, sf: float, tables: tuple[str, ...] = TABLES) -> None:
    """Write the requested tables under ``out_dir`` as ``<name>.parquet``.

    Each table family draws from its own stream derived from ``seed``,
    so generating a subset yields the same values as generating all."""
    os.makedirs(out_dir, exist_ok=True)
    families = {
        "star": (STAR, lambda r: _star(r, sf)),
        "events": (("events",), lambda r: {"events": _events(r, sf)}),
        "documents": (("documents",), lambda r: {"documents": _documents(r, sf)}),
        "embeddings": (("embeddings",), lambda r: {"embeddings": _embeddings(r, sf)}),
    }
    for i, (names, make) in enumerate(families.values()):
        if not set(names) & set(tables):
            continue
        for name, table in make(np.random.default_rng([seed, i])).items():
            if name in tables:
                final = os.path.join(out_dir, f"{name}.parquet")
                pq.write_table(table, final + ".tmp")
                os.replace(final + ".tmp", final)

