"""Seeded synthetic input tables for the benchmark.

Writes the ten canonical tables (``region nation customer supplier part
orders lineitem events documents embeddings``) as one parquet file each,
with the column names and Arrow types of the repo's test data, so the
declared queries and their DuckDB oracles run on them unchanged. The same
seed always gives byte-identical values.

Sizes follow the repo's scale factors: ``orders=15_000`` gives the sf0.01
fact tables (~60k lineitem rows); ``docs=5_000`` and ``embeddings=2_000``
give the sf0.1 corpus.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = dt.datetime(1995, 1, 1)


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64(EPOCH, "us")
    return pa.array(base + (days * 86_400_000_000).astype("timedelta64[us]"),
                    pa.timestamp("us"))


def random_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-vocabulary documents with ~5% planted near-duplicates (an
    earlier document plus one ``dup`` token) and a few exact re-sends."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.0535:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(random_text(rng, int(rng.integers(8, 97))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS[0], n, p=LANGS[1]), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    m = rng.standard_normal((n, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def tpch(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    n_cust = max(n_orders // 10, 10)
    n_part = max(n_orders * 2 // 15, 10)
    n_supp = max(n_orders // 150, 5)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    retail = np.round(rng.uniform(900.0, 999.9, n_part), 1)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{VOCAB[i % 8]} {VOCAB[8 + i % 8]}"
                   for i in rng.integers(0, 64, n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO",
                              "STANDARD", "LARGE"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})

    odays = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    n_li = len(okey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * retail[partkey] * rng.uniform(1.0, 2.1, n_li), 2)
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(ship)})
    totals = np.bincount(okey, weights=price, minlength=n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(totals, 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def events(rng: np.random.Generator, n: int) -> pa.Table:
    secs = np.sort(rng.uniform(0, 30 * 86_400, n))
    base = np.datetime64("2024-01-01T00:00:00", "us")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(base + (secs * 1e6).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": rng.choice(["view", "click", "purchase", "signup",
                                  "error"], n),
        "value": np.round(rng.uniform(0.01, 490.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def write_tables(out_dir: str, seed: int, orders: int = 15_000,
                 docs: int = 500, embeddings_n: int = 500) -> dict[str, int]:
    """Write all ten tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    tables = tpch(rng, orders)
    tables["events"] = events(rng, 10_000)
    tables["documents"] = documents(rng, docs)
    tables["embeddings"] = embeddings(rng, embeddings_n)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
