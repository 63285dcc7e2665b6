"""Seeded input tables for the benchmark.

The TPC-H-shaped star schema (region .. lineitem) and the three corpus
tables the operator lanes read (documents, embeddings, events) are
generated from a seed with NumPy and written as parquet with the same
column names and types the repo's sample project and lanes declare.
The same (seed, scale) always yields byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
CORPUS_TABLES = ("documents", "embeddings", "events")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
_PART_NOUN = ["ring", "plate", "widget", "rod", "bolt", "gizmo", "gear", "pin"]
_WORDS = (
    "a the big small fast slow data table row column key value part join "
    "hash merge sort scan filter group agg window stream batch spark query "
    "vector line order customer"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_EMB_DIM = 64
_EMB_LABELS = 10

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
        compression="snappy",
    )


def _days(rng, n: int, start: dt.datetime, end: dt.datetime) -> pa.Array:
    """Midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    us = _us(start) + rng.integers(0, span + 1, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tpch(out_dir: str, seed: int, sf: float) -> None:
    """region .. lineitem at scale ``sf`` (sf 1 = 6M lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = max(200, int(6_000_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(
            np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    })
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
        ),
        "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, n_part) / 10),
    })
    orders = orders_columns(rng, n_ord, n_cust)
    # every customer has an order, as in the repo's test data: the hub
    # oracles render a customer without orders differently (empty list
    # against NULL) from the engine's canonical form
    cust = orders["o_custkey"].to_numpy().copy()
    cust[: min(n_cust, n_ord)] = rng.permutation(n_cust)[:n_ord]
    orders["o_custkey"] = pa.array(cust, pa.int64())
    _write(out_dir, "orders", orders)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105_000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
        "l_returnflag": pa.array(
            np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]
        ),
        "l_linestatus": pa.array(
            np.array(["O", "F"])[rng.integers(0, 2, n_line)]
        ),
        "l_shipdate": _days(
            rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)
        ),
    })


def orders_columns(rng, n: int, n_cust: int, first_key: int = 0) -> dict:
    return {
        "o_orderkey": pa.array(np.arange(first_key, first_key + n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(
            np.array(["F", "O", "P"])[rng.integers(0, 3, n)]
        ),
        "o_totalprice": pa.array(_money(rng, n, 1000.0, 500_000.0)),
        "o_orderdate": _days(
            rng, n, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)
        ),
        "o_orderpriority": pa.array(
            np.array(_PRIORITIES)[rng.integers(0, 5, n)]
        ),
    }


def write_upsert_batch(
    data_dir: str, out_path: str, seed: int, batch: int, rows: int
) -> None:
    """A batch of mutated orders rows for an upsert: ``rows`` existing
    orders drawn by (seed, batch) get a new customer, price and date
    (moving them across ``cust_order_rank`` window partitions), plus a
    tenth as many brand-new orders appended after the current keys."""
    rng = np.random.default_rng([seed, 2, batch])
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet"))
    n_ord = orders.num_rows
    n_cust = pq.read_metadata(
        os.path.join(data_dir, "customer.parquet")
    ).num_rows
    keys = np.sort(rng.choice(n_ord, size=rows, replace=False))
    old = orders.take(pa.array(keys)).to_pydict()
    moved = {
        "o_orderkey": pa.array(old["o_orderkey"], pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, rows), pa.int64()),
        "o_orderstatus": pa.array(old["o_orderstatus"]),
        "o_totalprice": pa.array(
            np.round(np.array(old["o_totalprice"]) + 1000.0, 2)
        ),
        "o_orderdate": pa.array(
            [t + dt.timedelta(days=30) for t in old["o_orderdate"]],
            pa.timestamp("us"),
        ),
        "o_orderpriority": pa.array(old["o_orderpriority"]),
    }
    fresh = orders_columns(rng, max(1, rows // 10), n_cust, first_key=n_ord)
    table = pa.concat_tables([pa.table(moved), pa.table(fresh)])
    pq.write_table(table, out_path, compression="snappy")


def _doc_text(rng) -> str:
    n = int(rng.integers(10, 101))
    return " ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), n)])


def write_corpus(out_dir: str, seed: int, sf: float) -> None:
    """documents (with ~5% near-duplicates), label-clustered unit
    embeddings, and a month of timestamp-ordered user events."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_events = max(500, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_doc_text(rng))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, 7, n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centroids = rng.normal(size=(_EMB_LABELS, _EMB_DIM))
    labels = rng.integers(0, _EMB_LABELS, n_emb)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n_emb, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32
    )
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    start = _us(dt.datetime(2024, 1, 1))
    month = 30 * 86_400_000_000
    ts = np.sort(start + rng.integers(0, month, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(
            np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)]
        ),
        "value": pa.array(_money(rng, n_events, 0.01, 490.02)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_events)]),
    })
