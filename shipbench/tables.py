"""Seeded star-schema tables for the analytics mix.

The same ten tables the registered queries read — the TPC-H-like
``region nation customer supplier part orders lineitem``, the
``events`` stream table and the ``documents`` and ``embeddings`` of
the text and vector queries — with the same columns, parquet types and
value domains as the tables the queries were written against, at a
small size: the mix measures the engine's per-query plan and job cost,
not its scan rate. One parquet file per table, as
``sources.tables.table_path`` expects. The generator never calls the
package.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")

#: Rows per table; ``documents`` and ``embeddings`` have a fixed size
#: at every scale of the original tables too.
ROWS = {"customer": 300, "supplier": 20, "part": 400, "orders": 3000,
        "lineitem": 12000, "events": 2000, "documents": 500,
        "embeddings": 500}
USERS = 30
DIM = 64
LABELS = 10


def _days(rng, n: int, first: dt.date, last: dt.date) -> np.ndarray:
    span = (last - first).days
    base = np.datetime64(first, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    keys = {t: np.arange(n[t], dtype=np.int64) for t in n}
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": keys["customer"],
            "c_name": [f"Customer#{i:09d}" for i in keys["customer"]],
            "c_nationkey": rng.integers(0, 25, n["customer"], dtype=np.int32),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"])}),
        "supplier": pa.table({
            "s_suppkey": keys["supplier"],
            "s_name": [f"Supplier#{i:09d}" for i in keys["supplier"]],
            "s_nationkey": rng.integers(0, 25, n["supplier"], dtype=np.int32),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": keys["part"],
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, n["part"]),
                rng.choice(PART_NOUN, n["part"]))],
            "p_brand": [f"Brand#{b}" for b in
                        rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"], dtype=np.int32),
            "p_retailprice": np.round(900 + (keys["part"] % 1000) / 10, 2)}),
        "orders": pa.table({
            "o_orderkey": keys["orders"],
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(("F", "O", "P"), n["orders"]),
            "o_totalprice": _money(rng, n["orders"], 1000, 500000),
            "o_orderdate": _days(rng, n["orders"], dt.date(1995, 1, 1),
                                 dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"])}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"], dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(float),
            "l_extendedprice": _money(rng, n["lineitem"], 900, 105000),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
            "l_returnflag": rng.choice(("A", "N", "R"), n["lineitem"]),
            "l_linestatus": rng.choice(("F", "O"), n["lineitem"]),
            "l_shipdate": _days(rng, n["lineitem"], dt.date(1995, 1, 2),
                                dt.date(2001, 11, 4))}),
    }
    # Events: one stream over 30 days in event-id order.
    month_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, month_us, n["events"]))
    out["events"] = pa.table({
        "event_id": keys["events"],
        "ts": (np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, USERS, n["events"]),
        "event_type": rng.choice(EVENT_TYPES, n["events"]),
        "value": np.round(rng.lognormal(2.5, 1.2, n["events"]) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]})
    # Documents: bag-of-words texts; one in twenty repeats another
    # document's text with " dup" appended, for the dedup queries.
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100)))
             for _ in range(n["documents"])]
    for i in np.flatnonzero(rng.random(n["documents"]) < 0.05):
        texts[i] = texts[rng.integers(0, n["documents"])] + " dup"
    out["documents"] = pa.table({
        "doc_id": keys["documents"], "text": texts,
        "lang": rng.choice(LANGS, n["documents"],
                           p=(0.44, 0.14, 0.14, 0.14, 0.14)),
        "source": [f"src{i % 20}" for i in keys["documents"]],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    # Embeddings: unit vectors around one centre per label.
    labels = rng.integers(0, LABELS, n["embeddings"]).astype(np.int32)
    centres = rng.normal(0, 0.14, (LABELS, DIM))
    vecs = centres[labels] + rng.normal(0, 0.12, (n["embeddings"], DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": keys["embeddings"],
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels})
    return out


def write_tables(root: str, seed: int) -> str:
    """Write every table under ``root``; return ``root``, the directory
    the queries take as their ``sf_dir``."""
    os.makedirs(root, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root
