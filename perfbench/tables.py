"""Seeded batch tables for the batch pass, in the layout the query registries
read (`<dir>/<table>.parquet`): a TPC-H-like star schema plus the
`events`, `documents` and `embeddings` tables, with µs timestamps.

Sizes are small on purpose: at this scale a query's time is mostly the
engine's fixed per-query cost (analysis, planning, job scheduling,
Python-worker round trips), which is what the batch twins share with
every larger run.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 1_500, "supplier": 50, "part": 1_000, "orders": 5_000,
         "lineitem": 20_000, "events": 10_000, "users": 150, "documents": 500,
         "embeddings": 500}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "cold", "green", "big", "shiny"]
_NOUN = ["ring", "widget", "bolt", "gear", "plate", "nut", "spring", "valve"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["purchase", "click", "error", "signup", "view"]
_WORDS = ("join hash row batch scan column customer filter small slow merge order vector "
          "line table data agg value key stream window a spark part group big sort query "
          "fast the").split()
_LANGS = ["en"] * 4 + ["zh", "es", "de", "fr"]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under out_dir; returns row counts."""
    rng = np.random.default_rng(seed)
    S = SIZES
    day_us = 86_400 * 10**6
    t1995 = 788_918_400 * 10**6  # 1995-01-01
    t2024 = 1_704_067_200 * 10**6  # 2024-01-01
    tabs: dict[str, pa.Table] = {}

    tabs["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tabs["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = S["customer"]
    tabs["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n)]})
    n = S["supplier"]
    tabs["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = S["part"]
    tabs["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
        "p_type": [_PTYPES[k] for k in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 2)})

    n = S["orders"]
    odate = t1995 + rng.integers(0, 7 * 365, n) * day_us
    tabs["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, S["customer"], n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [_PRIO[k] for k in rng.integers(0, 5, n)]})
    n = S["lineitem"]
    lorder = np.sort(rng.integers(0, S["orders"], n))
    linenum = np.ones(n, dtype=np.int32)
    for i in range(1, n):
        if lorder[i] == lorder[i - 1]:
            linenum[i] = linenum[i - 1] + 1
    qty = rng.integers(1, 51, n).astype(float)
    tabs["lineitem"] = pa.table({
        "l_orderkey": pa.array(lorder, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, S["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, S["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2900, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n)],
        "l_linestatus": [("O", "F")[k] for k in rng.integers(0, 2, n)],
        "l_shipdate": _ts(odate[lorder] + rng.integers(1, 122, n) * day_us)})

    n = S["events"]
    ts = t2024 + np.cumsum(rng.exponential(260e6, n)).astype("int64")
    tabs["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, S["users"], n), pa.int64()),
        "event_type": [_EVENT_TYPES[k] for k in rng.integers(0, 5, n)],
        "value": np.maximum(np.round(rng.exponential(50, n), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]})

    n = S["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(8, 90)))))
    tabs["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [_LANGS[k] for k in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    n = S["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (n, 64))).astype(np.float32)
    tabs["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return {k: v.num_rows for k, v in tabs.items()}
