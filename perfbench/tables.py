"""Seeded query tables for the query-mix workload.

Writes the four parquet tables the benchmarked queries read (`orders
lineitem events documents`) with the schemas and value domains of the
repository's TPC-H-like test data, sized by `sf` (sf=0.01 gives 60k
lineitems). One seed gives identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("orders", "lineitem", "events", "documents")
_WORDS = ("a agg batch big column customer data fast filter group hash join key line merge "
          "order part query row scan slow small sort spark stream table the value vector "
          "window").split()
_LANGS = ("en", "es", "zh", "de", "fr")
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000
_EPOCH_2024_US = 1_704_067_200_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return table.num_rows


def write_tables(out: str, *, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write every table under `out`; returns rows per table."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_orders, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users, n_events = max(10, int(15_000 * sf)), int(1_000_000 * sf)
    n_docs = max(100, int(50_000 * sf))
    rows = {}
    order_days = rng.integers(0, 2404, n_orders)
    rows["orders"] = _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _ts(_EPOCH_1995_US + order_days * _DAY_US),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_orders)})
    l_order = rng.integers(0, n_orders, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    rows["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995_US + (order_days[l_order] + rng.integers(1, 122, n_line))
                          * _DAY_US)})
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    rows["events"] = _write(out, "events", {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(_EPOCH_2024_US + ev_ts),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
        "value": np.round(rng.exponential(50, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    rows["documents"] = _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=[0.41, 0.15, 0.15, 0.14, 0.15]),
        "source": [f"src{i % 20 + 1}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    return rows
