"""Seeded corpus tables for the ``corpus`` workload.

Writes the ten tables the query corpus reads (``corpus.registry.TABLES``)
as parquet, with the column names, types and value domains of the
TPC-H-like test tables the corpus is verified on: a star schema of
region/nation/customer/supplier/part/orders/lineitem, an ``events``
stream with nanosecond timestamps, token-bag ``documents`` of which
about 5% repeat an earlier text with a ``dup`` suffix, and unit-length
64-d ``embeddings``. Row counts follow a TPC-H scale factor; documents
and embeddings keep the 500 rows they have at small scale factors.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
PART_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "large")
PART_NOUN = ("bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
LANGS = ("en", "zh", "de", "fr", "es")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, pa.timestamp("us"))


def generate(out_dir: str, seed: int, sf: float = 0.01) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every corpus table."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_orders = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_events = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vecs = max(10, int(15_000 * sf)), 500, 500
    pick = lambda values, n: np.array(values, dtype=object)[rng.integers(0, len(values), n)]  # noqa: E731

    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)},
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(pick(PART_ADJ, n_part), pick(PART_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": pick(("P", "O", "F"), n_orders),
            "o_totalprice": _money(rng, 1000, 500_000, n_orders),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2400, n_orders),
            "o_orderpriority": pick(PRIORITIES, n_orders),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_orders, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pick(("A", "N", "R"), n_line),
            "l_linestatus": pick(("O", "F"), n_line),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2500, n_line),
        },
    }

    start_ns = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    ts = np.sort(start_ns + rng.integers(0, 30 * 86_400 * 10**9, n_events))
    tables["events"] = {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": pick(EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 490.02, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pick(LANGS + ("en",) * 2, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }

    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    }

    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
