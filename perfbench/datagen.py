"""Seeded generator for the benchmark's input tables.

Writes the ten TPC-H-ish tables the program's catalog reads (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the column names, types and value domains of the
project's reference test data, at the sizes in ``SIZES``. The same
seed gives byte-identical tables; the program only ever sees the files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table; about the project's sf0.001 shape, with twice the
# suppliers so the MP-level endpoints (one MP per supplier) have pairs.
SIZES = {
    "customer": 150,
    "supplier": 20,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 100,
    "embeddings": 100,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
DAY0 = dt.date(1995, 1, 1)
N_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int) -> list[dt.date]:
    return [DAY0 + dt.timedelta(days=int(d)) for d in rng.integers(0, N_DAYS, n)]


def orders_table(rng: np.random.Generator, n: int, n_customers: int, key0: int = 0) -> pa.Table:
    """Orders rows with keys ``key0 .. key0+n-1``; shared with the lake workload."""
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(key0, key0 + n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
            "o_orderstatus": pa.array([STATUSES[i] for i in rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": pa.array(
                [dt.datetime.combine(d, dt.time()) for d in _days(rng, n)],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n)]),
        }
    )


def tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` as Arrow tables."""
    rng = np.random.default_rng([seed, 0x5EED])
    n_c, n_s, n_p = SIZES["customer"], SIZES["supplier"], SIZES["part"]
    n_o, n_l = SIZES["orders"], SIZES["lineitem"]
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
            "n_regionkey": pa.array([i % 5 for i in range(N_NATIONS)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n_c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_c)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n_s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_p), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_p)],
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 2),
        }
    )
    out["orders"] = orders_table(rng, n_o, n_c)
    ship = _days(rng, n_l)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
            "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_l)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_l)],
            "l_shipdate": pa.array(
                [dt.datetime.combine(d, dt.time()) for d in ship], pa.timestamp("us")
            ),
        }
    )
    n_e = SIZES["events"]
    t0 = dt.datetime(2024, 1, 1)
    secs = np.sort(rng.uniform(0, 30 * 86400, n_e))
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(n_e), pa.int64()),
            "ts": pa.array(
                [t0 + dt.timedelta(microseconds=int(s * 1e6)) for s in secs],
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 150, n_e), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_e)],
            "value": _money(rng, 0.01, 490.0, n_e),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_e)],
        }
    )
    n_d = SIZES["documents"]
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(k)))
        for k in rng.integers(8, 90, n_d)
    ]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_d), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, 5, n_d)],
            "source": [f"src{i % 20}" for i in range(n_d)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    n_v = SIZES["embeddings"]
    vecs = rng.normal(0.0, 0.12, (n_v, EMBED_DIM)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_v), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_v), pa.int32()),
        }
    )
    return out


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
