"""Deterministic generator of the warehouse tables the benchmark queries.

Writes ``<table>.parquet`` files shaped like the TPC-H-like testdata the
query library targets (``region nation customer supplier part orders
lineitem events documents``): same columns, types and value domains,
uniform random columns, one row group per file. ``scale=0.01`` gives the
sf0.01 row counts (60k lineitem rows, 500 documents).

The tables are a pure function of ``scale``: numpy's legacy
``RandomState`` stream is frozen across numpy versions, so the stored
oracle hashes in ``expected.json`` stay valid on any host.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: fixed generator seed; the per-run ``--seed`` drives operation order only
DATA_SEED = 138

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(start: str, n_days: int, rng: np.random.RandomState, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.randint(0, n_days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng: np.random.RandomState, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.RandomState, n: int) -> pa.Table:
    """Word-salad documents over a closed vocabulary. 5% of them are near
    duplicates: another document's text with `` dup`` appended, as in the
    testdata corpus (no exact copies), so every dedup kernel finds work."""
    texts = [
        " ".join(VOCAB[k] for k in rng.randint(0, len(VOCAB), rng.randint(10, 100)))
        for _ in range(n)
    ]
    for i in sorted(rng.choice(n, n // 20, replace=False)):
        j = (i + 1 + rng.randint(0, n - 1)) % n  # any other document
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.randint(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def generate(out_dir: str, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir``; return table -> row count."""
    rng = np.random.RandomState(DATA_SEED)
    n_cust = max(15, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(150, int(1_500_000 * scale))
    n_line = max(600, int(6_000_000 * scale))
    n_evt = max(1000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(100, int(50_000 * scale))

    def ints(hi: int, n: int, dtype=np.int64) -> pa.Array:
        return pa.array(rng.randint(0, hi, n).astype(dtype))

    def pick(values: list[str], n: int) -> pa.Array:
        return pa.array([values[k] for k in rng.randint(0, len(values), n)])

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": ints(25, n_cust, np.int32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": ints(25, n_supp, np.int32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.randint(1, 26, n_part)]),
            "p_type": pick(PART_TYPES, n_part),
            "p_size": pa.array(rng.randint(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)
            ),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": ints(n_cust, n_ord),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(_days("1995-01-01", 2404, rng, n_ord)),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": ints(n_ord, n_line),
            "l_partkey": ints(n_part, n_line),
            "l_suppkey": ints(n_supp, n_line),
            "l_linenumber": pa.array(rng.randint(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.randint(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
            "l_discount": pa.array(rng.randint(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.randint(0, 9, n_line) / 100.0),
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": pa.array(_days("1995-01-02", 2498, rng, n_line)),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us")
                + np.sort(rng.randint(0, 30 * 86_400_000_000, n_evt)).astype(
                    "timedelta64[us]"
                )
            ),
            "user_id": ints(n_users, n_evt),
            "event_type": pick(EVENT_TYPES, n_evt),
            "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.randint(0, 100, n_evt)]),
        }),
        "documents": _documents(rng, n_docs),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
