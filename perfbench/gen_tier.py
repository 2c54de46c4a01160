"""Fixed query tier for the registry-query workload.

The registry queries read ten TPC-H-ish tables (``sources.catalog.TABLES``)
from one directory.  This module writes that directory from a fixed seed
at the sf0.1 sizes (600k lineitem, 150k orders, 100k events, 5k
documents, 2k embeddings), so the benchmark needs no data from outside its
checkout.  It follows the sf0.1 tier the registry was developed on, not
TPC-H: ``l_orderkey`` is uniform over the orders (2764 orders have no
lineitem) and ``l_shipdate`` is drawn apart from ``o_orderdate``, as in
that tier.  NOTES.md records the comparison of the two.  The tier is the
same on every run; the workload's ``--seed`` only permutes call order.

Each table is one row group, as in the tier the queries were tuned on:
scan parallelism follows the row-group count, so a different layout would
measure the layout instead of the engine.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TIER_SEED = 42
SIZES = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EXACT_DUP_DOCS = 8


def _epoch_us(d: datetime) -> int:
    return int((d - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, n: int, lo: datetime, hi: datetime) -> pa.Array:
    day = 86_400 * 1_000_000
    first, last = _epoch_us(lo) // day, _epoch_us(hi) // day
    return pa.array(rng.integers(first, last + 1, n) * day, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int = TIER_SEED) -> dict[str, pa.Table]:
    """Every table of the tier, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
    })
    parts = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": parts,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n["part"]), rng.choice(PART_NOUN, n["part"]))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (parts % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, n["orders"], 1000.0, 500000.0),
        "o_orderdate": _days(rng, n["orders"], datetime(1995, 1, 1), datetime(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], li),
        "l_partkey": rng.integers(0, n["part"], li),
        "l_suppkey": rng.integers(0, n["supplier"], li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days(rng, li, datetime(1995, 1, 2), datetime(2001, 11, 4)),
    })
    ev = n["events"]
    start = _epoch_us(datetime(2024, 1, 1))
    t["events"] = pa.table({
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": pa.array(np.sort(start + rng.integers(0, 30 * 86_400 * 1_000_000, ev)),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, ev),
        "event_type": rng.choice(EVENT_TYPES, ev),
        "value": np.round(rng.exponential(50.0, ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
    })
    nd = n["documents"]
    texts = [" ".join(rng.choice(VOCAB, k)) for k in rng.integers(10, 101, nd)]
    for i, j in zip(rng.choice(nd, EXACT_DUP_DOCS, replace=False),
                    rng.choice(nd, EXACT_DUP_DOCS, replace=False)):
        texts[i] = texts[j]
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    ne = n["embeddings"]
    labels = rng.integers(0, 10, ne)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (ne, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def tier_dir(work_dir: str) -> str:
    """Write the tier once per generator version; later runs reuse it."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(work_dir, f"tier-{version}")
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    shutil.rmtree(out, ignore_errors=True)  # a run cut off mid-write
    os.makedirs(out)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    open(os.path.join(out, "_COMPLETE"), "w").close()
    return out
