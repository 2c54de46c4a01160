"""Materialize an sf1 dataset (10x sf0.1) for the scaling probe.

The driver ships sf0.001/0.01/0.1 only; one more decade is needed to
see past fixed overhead (SCALING.md). sf1 is derived from sf0.1 by 10
key-shifted copies, built with DuckDB into ``.scratch/sf1`` of this checkout
(gitignored — derived data, ~150 MB).

Copy semantics preserve each operator's workload *character* instead of
inflating it artificially:

- All BIGINT keys shift by ``copy * 10_000_000`` so copies never
  collide and FK references stay within their copy (orders->customer,
  lineitem->part/supplier).
- ``documents.text`` gets a copy-tag token injected every 4 words for
  copies >= 1: every 10-token shingle then differs across copies, so
  the intra-corpus duplicate/near-dup RATE stays ~constant (each copy
  keeps its own dup structure) instead of every doc gaining 9 exact
  twins — which would quadratically explode pair-generating ops and
  measure the blowup, not the algorithm.
- ``embeddings.embedding`` is rotated by the copy index (norm-
  preserving, direction-changing) for the same reason.
- ``nation``/``region`` are dimension tables — copied once, unshifted.

Usage: python tools/make_sf1.py [copies] [out_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SRC = "/root/testdata/sf0.1"
SHIFT = 10_000_000
TARGET_ROW_GROUPS = 64


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, ".scratch", "sf1")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.sql("SET threads TO 16")

    def build(table: str, select_for_copy) -> None:
        # ROW_GROUP_SIZE targets ~TARGET_ROW_GROUPS groups per table:
        # pre-shuffle scan parallelism equals the row-group count (byte
        # splits without a row-group start read zero rows — SCALING.md
        # round-7), so DuckDB's 122 880-row default would collapse the
        # small-row-count tables (documents: 50k rows -> ONE group) to
        # single-task scans and make every sf1 strong-scaling row
        # measure the layout, not the engine.
        parts = " UNION ALL ".join(select_for_copy(c) for c in range(copies))
        n_src = con.sql(
            f"SELECT COUNT(*) FROM '{SRC}/{table}.parquet'"
        ).fetchone()[0]
        rg = max(2048, -(-n_src * copies // TARGET_ROW_GROUPS))
        dest = os.path.join(out, f"{table}.parquet")
        con.sql(f"COPY ({parts}) TO '{dest}' (FORMAT PARQUET, ROW_GROUP_SIZE {rg})")
        n = con.sql(f"SELECT COUNT(*) FROM '{dest}'").fetchone()[0]
        print(f"{table}: {n} rows, row_group_size {rg}", flush=True)

    for dim in ("nation", "region"):
        con.sql(
            f"COPY (SELECT * FROM '{SRC}/{dim}.parquet') TO "
            f"'{os.path.join(out, dim + '.parquet')}' (FORMAT PARQUET)"
        )
        print(f"{dim}: copied", flush=True)

    build("customer", lambda c: f"""
        SELECT c_custkey + {c * SHIFT} AS c_custkey, c_name, c_nationkey,
               c_acctbal, c_mktsegment FROM '{SRC}/customer.parquet'""")
    build("supplier", lambda c: f"""
        SELECT s_suppkey + {c * SHIFT} AS s_suppkey, s_name, s_nationkey,
               s_acctbal FROM '{SRC}/supplier.parquet'""")
    build("part", lambda c: f"""
        SELECT p_partkey + {c * SHIFT} AS p_partkey, p_name, p_brand,
               p_type, p_size, p_retailprice FROM '{SRC}/part.parquet'""")
    build("orders", lambda c: f"""
        SELECT o_orderkey + {c * SHIFT} AS o_orderkey,
               o_custkey + {c * SHIFT} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM '{SRC}/orders.parquet'""")
    build("lineitem", lambda c: f"""
        SELECT l_orderkey + {c * SHIFT} AS l_orderkey,
               l_partkey + {c * SHIFT} AS l_partkey,
               l_suppkey + {c * SHIFT} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM '{SRC}/lineitem.parquet'""")
    build("events", lambda c: f"""
        SELECT event_id + {c * SHIFT} AS event_id, ts,
               user_id + {c * SHIFT} AS user_id, event_type, value, props
        FROM '{SRC}/events.parquet'""")

    def doc_text(c: int) -> str:
        if c == 0:
            return "text"
        return rf"regexp_replace(text, '((\S+ ){{4}})', '\1zq{c} ', 'g')"

    build("documents", lambda c: f"""
        SELECT doc_id + {c * SHIFT} AS doc_id,
               {doc_text(c)} AS text, lang, source,
               CAST(length({doc_text(c)}) AS BIGINT) AS n_chars
        FROM '{SRC}/documents.parquet'""")

    def rot(c: int) -> str:
        if c == 0:
            return "embedding"
        return f"embedding[{c + 1}:] || embedding[1:{c}]"

    build("embeddings", lambda c: f"""
        SELECT vec_id + {c * SHIFT} AS vec_id,
               CAST({rot(c)} AS FLOAT[]) AS embedding, label
        FROM '{SRC}/embeddings.parquet'""")


if __name__ == "__main__":
    main()
