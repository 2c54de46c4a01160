"""Invariants of the derived sf1 tier (tools/make_sf1.py) — the claims
SCALING.md's superlinearity analysis rests on. Skipped when the tier
has not been materialized."""

from __future__ import annotations

import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(REPO, ".scratch", "sf1")
SRC = "/root/testdata/sf0.1"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SF1), reason="sf1 tier not materialized"
)


@pytest.fixture(scope="module")
def con():
    import duckdb

    return duckdb.connect()


def test_keys_are_disjoint_across_copies(con):
    for table, key in [("customer", "c_custkey"), ("orders", "o_orderkey"),
                       ("lineitem", "l_orderkey"), ("documents", "doc_id"),
                       ("embeddings", "vec_id")]:
        n, lo, hi = con.sql(
            f"SELECT COUNT(DISTINCT {key}), MIN({key}), MAX({key}) "
            f"FROM '{SF1}/{table}.parquet'"
        ).fetchone() if table in ("customer", "documents", "embeddings") else con.sql(
            f"SELECT COUNT(*), MIN({key}), MAX({key}) FROM "
            f"(SELECT DISTINCT {key} FROM '{SF1}/{table}.parquet')"
        ).fetchone()
        src_n = con.sql(
            f"SELECT COUNT(DISTINCT {key}) FROM '{SRC}/{table}.parquet'"
        ).fetchone()[0]
        assert n == 10 * src_n, f"{table}: shifted copies must not collide"
        assert hi >= 9 * 10_000_000, f"{table}: top copy offset missing"


def test_fk_references_stay_within_copy(con):
    orphans = con.sql(f"""
        SELECT COUNT(*) FROM '{SF1}/orders.parquet' o
        LEFT JOIN '{SF1}/customer.parquet' c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL
    """).fetchone()[0]
    assert orphans == 0


def test_documents_token_inflation_is_bounded(con):
    src_tok, sf1_tok = [
        con.sql(f"""
            SELECT SUM(len(regexp_split_to_array(trim(text), '\\s+')))
            FROM '{d}/documents.parquet'
        """).fetchone()[0]
        for d in (SRC, SF1)
    ]
    ratio = sf1_tok / src_tok
    # 10 copies, 9 of them with one tag token injected every 4 words:
    # expect ~10 * 1.25 = 12.5x, and certainly within (10, 13.5)
    assert 10.0 < ratio < 13.5, f"token inflation {ratio:.2f} out of range"


def test_cross_copy_texts_differ(con):
    # copy tags must change shingles: a doc and its copy-1 twin share a
    # prefix but not the full text
    same = con.sql(f"""
        SELECT COUNT(*) FROM '{SF1}/documents.parquet' a
        JOIN '{SF1}/documents.parquet' b ON b.doc_id = a.doc_id + 10000000
        WHERE a.doc_id < 10000000 AND a.text = b.text
          AND length(a.text) > 30
    """).fetchone()[0]
    assert same == 0


def test_embedding_rotation_preserves_norm_and_dim(con):
    bad = con.sql(f"""
        SELECT COUNT(*) FROM '{SF1}/embeddings.parquet' a
        JOIN '{SF1}/embeddings.parquet' b ON b.vec_id = a.vec_id + 10000000
        WHERE a.vec_id < 10000000 AND (
          len(b.embedding) <> len(a.embedding)
          OR abs(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * x))
               - list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * x))) > 1e-3
        )
    """).fetchone()[0]
    assert bad == 0
