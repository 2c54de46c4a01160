"""Materialize a documents-ONLY scale tier for the token-bound family.

Round-6 brief item 6: `dedup_simhash` / `bpe_token_counts` measured
3.5x/decade through sf1 with the explanation "token-linear, still
leaving the overhead floor". This builds the fifth decade that tests
the explanation: a text-only sf10 tier (100 key-shifted copies of
sf0.1's documents, ~200k docs, ~100x sf0.1's rows and ~125x its tokens
— the copy-tag injection adds one token per 4 words) so the
token-bound ops can be probed where data cost must dominate overhead.

Only documents.parquet is produced — the two target ops read nothing
else, and the full-table recipe already exists in make_sf1.py (same
copy semantics: shifted keys, tag-injected text so the intra-corpus
dup RATE stays constant instead of every doc gaining 99 exact twins).

Usage: python tools/make_text_tier.py [copies] [out_dir]
Defaults: 100 copies -> .scratch/sf10text of this checkout (gitignored).
"""

from __future__ import annotations

import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SRC = "/root/testdata/sf0.1"
SHIFT = 10_000_000


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, ".scratch", "sf10text")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.sql("SET threads TO 16")

    def doc_text(c: int) -> str:
        if c == 0:
            return "text"
        return rf"regexp_replace(text, '((\S+ ){{4}})', '\1zq{c} ', 'g')"

    parts = " UNION ALL ".join(
        f"""
        SELECT doc_id + {c * SHIFT} AS doc_id,
               {doc_text(c)} AS text, lang, source,
               CAST(length({doc_text(c)}) AS BIGINT) AS n_chars
        FROM '{SRC}/documents.parquet'"""
        for c in range(copies)
    )
    dest = os.path.join(out, "documents.parquet")
    # ~64 row groups so pre-shuffle scan parallelism isn't layout-capped
    # (scan parallelism = row-group count; SCALING.md round-7)
    n_src = con.sql(f"SELECT COUNT(*) FROM '{SRC}/documents.parquet'").fetchone()[0]
    rg = max(2048, -(-n_src * copies // 64))
    con.sql(f"COPY ({parts}) TO '{dest}' (FORMAT PARQUET, ROW_GROUP_SIZE {rg})")
    n, tok = con.sql(
        f"SELECT COUNT(*), SUM(len(regexp_split_to_array(trim(text), '\\s+'))) FROM '{dest}'"
    ).fetchone()
    print(f"documents: {n} rows, {tok} tokens")


if __name__ == "__main__":
    main()
