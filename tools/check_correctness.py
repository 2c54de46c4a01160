"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet (default sf0.01),
then compares row count, column names, and an order-insensitive value
hash (rows sorted, columns sorted by name, values canonicalized).

Canonicalization is deliberately DRIVER-FAITHFUL (dtype-sensitive,
pandas-mediated), not value-stringifying:

* Both results pass through pandas. Spark rows are collected and each
  column containing datetime/date objects is converted with
  ``pd.to_datetime`` — so an out-of-``datetime64[ns]``-bounds sentinel
  (e.g. 9999-12-31) raises ``OutOfBoundsDatetime`` here exactly like it
  does in the driver's canonicalizer. DuckDB results go through
  ``.df()`` — so HUGEINT (un-cast integer SUMs) and DECIMAL surface as
  float64 while Spark's BIGINT stays int64.
* Cell canon strings are dtype-tagged (``i:``/``f:``/``b:``/``t:``), so
  an int64-vs-float64 divergence FAILS even when the numeric values are
  equal.  Round 2's two driver failures (HUGEINT ``SUM``, year-9999
  timestamp) were masked by the old stringifying canon; this one
  reproduces both.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from data_pipeline_who_gho_spark.session import get_spark

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_obj(v):
    """Value-based canon for object-dtype cells (strings, lists, bytes)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # negative-zero parity (verify-skill rule): the float-dtype canon
        # path distinguishes 0.0 from -0.0 via repr, so the object-dtype
        # path must too — the int collapse would fold -0.0 to "0" and
        # mask exactly the embed_standardize-class divergence the rule
        # exists to catch
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_obj(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, datetime):
        return "t:" + v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return "t:" + v.strftime("%Y-%m-%d 00:00:00.000000")
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    return str(v)


def _isnull(v):
    if v is None or v is pd.NaT:
        return True
    if isinstance(v, float) and math.isnan(v):
        return True
    return False


def canon_series(s: pd.Series) -> list[str]:
    """Dtype-tagged canon of one pandas column — the driver-faithful part."""
    if pd.api.types.is_bool_dtype(s.dtype):
        return [f"b:{bool(v)}" for v in s]
    if pd.api.types.is_integer_dtype(s.dtype):
        return [f"i:{int(v)}" for v in s]
    if pd.api.types.is_float_dtype(s.dtype):
        out = []
        for v in s:
            f = float(v)
            out.append("NULL" if math.isnan(f) else "f:" + repr(round(f, 9)))
        return out
    if pd.api.types.is_datetime64_any_dtype(s.dtype):
        return ["NULL" if pd.isna(v)
                else "t:" + pd.Timestamp(v).strftime("%Y-%m-%d %H:%M:%S.%f")
                for v in s]
    return ["NULL" if _isnull(v) else canon_obj(v) for v in s]


def spark_to_pdf(sdf) -> pd.DataFrame:
    """Collect a Spark DataFrame into pandas the way the driver does:
    Python objects -> pandas inference, with datetime columns forced
    through ``pd.to_datetime`` (raises OutOfBoundsDatetime past 2262)."""
    cols = sdf.columns
    rows = [tuple(r) for r in sdf.collect()]
    data = {}
    for i, c in enumerate(cols):
        vals = [r[i] for r in rows]
        s = pd.Series(vals, dtype=object) if not vals else pd.Series(vals)
        if s.dtype == object and any(
            isinstance(v, (datetime, date)) for v in vals if v is not None
        ):
            s = pd.to_datetime(s)
        data[i] = s
    pdf = pd.DataFrame(data)
    pdf.columns = [c.lower() for c in cols]
    return pdf


def table_sig(pdf: pd.DataFrame):
    cols = sorted(pdf.columns)
    # Driver tripwire: the driver canonicalizes via pandas
    # ``sort_values`` (lexsort -> Categorical -> factorize), which
    # raises TypeError on unhashable cells (lists/dicts/ndarrays).
    # Run the exact same sort here so a non-scalar result column fails
    # LOCALLY instead of only under the driver (the round-3
    # hashed_doc_vectors failure mode).
    if len(pdf):
        pdf.sort_values(by=cols)
    canon_cols = [canon_series(pdf[c]) for c in cols]
    body = sorted("|".join(col[r] for col in canon_cols)
                  for r in range(len(pdf)))
    return cols, body


def main():
    import os

    args = [a for a in sys.argv[1:]]
    # the first arg is the sf dir if it IS a directory (absolute or
    # relative) — the old startswith("/") test silently demoted a
    # relative path like `.scratch/sf1` to an unknown query name and ran
    # the gate at the default scale
    if args and (args[0].startswith("/") or os.path.isdir(args[0])):
        sf_dir = os.path.abspath(args.pop(0))
    else:
        sf_dir = "/root/testdata/sf0.01"
    only = set(args)

    spark = get_spark(app_name="check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(queries)
    if unknown:
        raise SystemExit(
            f"unknown query name(s): {sorted(unknown)} — a mistyped name "
            "(or a relative sf dir) would otherwise be silently skipped"
        )
    failures, passed, skipped = [], 0, 0

    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = spark_to_pdf(fn(spark, sf_dir))
        except Exception as e:
            failures.append((name, f"SPARK/CANON ERROR: {e}"))
            print(f"FAIL  {name}: spark/canon error {type(e).__name__}: {e}")
            continue
        sql = oracles.get(name)
        if not sql:
            print(f"skip  {name}: no oracle (rows-only) rows={len(spdf)} [{time.time()-t0:.1f}s]")
            skipped += 1
            continue
        try:
            dpdf = con.sql(sql).df()
            dpdf.columns = [c.lower() for c in dpdf.columns]
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error {e}")
            continue

        sc, sb = table_sig(spdf)
        dc, db_ = table_sig(dpdf)
        if sc != dc:
            failures.append((name, f"columns differ: spark={sc} duck={dc}"))
            print(f"FAIL  {name}: columns {sc} vs {dc}")
        elif len(sb) != len(db_):
            failures.append((name, f"row count: spark={len(sb)} duck={len(db_)}"))
            print(f"FAIL  {name}: rows {len(sb)} vs {len(db_)}")
        elif sb != db_:
            diff = [(a, b) for a, b in zip(sb, db_) if a != b][:3]
            failures.append((name, f"values differ, first diffs: {diff}"))
            print(f"FAIL  {name}: values differ; e.g. {diff[:1]}")
        else:
            passed += 1
            print(f"ok    {name}: rows={len(sb)} [{time.time()-t0:.1f}s]")

    # gate boundary: release every persisted-frame cache (ADVICE r06 —
    # the ranged-rank cache alone can pin up to 16 repartitioned copies;
    # a sweep over several scale factors would otherwise stack them)
    from data_pipeline_who_gho_spark.caching import clear_plan_caches

    clear_plan_caches()
    spark.catalog.clearCache()

    print(f"\n{passed} passed, {skipped} rows-only, {len(failures)} failed")
    if failures:
        print("FAILED QUERIES:")
        for name, why in failures:
            print(f"  {name}: {why[:200]}")
        sys.exit(1)


if __name__ == "__main__":
    main()
