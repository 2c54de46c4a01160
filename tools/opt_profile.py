"""Optimization-round profiler (guide §1).

Times individual queries end-to-end with the noop sink (same methodology
as bench.py: best-of-N interleaved), labels jobs, and dumps
``explain('formatted')`` to plans/<round>/<query>_<tag>.txt.

Usage:
  python tools/opt_profile.py [--sf SF_DIR] [--reps N] [--tag before]
                              [--round r14] [--explain-only] [query ...]

Defaults to the bench HEADLINE set at sf0.1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from data_pipeline_who_gho_spark.session import get_spark


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--tag", default=None, help="when set, write plans/<round>/<q>_<tag>.txt")
    ap.add_argument("--round", default="r14", dest="round_dir")
    ap.add_argument("--explain-only", action="store_true")
    args = ap.parse_args()

    from bench import HEADLINE

    names = args.queries or list(HEADLINE)
    spark = get_spark(app_name="opt-profile")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    plandir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.round_dir)
    os.makedirs(plandir, exist_ok=True)

    # warm: page cache + parquet footers + codegen, mirroring bench.py
    if not args.explain_only:
        force(queries["a1_star_join_revenue"](spark, "/root/testdata/sf0.001"))
        from data_pipeline_who_gho_spark.sources.catalog import TABLES, load_table
        for t in TABLES:
            load_table(spark, args.sf, t).count()

    timings: dict[str, float] = {n: float("inf") for n in names}
    if args.tag:
        for name in names:
            df = queries[name](spark, args.sf)
            with open(os.path.join(plandir, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
    if args.explain_only:
        print(json.dumps({"explained": names}))
        return

    for _ in range(args.reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"opt:{name}")
            t0 = time.time()
            force(queries[name](spark, args.sf))
            timings[name] = min(timings[name], time.time() - t0)
            spark.sparkContext.setJobDescription(None)

    timings = {n: round(v, 3) for n, v in timings.items()}
    print(json.dumps({"sf": args.sf, "reps": args.reps,
                      "total": round(sum(timings.values()), 3),
                      "queries": timings}))


if __name__ == "__main__":
    main()
