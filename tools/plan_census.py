"""Plan-quality census over every registered query.

Forces each ``__spark_entry__.queries()`` entry end-to-end at the given
scale factor (noop sink), then records executed-plan statistics:
exchanges, broadcast vs sort-merge joins, nested loops, whole-stage
codegen spans, cached scans, bounded top-k, partial aggregation. Output
is one JSON file (PLAN_CENSUS.json) plus a sorted markdown summary —
the census is the whole-registry complement to PLANS.md's hand audits,
and a tripwire: a query whose SMJ/NLJ/exchange profile jumps between
rounds regressed structurally even if its runtime at toy scale did not.

Usage: python tools/plan_census.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from data_pipeline_who_gho_spark.session import get_spark


def census(plan: str) -> dict:
    return {
        "exchanges": plan.count("Exchange hashpartitioning"),
        "range_exchanges": plan.count("Exchange rangepartitioning"),
        "single_part_exchanges": plan.count("Exchange SinglePartition"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "wscg_spans": plan.count("WholeStageCodegen"),
        "cached_scans": plan.count("InMemoryTableScan"),
        "take_ordered": plan.count("TakeOrderedAndProject"),
        "window_group_limit": plan.count("WindowGroupLimit"),
        # anchored to aggregate-operator lines — a bare "partial_"
        # substring over the whole plan can false-positive on unrelated
        # operator text
        "partial_agg": any(
            "partial_" in ln and "Aggregate" in ln for ln in plan.splitlines()
        ),
        "python_eval": plan.count("ArrowEvalPython")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("MapInPandas")
        + plan.count("PythonMapInArrow")
        + plan.count("BatchEvalPython"),
        "row_at_a_time_python": plan.count("BatchEvalPython"),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "PLAN_CENSUS.json")
    spark = get_spark(app_name="plan-census")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            # Execute through the Dataset's OWN QueryExecution (collect),
            # not a separate write job: only then is the AdaptiveSparkPlan
            # finalized, so the census sees AQE's runtime join demotions
            # and coalescing. The executed string then contains BOTH the
            # final and the initial plan — count stats on the final
            # section only or every operator double-counts.
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            plan = plan.split("== Initial Plan ==")[0]
            out[name] = census(plan)
        except Exception as exc:  # streaming/materialized queries may differ
            out[name] = {"error": str(exc)[:200]}

    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)

    ok = {k: v for k, v in out.items() if "error" not in v}
    bad = {k: v for k, v in out.items() if "error" in v}
    n_smj = sum(1 for v in ok.values() if v["smj"])
    n_rowpy = sum(1 for v in ok.values() if v["row_at_a_time_python"])
    n_cart = sum(1 for v in ok.values() if v["cartesian"])
    print(f"{len(ok)}/{len(out)} queries audited")
    print(f"queries with SortMergeJoin: {n_smj}")
    print(f"queries with CartesianProduct: {n_cart}")
    print(f"queries with row-at-a-time Python: {n_rowpy}")
    worst = sorted(ok.items(), key=lambda kv: -kv[1]["exchanges"])[:10]
    for name, v in worst:
        print(f"  {name}: exchanges={v['exchanges']} smj={v['smj']} bhj={v['bhj']}")
    if bad:
        # a query that fails OUTRIGHT must not hide inside a benign
        # "N/M audited" line — fail the census loudly
        print(f"FAILED ({len(bad)}):")
        for name, v in bad.items():
            print(f"  {name}: {v['error']}")
        sys.exit(1)


if __name__ == "__main__":
    main()
