"""Staleness detector for the driver-rotation ledger.

The correctness gate re-checks ~50 queries per round, so a query whose
implementation changes AFTER its last driver-green row silently keeps
stale credit until the rotation cycles back to it. Round 5 added the
manual ``__spark_entry__._STALE_SINCE`` ledger; this tool keeps that
ledger honest by detecting changes mechanically:

* For every registered query, build its DataFrame and hash the
  NORMALIZED analyzed-plan text (expression ids ``#123``, plan ids,
  absolute paths, and memo-scratch dirs stripped — they vary per
  session but the plan shape does not).
* Compare against the committed ``PLAN_HASHES.json``. A changed hash
  means the query's semantics/plan changed since the baseline was
  recorded — if its last driver-green row predates the change, it
  belongs in ``_STALE_SINCE``.

Usage:
  python tools/stale_check.py           # report drift vs PLAN_HASHES.json
  python tools/stale_check.py --update  # rewrite the baseline (run after
                                        # annotating _STALE_SINCE, at the
                                        # end of a round)

Exit code 1 when drift is found (so a round-end checklist can gate on
it).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from data_pipeline_who_gho_spark import caching
from data_pipeline_who_gho_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
OUT = os.path.join(REPO, "PLAN_HASHES.json")

_NORMALIZERS = [
    # lambda-variable name suffixes (x_12) draw from a SESSION-GLOBAL
    # counter: any earlier-registered query that uses a higher-order
    # function shifts every later query's suffixes, so an unnormalized
    # baseline churns on mere registry reordering (observed round 5:
    # 6 new lambda-using queries "changed" 21 untouched plans)
    (re.compile(r"\blambda ([A-Za-z]\w*?)_\d+"), r"lambda \1_n"),
    (re.compile(r"#\d+L?"), "#x"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=x"),
    (re.compile(r"cachedrdd-\d+"), "cachedrdd-x"),
    (re.compile(r"LocalCheckpointScan\[[^\]]*\]"), "LocalCheckpointScan[x]"),
    (re.compile(r"ExistingRDD\[[^\]]*\]"), "ExistingRDD[x]"),
    (re.compile(r"/(tmp|proc)/[^\s,\)\]]+"), "/tmp/x"),  # scratch dirs
    (re.compile(r"file:[^\s,\)\]]+"), "file:x"),  # warehouse/table paths
    (re.compile(r"@[0-9a-f]{6,}"), "@x"),  # object identity hashes
    # per-run memory-sink view names of materialized streaming queries
    (re.compile(r"\bq[0-9a-f]{8,}\b"), "qx"),
]

_NODE_NAME = re.compile(r"^[\s+:*(\d)-]*([A-Za-z][A-Za-z0-9]+)")


def plan_hash(df) -> str:
    # Hybrid scheme: normalized ANALYZED text + a sorted node-name
    # multiset of the OPTIMIZED plan (rationale below, at `nodes`).
    qe = df._jdf.queryExecution()
    text = qe.analyzed().toString()
    for pat, repl in _NORMALIZERS:
        text = pat.sub(repl, text)
    # The OPTIMIZED plan contributes structure only (sorted node-name
    # multiset): cache substitution (InMemoryRelation — e.g. round-5's
    # global_rank persist fix) happens after analysis, so the analyzed
    # text alone misses it, while the optimized TEXT is unusable as-is —
    # RewriteDistinctAggregates permutes grouping columns and gid
    # literals from per-JVM hash-set iteration order. Node names are
    # stable across runs and still move when the physical strategy does.
    nodes = sorted(
        m.group(1)
        for ln in qe.optimizedPlan().toString().splitlines()
        if (m := _NODE_NAME.match(ln))
    )
    return hashlib.md5((text + "\n--\n" + ",".join(nodes)).encode()).hexdigest()


def _reset_plan_caches(spark) -> None:
    """Hermetic hashing: drop every plan-memo entry
    (``caching.clear_plan_caches``) and Spark's CacheManager entries
    before building a query's plan.

    Without this the hash is ORDER-dependent: a query that runs earlier
    in the rotation (e.g. round 6's corpus_build_e2e, which executes
    dedup_clusters' eager localCheckpoint) leaves materialized frames
    that Catalyst substitutes into later plans, so untouched queries
    (dedup_ngram_jaccard, dedup_sorted_neighborhood) "drift" purely
    because the registry order changed — verified by hashing them first
    (baseline match) vs after e2e (mismatch) in one session.

    ``main`` refuses to run if the audit finds a ``*_CACHE`` /
    ``*_MEMO`` module dict beside the package memo."""
    caching.clear_plan_caches()
    spark.catalog.clearCache()


def main() -> None:
    update = "--update" in sys.argv
    rogue = caching.unregistered_caches()
    if rogue:
        raise SystemExit(
            f"module-level memos {rogue} bypass caching.memo: build "
            "through it or the hashes below would be order-dependent"
        )
    spark = get_spark(app_name="stale-check")
    spark.sparkContext.setLogLevel("ERROR")

    current: dict[str, str] = {}
    errors: dict[str, str] = {}
    for name, fn in entrymod.queries().items():
        try:
            _reset_plan_caches(spark)
            current[name] = plan_hash(fn(spark, SF_DIR))
        except Exception as exc:  # pragma: no cover - diagnostic path
            errors[name] = str(exc)[:200]

    try:
        with open(OUT) as fh:
            baseline = json.load(fh)
    except (OSError, ValueError):
        baseline = {}

    changed = sorted(
        n for n, h in current.items() if n in baseline and baseline[n] != h
    )
    added = sorted(n for n in current if n not in baseline)
    removed = sorted(n for n in baseline if n not in current)

    print(f"checked {len(current)} queries ({len(errors)} errored)")
    if changed:
        print("CHANGED since baseline (candidates for _STALE_SINCE):")
        for n in changed:
            print(f"  {n}")
    if added:
        print(f"new queries (no baseline yet): {len(added)}")
    if removed:
        print(f"removed queries: {removed}")
    for n, e in errors.items():
        print(f"ERROR {n}: {e}")

    if update:
        with open(OUT, "w") as fh:
            json.dump(current, fh, indent=1, sort_keys=True)
        print(f"wrote {OUT}")
    elif changed or errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
