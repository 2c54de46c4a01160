"""Strong-scaling probe: fixed problem (sf1), varying cores.

Every other scaling artifact in SCALING.md holds cores fixed and grows
the DATA (weak-ish scaling per decade); this tool holds the data fixed
and shrinks local[N] across {4, 8, 16, 32} to measure parallel
efficiency of the heaviest queries — the missing evidence VERDICT r06
item 5 asked for.

Protocol (one fresh JVM per core count, so nothing leaks between
configs):

* master local[N]; spark.sql.shuffle.partitions stays 32 for EVERY N so
  the PLAN is identical across configs — only the thread pool changes
  (at N=4 the same 32 tasks run in 8 waves). AQE on, as everywhere.
* per query: two runs, each preceded by clear_plan_caches() +
  catalog.clearCache() (plan-cold), the SECOND run reported (JVM-warm:
  codegen, Arrow workers and parquet footers no longer dominate).
* terminal action is a noop-sink write — executes the full plan without
  driver-side collection cost.

Usage:
  python tools/strong_scaling.py                 # all configs, table
  python tools/strong_scaling.py --sf .scratch/sf10text --queries dedup_simhash
  python tools/strong_scaling.py --child 8       # one config, JSON line
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.path.join(REPO, ".scratch", "sf1")
CORES = [4, 8, 16, 32]
QUERIES = ["dedup_simhash", "semantic_dedup_reps", "corpus_build_e2e"]


def _flags() -> tuple[str, list[str], str]:
    sf = SF_DIR
    qs = QUERIES
    mpb = "128m"
    if "--sf" in sys.argv:
        sf = sys.argv[sys.argv.index("--sf") + 1]
    if "--queries" in sys.argv:
        qs = sys.argv[sys.argv.index("--queries") + 1].split(",")
    if "--max-partition-bytes" in sys.argv:
        # fixtures are single parquet files (sf1 documents = 6.7 MB), so
        # the DEFAULT 128m yields ONE input split and every pre-shuffle
        # map stage is serial no matter the core count. Shrinking the
        # split size recreates the multi-split input a real corpus has.
        mpb = sys.argv[sys.argv.index("--max-partition-bytes") + 1]
    return sf, qs, mpb


def child(n: int) -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from data_pipeline_who_gho_spark.caching import clear_plan_caches

    sf_dir, names, mpb = _flags()
    spark = (
        SparkSession.builder.appName(f"strong-scaling-{n}")
        .master(f"local[{n}]")
        .config("spark.sql.files.maxPartitionBytes", mpb)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    # unregistered queue queries resolve from their plan modules, same
    # as tools/queue_scaling_probe.py
    if any(name not in qs for name in names):
        from data_pipeline_who_gho_spark.plans import curation12, curation13

        for name in names:
            if name not in qs:
                for mod in (curation12, curation13):
                    if hasattr(mod, name):
                        qs[name] = getattr(mod, name)
                        break
    out = {}
    for name in names:
        # keep min over the two JVM-warm runs (runs 2 and 3; run 1 is
        # the cold warmup) so a single GC/AQE hiccup can't skew the row
        last_two = []
        for _run in range(3):
            clear_plan_caches()
            spark.catalog.clearCache()
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            last_two.append(time.time() - t0)
        out[name] = round(min(last_two[1:]), 2)
    print("RESULT " + json.dumps({"cores": n, "sec": out}))


def main() -> None:
    if "--child" in sys.argv:
        child(int(sys.argv[sys.argv.index("--child") + 1]))
        return
    sf_dir, names, mpb = _flags()
    rows = []
    for n in CORES:
        proc = subprocess.run(
            [
                sys.executable, __file__, "--child", str(n),
                "--sf", sf_dir, "--queries", ",".join(names),
                "--max-partition-bytes", mpb,
            ],
            capture_output=True,
            text=True,
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
        if not line:
            print(proc.stdout[-2000:], proc.stderr[-2000:])
            raise SystemExit(f"child local[{n}] failed")
        rows.append(json.loads(line[-1][len("RESULT "):]))
        print(line[-1], flush=True)

    base = rows[0]
    print("\n| query | " + " | ".join(f"local[{r['cores']}]" for r in rows)
          + " | efficiency 4→32 |")
    print("|---|" + "---|" * (len(rows) + 1))
    for q in names:
        cells = [f"{r['sec'][q]:.2f} s" for r in rows]
        speedup = base["sec"][q] / rows[-1]["sec"][q]
        eff = speedup / (rows[-1]["cores"] / base["cores"])
        print(f"| {q} | " + " | ".join(cells)
              + f" | {speedup:.1f}× ({eff:.0%}) |")


if __name__ == "__main__":
    main()
