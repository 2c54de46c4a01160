"""Measure operator runtime vs scale factor (feeds SCALING.json/md).

Runs the named queries (default: every query already present in
SCALING.json) at sf0.001 / sf0.01 / sf0.1 in one warm session, best-of-2
per (query, sf), forced end-to-end through the noop sink (no driver
collect), and merges the timings into SCALING.json.

Usage: python tools/scaling_probe.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from data_pipeline_who_gho_spark.session import get_spark

# sf1 is derived data (tools/make_sf1.py) — probed only when materialized
SF_DIRS = {
    "0.001": "/root/testdata/sf0.001",
    "0.01": "/root/testdata/sf0.01",
    "0.1": "/root/testdata/sf0.1",
    "1": os.path.join(REPO, ".scratch", "sf1"),
}
SFS = [sf for sf, d in SF_DIRS.items() if os.path.exists(d)]
OUT = os.path.join(REPO, "SCALING.json")


def main() -> None:
    queries = entrymod.queries()
    try:
        with open(OUT) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        data = {sf: {} for sf in SFS}
    names = sys.argv[1:] or sorted(
        set().union(*(data.get(sf, {}) for sf in SFS))
    )
    if not names:
        raise SystemExit(
            "nothing to measure: SCALING.json is missing/empty and no "
            "query names were given — pass queries explicitly"
        )
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark(app_name="scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for sf in SFS:
        sf_dir = SF_DIRS[sf]
        for name in names:
            best = float("inf")
            for _ in range(2):
                t0 = time.monotonic()
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.monotonic() - t0)
            data.setdefault(sf, {})[name] = round(best, 3)
            print(f"sf{sf:>6} {name}: {best:.2f}s", flush=True)

    with open(OUT, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
    print(f"wrote {OUT}")
    # header names the probed sfs and labels the ratio with its actual
    # span (it silently widens when .scratch/sf1 is materialized)
    header = " | ".join(f"sf{sf}" for sf in SFS)
    print(f"| query | {header} | sf{SFS[-1]}/sf{SFS[0]} |")
    for name in names:
        row = [data[sf].get(name) for sf in SFS]
        if all(v is not None for v in row):
            ratio = row[-1] / row[0] if row[0] else float("nan")
            cells = " | ".join(f"{v:.2f}" for v in row)
            print(f"| {name} | {cells} | {ratio:.1f} |")


if __name__ == "__main__":
    main()
