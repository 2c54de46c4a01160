"""Round-close checklist as ONE command.

Runs, in order:

1. ``tools/stale_check.py`` — plan-hash drift vs PLAN_HASHES.json.
   Drift means a query changed after its last driver-green row: make
   sure each changed name is annotated in
   ``__spark_entry__._STALE_SINCE`` (this tool prints the list and, by
   design, does NOT guess the annotations for you).
2. the window-50 gate — ``tools/check_correctness.py`` over exactly the
   FIRST 50 entries of ``queries()`` (what the external driver will
   re-check next round) at sf0.01.
3. with ``--update``: rewrites the PLAN_HASHES.json baseline (run this
   only AFTER annotating _STALE_SINCE for every drifted query).

Usage:
  python tools/round_close.py            # check drift + window gate
  python tools/round_close.py --update   # same, then refresh baseline
  python tools/round_close.py --skip-gate --update   # baseline only

Exit code is non-zero if drift is unannotated-able (stale_check fails)
or any window query fails the gate.
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW = 50


def run(cmd: list[str]) -> int:
    print(f"\n=== {' '.join(cmd)} ===", flush=True)
    return subprocess.call(cmd)


def bench_norm_report() -> None:
    """Restate every recorded bench in HOST-NORMALIZED units (VERDICT
    r08 task 6): total / calib.python_loop_sec.  The yardstick is a
    Spark-independent Python loop run just before the JVM starts, so a
    raw total that drifts while the normalized figure holds is the host
    (steal/frequency phases — the r07 17.13 s episode), not the engine.
    Reference: r08 = 15.156 s at python_loop 0.405 s -> 37.4 loop-units;
    the established 13.5-15.2 s fast-phase raw band is 33-38 loop-units.
    Rounds before r08 predate the calib field and print raw-only."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    print("\n=== bench history (raw and host-normalized) ===", flush=True)
    for path in sorted(
        glob.glob(os.path.join(root, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    ):
        try:
            with open(path) as fh:
                rec = json.load(fh)
        except (OSError, ValueError) as exc:
            print(f"{os.path.basename(path)}: unreadable ({exc})")
            continue
        if isinstance(rec.get("parsed"), dict):
            rec = rec["parsed"]  # driver wraps bench stdout as "parsed"
        name = os.path.basename(path)
        value = rec.get("value")
        legacy = rec.get("legacy17_total", value)
        loop = (rec.get("calib") or {}).get("python_loop_sec")
        if rec.get("attempts") is not None:
            # r11+ format: the artifact is self-interpreting — the
            # headline is already the best fast-phase attempt, and the
            # Spark-JVM canary (not the Python loop, whose slowdown
            # sensitivity overcorrects) is the cross-round yardstick
            print(
                f"{name}: total {value} s, legacy17 {legacy} s, "
                f"fast_phase {rec.get('fast_phase')}, "
                f"canary {rec.get('canary_sec')} -> "
                f"{rec.get('legacy17_per_canary')} canary-units "
                f"({len(rec['attempts'])} attempt(s) recorded)"
            )
        elif loop:
            print(
                f"{name}: total {value} s, legacy17 {legacy} s, "
                f"python_loop {loop} s -> normalized {legacy / loop:.1f} "
                f"loop-units (pre-r11 format; loop-units overcorrect in "
                f"slow phases — see VERDICT r10)"
            )
        else:
            print(f"{name}: total {value} s (no calib recorded)")


def bench_prose_pin() -> int:
    """VERDICT r12 finding 2: any 'legacy17 ratio X, per-query median
    Y' sentence in a COVERAGE.md round-N evidence block must quote the
    COMMITTED BENCH_rN.json vs_prev numbers — a pre-commit validation
    session's numbers are not the artifact.  (Blocks whose BENCH file
    has not landed yet — the current round's — are skipped; they
    become checkable at the next round's open.)"""
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        text = open(os.path.join(root, "COVERAGE.md")).read()
    except OSError:
        return 0
    rc = 0
    blocks = re.split(r"(?m)^Round-(\d+) evidence", text)
    # re.split yields [head, num, body, num, body, ...]
    for k in range(1, len(blocks) - 1, 2):
        rnd, body = int(blocks[k]), blocks[k + 1]
        m = re.search(
            r"legacy17 ratio ([0-9.]+), per-query\s+median ([0-9.]+)",
            body,
        )
        if m is None:
            continue
        path = os.path.join(root, f"BENCH_r{rnd:02d}.json")
        try:
            with open(path) as fh:
                rec = json.load(fh)
        except OSError:
            continue  # artifact not landed yet (current round)
        if isinstance(rec.get("parsed"), dict):
            rec = rec["parsed"]
        vp = rec.get("vs_prev")
        if vp is None:
            # driver artifacts often carry only a truncated stdout
            # "tail" — bracket-match the vs_prev object out of it
            tail = rec.get("tail") or ""
            k = tail.find('"vs_prev": {')
            if k < 0:
                continue
            s = tail[k + len('"vs_prev": '):]
            depth = 0
            for j, chch in enumerate(s):
                depth += chch == "{"
                depth -= chch == "}"
                if depth == 0:
                    break
            try:
                vp = json.loads(s[:j + 1])
            except ValueError:
                continue
        want = (vp.get("legacy17_ratio"),
                vp.get("per_query_ratio_median", vp.get("per_query_median")))
        got = (float(m.group(1)), float(m.group(2)))
        if None not in want and got != tuple(want):
            print(
                f"BENCH PROSE MISMATCH (round {rnd}): COVERAGE.md "
                f"quotes ratio/median {got}, {os.path.basename(path)} "
                f"says {tuple(want)} — quote the committed artifact",
                flush=True,
            )
            rc = 1
    if rc == 0:
        print("bench prose matches committed vs_prev artifacts", flush=True)
    return rc


def main() -> None:
    update = "--update" in sys.argv
    skip_gate = "--skip-gate" in sys.argv
    rc = 0

    # 0. bench history in normalized units (diagnosis by arithmetic,
    # not re-investigation, when a driver run lands in a slow host phase)
    bench_norm_report()

    # 0a. bench prose pin (VERDICT r12 finding 2)
    rc = rc or bench_prose_pin()

    # 1. drift report (non-zero exit = drift or errors; keep going so the
    # gate still runs, but remember the failure)
    drift = run([sys.executable, "tools/stale_check.py"])
    if drift:
        print(
            "stale_check reported drift/errors — annotate "
            "__spark_entry__._STALE_SINCE before --update",
            flush=True,
        )
        rc = rc or drift

    import __spark_entry__ as entrymod

    # 1a. count pin (VERDICT r11 task 7): the three artifacts that claim
    # full-registry coverage must actually BE full-registry sized, so a
    # stale prose count can never survive a round_close run again
    import json

    n_reg = len(entrymod.queries())
    for fname in ("PLAN_HASHES.json", "PLAN_CENSUS.json"):
        try:
            with open(fname) as fh:
                n = len(json.load(fh))
        except (OSError, ValueError):
            n = -1
        if n != n_reg:
            print(
                f"COUNT MISMATCH: {fname} has {n} entries, registry has "
                f"{n_reg} — re-run the census/baseline before closing",
                flush=True,
            )
            rc = rc or 1
    print(f"registry size: {n_reg} (PLAN_HASHES/PLAN_CENSUS pinned)", flush=True)

    # 1b. ledger liveness: a _STALE_SINCE entry whose query has since
    # re-earned a driver-green row is self-cleared — prune it so the
    # ledger always reads as live state (VERDICT r06 item 6)
    greens = entrymod._green_rounds()
    cleared, _live = entrymod._ledger_split(greens, entrymod._STALE_SINCE)
    if cleared:
        print(
            f"self-cleared _STALE_SINCE entries (re-greened): {cleared} — "
            "prune them from __spark_entry__ before closing the round",
            flush=True,
        )
        rc = rc or 1

    # 2. window-50 gate at sf0.01 (what the driver will check next round)
    if not skip_gate:
        window = list(entrymod.queries())[:WINDOW]
        gate = run(
            [
                sys.executable,
                "tools/check_correctness.py",
                "/root/testdata/sf0.01",
                *window,
            ]
        )
        rc = rc or gate

    # 3. baseline refresh
    if update:
        upd = run([sys.executable, "tools/stale_check.py", "--update"])
        rc = rc or upd

    sys.exit(rc)


if __name__ == "__main__":
    main()
