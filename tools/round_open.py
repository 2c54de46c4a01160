"""Round-open checklist as ONE command (VERDICT r11 task 1).

The driver's CORRECTNESS_r{N}.json lands AFTER the builder's final
commit, so registry invariants that read the correctness history
(the _STALE_SINCE self-clear rule above all) can silently go red
between rounds.  Run this FIRST thing each round:

1. prints self-cleared ``_STALE_SINCE`` entries (the driver re-greened
   them post-commit) — prune them from ``__spark_entry__`` immediately;
2. re-runs the registry invariant tests (``tests/test_registry.py``)
   against the just-landed CORRECTNESS file;
3. prints the latest-green-round distribution and the upcoming
   window-50 head, so "which cohort drains this round" is one read.

Usage:
  python tools/round_open.py

Exit code is non-zero if any invariant fails.
"""

from __future__ import annotations

import os
import subprocess
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW = 50


def main() -> None:
    import __spark_entry__ as entrymod

    rc = 0

    # 1. ledger liveness against the just-landed CORRECTNESS file
    greens = entrymod._green_rounds()
    cleared, _live = entrymod._ledger_split(greens, entrymod._STALE_SINCE)
    if cleared:
        print(
            f"PRUNE NOW — self-cleared _STALE_SINCE entries: {cleared}\n"
            "(the driver re-greened them after last round's final commit)"
        )
        rc = 1
    else:
        print("_STALE_SINCE ledger reads as live state (nothing to prune)")

    # 2. full registry invariant suite
    test_rc = subprocess.call(
        [sys.executable, "-m", "pytest", "tests/test_registry.py", "-q"]
    )
    rc = rc or test_rc

    # 3. cohort view: who drains this round
    effective = entrymod._effective_green()
    dist = Counter(effective.values())
    print("\nlatest-green distribution:",
          {f"r{r:02d}": c for r, c in sorted(dist.items())})
    names = list(entrymod.queries())
    window = names[:WINDOW]
    oldest = min((effective.get(n, -1) for n in window), default=-1)
    print(f"window head ({len(window)} queries), oldest signal r{oldest:02d}:")
    for n in window[:10]:
        print(f"  {n}  (green r{effective.get(n, -1):02d})")
    print(f"  ... +{max(0, len(window) - 10)} more")
    never = [n for n in names if n not in effective]
    print(f"never-green backlog: {len(never)} {never[:10]}")

    sys.exit(rc)


if __name__ == "__main__":
    main()
