"""Latency statistics and the process-memory sampler."""

from __future__ import annotations

import os
import statistics
import threading

# Tail percentiles the report may pick.  A fixed ladder keeps the chosen
# percentile the same across runs whose sample counts differ a little;
# a continuous 1 - 10/n would drift with every extra call.
TAIL_LADDER = (99, 95, 90, 75, 50)
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(values: list[float]) -> dict:
    """The highest ladder percentile with at least ``MIN_BEYOND`` samples
    strictly beyond it.  With too few samples for any, fall back to the
    median and say so."""
    n = len(values)
    for pct in TAIL_LADDER:
        if n * (100 - pct) >= MIN_BEYOND * 100:
            return {"value": percentile(values, pct / 100), "percentile": pct,
                    "samples": n, "fallback": False}
    return {"value": statistics.median(values), "percentile": 50,
            "samples": n, "fallback": True}


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def java_children(pid: int) -> list[int]:
    """Pids of the JVMs this process launched (the Spark driver)."""
    out = []
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            kids = [int(k) for k in fh.read().split()]
    except OSError:
        return out
    for kid in kids:
        try:
            with open(f"/proc/{kid}/cmdline", "rb") as fh:
                argv0 = fh.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            out.append(kid)
        else:  # spark-submit may sit between python and java
            out.extend(java_children(kid))
    return out


class PeakRss:
    """Samples driver Python + JVM resident memory from /proc while
    running; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        jvms = java_children(os.getpid())
        if not jvms:
            raise RuntimeError("no JVM child process found under /proc to sample")
        self.pids = [os.getpid()] + jvms
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
