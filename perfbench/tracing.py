"""Tracing from outside the program: spans around each layer's public
functions, Spark's event log, a streaming progress listener and a
query-planning listener.

Spans are kept in memory (name, layer, start, end, parent, call id,
thread) and written as JSON lines when the run ends.  Each span tags the
Spark jobs it launches with its own job group, so the event log can be
attributed per span.  Jobs launched on threads the span cannot tag, such
as streaming micro-batches, are attributed to the innermost span on the
calling thread that was open when they were submitted.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime

GROUP_PREFIX = "perfbench-"
PACKAGE = "data_pipeline_who_gho_spark"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    call: int | None
    thread: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s.start
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """Span recorder plus the attribute patches that feed it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.active = False
        self.call: int | None = None
        self._next = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield None
            return
        stack = self._stack()
        with self._lock:
            self._next += 1
            sp = Span(self._next, name, layer, stack[-1].id if stack else None,
                      self.call, threading.current_thread().name, time.time())
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sp.id}")
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(sp)

    # -- wrappers ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, layer: str, before=None, after=None):
        """Replace ``owner.attr`` with a span-recording wrapper.  ``before``
        gets the call's arguments; ``after(span, before_value, result)``
        records counters on the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer) as sp:
                ctx = before(*args, **kwargs) if before and sp else None
                out = orig(*args, **kwargs)
                if after and sp:
                    after(sp, ctx, out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def wrap_everywhere(self, func, name: str, layer: str, before=None, after=None):
        """Wrap ``func`` at every module attribute of the package (and the
        entry module) that is bound to it, since callers import the name."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == "__spark_entry__"
                                   or mod_name.split(".")[0] == PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self.wrap(mod, attr, name, layer, before, after)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")


# -- listeners -------------------------------------------------------------

def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def make_streaming_listener():
    """A StreamingQueryListener keeping every progress event's phase
    durations and state-operator sizes."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.started = 0
            self.terminated = 0

        def onQueryStarted(self, event):
            self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({
                "t": _iso_epoch(p.timestamp),
                "run_id": str(p.runId),
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
                "state_bytes": sum(op.memoryUsedBytes for op in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

        def drain(self, timeout_s: float = 10.0) -> None:
            """Wait until every started query's termination arrived."""
            deadline = time.time() + timeout_s
            while self.terminated < self.started and time.time() < deadline:
                time.sleep(0.05)

    return ProgressRecorder()


class PlanningRecorder:
    """A JVM QueryExecutionListener, implemented over the py4j callback
    server, that keeps each query execution's analysis, optimization and
    planning phases from its ``QueryPlanningTracker`` as
    ``{phase: (start epoch s, duration s)}``."""

    def __init__(self):
        self.phases: list[dict] = []

    def register(self, spark) -> "PlanningRecorder":
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)
        return self

    def onSuccess(self, func_name, qe, duration_ns):
        summary = qe.tracker().phases()
        rec = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = summary.get(phase)
            if opt.isDefined():
                ph = opt.get()
                rec[phase] = (ph.startTimeMs() / 1000.0, ph.durationMs() / 1000.0)
        self.phases.append(rec)

    def onFailure(self, func_name, qe, exc):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# -- event log -------------------------------------------------------------

def _is_python_node(node: dict) -> bool:
    return any(m["name"] == "data sent to Python workers" for m in node["metrics"])


def _python_row_ids(plan: dict, out: set[int]) -> None:
    if _is_python_node(plan):
        out.update(m["accumulatorId"] for m in plan["metrics"]
                   if m["name"] == "number of output rows")
    for child in plan["children"]:
        _python_row_ids(child, out)


def parse_event_log(path: str) -> tuple[list[dict], list[dict]]:
    """Stages that ran (job group, submission time and summed task
    metrics, including the Python-exec SQL metrics) and jobs (job group,
    submission time)."""
    stages: dict[int, dict] = {}
    jobs: list[dict] = []
    python_rows: set[int] = set()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                _python_row_ids(ev["sparkPlanInfo"], python_rows)
            elif kind == "SparkListenerJobStart":
                jobs.append({
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "submitted": ev.get("Submission Time", 0) / 1000.0,
                })
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "submitted": info.get("Submission Time", 0) / 1000.0,
                    "run_ms": [], "cpu_ns": 0, "gc_ms": 0, "failed": 0,
                    "shuffle_write": 0, "shuffle_read": 0, "fetch_wait_ms": 0,
                    "spill": 0, "in_bytes": 0, "in_rows": 0,
                    "py_to": 0, "py_from": 0, "py_rows": 0, "py_run_ms": 0,
                }
            elif kind == "SparkListenerTaskEnd":
                st = stages.get(ev["Stage ID"])
                if st is None:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                st["failed"] += 1 if info.get("Failed") else 0
                run_ms = m.get("Executor Run Time", 0)
                st["run_ms"].append(run_ms)
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                im = m.get("Input Metrics", {})
                st["in_bytes"] += im.get("Bytes Read", 0)
                st["in_rows"] += im.get("Records Read", 0)
                python_task = False
                for acc in info.get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if upd is None:
                        continue
                    if name == "data sent to Python workers":
                        st["py_to"] += int(upd)
                        python_task = True
                    elif name == "data returned from Python workers":
                        st["py_from"] += int(upd)
                    elif name == "number of output rows" and acc["ID"] in python_rows:
                        st["py_rows"] += int(upd)
                if python_task:
                    st["py_run_ms"] += run_ms
    return [st for st in stages.values() if st["run_ms"]], jobs
