"""Turns one run's calls, spans, event log and listener records into the
end-to-end and per-layer metrics of ``layers.py``."""

from __future__ import annotations

import statistics
from collections import defaultdict

from layers import END_TO_END, PER_LAYER, SPAN_LAYERS
from stats import tail
from tracing import GROUP_PREFIX, self_times


def round_latencies(calls) -> list[float]:
    """One sample per round: the summed latency of its primary calls (one
    ``run_pipeline`` on etl_incremental, one call of every query on
    query_mix).  A round with a failed call gives no sample."""
    rounds = defaultdict(list)
    for c in calls:
        if c.primary:
            rounds[c.round].append(c)
    return [sum(c.latency for c in cs) for _, cs in sorted(rounds.items())
            if all(c.ok for c in cs)]


def end_to_end(calls, timed_s: float, setup_s: float, retained_mb: float) -> tuple[dict, dict]:
    """Metrics from the untraced calls, plus notes on how the tail was read."""
    lat = round_latencies(calls)
    primary = sum(1 for c in calls if c.primary)
    t = tail(lat) if lat else {"value": 0.0, "percentile": 50, "samples": 0, "fallback": True}
    values = {
        "setup_s": setup_s,
        "round_p50_s": statistics.median(lat) if lat else 0.0,
        "round_tail_s": t["value"],
        "calls_per_min": 60.0 * primary / timed_s if timed_s > 0 else 0.0,
        "retained_heap_mb": retained_mb,
    }
    return values, {"round_tail_s": t}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


PRIMARY_KINDS = ("query", "run")


def kind_of(span) -> str:
    return span.name.split(":")[0]


class Attribution:
    """Maps stages, jobs and spans on other threads to the main-thread
    span that was open when they started."""

    def __init__(self, spans):
        self.spans = {s.id: s for s in spans}
        self.main = sorted((s for s in spans if s.thread == "MainThread"),
                           key=lambda s: s.start)

    def innermost(self, t: float):
        best = None
        for s in self.main:
            if s.start > t:
                break
            if s.end >= t and (best is None or s.start >= best.start):
                best = s
        return best

    def span_of(self, group: str | None, t: float):
        if group and group.startswith(GROUP_PREFIX):
            sp = self.spans.get(int(group[len(GROUP_PREFIX):]))
            if sp is not None:
                return sp
        return self.innermost(t)

    def ancestors(self, sp) -> list:
        out = []
        while sp is not None:
            out.append(sp)
            if sp.parent is not None:
                sp = self.spans.get(sp.parent)
            elif sp.thread != "MainThread":
                sp = self.innermost(sp.start)
            else:
                sp = None
        return out

    def root(self, sp):
        chain = self.ancestors(sp)
        return chain[-1] if chain else None


def per_layer(calls, tracer, stages, jobs, phases, progress, windows, session,
              extra) -> dict:
    """Per-layer metrics of the traced primary calls; 0 where a layer has
    no work."""
    m = {name: 0.0 for name in PER_LAYER}
    m["session.get_spark_s"] = session["get_spark_s"]
    m["session.registry_import_s"] = session["registry_import_s"]
    m["process.peak_rss_mb"] = extra.get("peak_rss_mb", 0.0)

    def traced(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    traced_calls = [c for c in calls if traced(c.start)]
    primary = [c for c in traced_calls if c.primary]
    untraced = [c for c in calls if c.primary and c.ok and not traced(c.start)]
    traced_rounds = round_latencies(traced_calls)
    untraced_rounds = round_latencies(c for c in calls if not traced(c.start))
    if traced_rounds and untraced_rounds:
        m["trace.overhead_s"] = _median(traced_rounds) - _median(untraced_rounds)
    for fam in ("sql", "llm", "stream"):
        m[f"family.{fam}_p50_s"] = _median(c.latency for c in untraced if c.family == fam)

    attr = Attribution(tracer.spans)
    roots = [s for s in attr.main if s.parent is None and kind_of(s) in PRIMARY_KINDS
             and traced(s.start)]
    n = len(roots)
    if not n:
        return m
    root_ids = {s.id for s in roots}
    intervals = [(s.start, s.end) for s in roots]

    def in_primary(t: float) -> bool:
        return any(a <= t <= b for a, b in intervals)

    # spans inside primary calls, by name (a root's name is its kind)
    spans = [s for s in tracer.spans
             if (r := attr.root(s)) is not None and r.id in root_ids]
    by_name = defaultdict(list)
    for s in spans:
        by_name[kind_of(s)].append(s)

    def per_call(name: str) -> float:
        return sum(s.duration for s in by_name[name]) / n

    selfs = self_times(tracer.spans)
    for layer in SPAN_LAYERS:
        m[f"self.{layer}_s"] = sum(selfs[s.id] for s in spans if s.layer == layer) / n

    # -- event log: jobs and stages by span -----------------------------------
    jobs_under = defaultdict(int)
    for job in jobs:
        for a in attr.ancestors(attr.span_of(job["group"], job["submitted"])):
            jobs_under[a.id] += 1

    def jobs_per(name: str) -> float:
        return sum(jobs_under[s.id] for s in by_name[name]) / n

    run_stages = []
    for st in stages:
        r = attr.root(attr.span_of(st["group"], st["submitted"]))
        if r is not None and r.id in root_ids:
            run_stages.append(st)
    skews = []
    for st in run_stages:
        if len(st["run_ms"]) > 1:
            med = statistics.median(st["run_ms"])
            skews.append(max(st["run_ms"]) / med if med > 0 else 1.0)

    def total(key: str) -> float:
        return sum(st[key] for st in run_stages) / n

    m.update({
        "exec.run_s": sum(sum(st["run_ms"]) for st in run_stages) / 1000.0 / n,
        "exec.cpu_s": total("cpu_ns") / 1e9,
        "exec.gc_s": total("gc_ms") / 1000.0,
        "exec.tasks": sum(len(st["run_ms"]) for st in run_stages) / n,
        "exec.task_skew": _mean(skews),
        "exec.failed_tasks": total("failed"),
        "shuffle.write_bytes": total("shuffle_write"),
        "shuffle.read_bytes": total("shuffle_read"),
        "shuffle.fetch_wait_s": total("fetch_wait_ms") / 1000.0,
        "spill.bytes": total("spill"),
        "scan.input_bytes": total("in_bytes"),
        "scan.input_rows": total("in_rows"),
        "arrow.bytes_to_python": total("py_to"),
        "arrow.bytes_from_python": total("py_from"),
        "arrow.rows_from_python": total("py_rows"),
        "arrow.stage_run_s": total("py_run_ms") / 1000.0,
    })
    for phase in ("analysis", "optimization", "planning"):
        m[f"plans.{phase}_s"] = sum(
            p[phase][1] for p in phases if phase in p and in_primary(p[phase][0])) / n

    # -- query_mix layers ------------------------------------------------------
    m["plans.build_s"] = per_call("plans.build")
    m["plans.execute_s"] = per_call("plans.execute")
    m["plans.build_jobs"] = jobs_per("plans.build")
    m["plans.execute_jobs"] = jobs_per("plans.execute")
    loads = by_name["catalog.load_table"]
    m["catalog.load_table_s"] = per_call("catalog.load_table")
    if loads:
        m["catalog.memo_hit_ratio"] = sum(s.attrs["memo_hit"] for s in loads) / len(loads)
    m["caching.memo_entries"] = _mean(c.attrs["memo_entries"] for c in primary
                                      if "memo_entries" in c.attrs)
    m["caching.persisted_frames"] = _mean(c.attrs["persisted_frames"] for c in primary
                                          if "persisted_frames" in c.attrs)
    memo = [c.latency for c in traced_calls if c.kind == "memo_hit" and c.ok]
    warm = [c.latency for c in primary if c.family == "llm" and c.ok]
    if memo:
        m["caching.memo_hit_s"] = _mean(memo)
        m["caching.memo_saving_ratio"] = _mean(warm) / _mean(memo)
    stream_calls = sum(1 for c in primary if c.family == "stream")
    if stream_calls:
        prog = sorted((p for p in progress if in_primary(p["t"])), key=lambda p: p["t"])
        last = {p["run_id"]: p for p in prog}

        def phase_s(*keys: str) -> float:
            return sum(p["duration_ms"].get(k, 0) for p in prog for k in keys) / 1000.0 / stream_calls

        m.update({
            "streaming.batches_per_call": len(prog) / stream_calls,
            "streaming.trigger_s": phase_s("triggerExecution"),
            "streaming.add_batch_s": phase_s("addBatch"),
            "streaming.query_planning_s": phase_s("queryPlanning"),
            "streaming.commit_s": phase_s("walCommit", "commitOffsets"),
            "streaming.state_rows": sum(p["state_rows"] for p in last.values()) / stream_calls,
            "streaming.state_memory_bytes":
                sum(p["state_bytes"] for p in last.values()) / stream_calls,
            # tables registered over the whole timed phase, traced or not
            "streaming.sink_tables_leaked": extra.get("tables_added", 0) / sum(
                1 for c in calls if c.primary and c.family == "stream"),
        })

    # -- etl_incremental layers --------------------------------------------------
    rows = sum(c.attrs.get("rows", 0) for c in primary)
    if by_name["run"]:
        noop_roots = [s for s in attr.main if s.parent is None and kind_of(s) == "noop_run"
                      and traced(s.start)]
        upserts = by_name["load.upsert"]
        fact = [s for s in upserts if s.attrs.get("table") == "fact_observation"]
        m.update({
            "pipeline.jobs_per_run": jobs_per("run"),
            "pipeline.jobs_per_noop_run": (sum(jobs_under[s.id] for s in noop_roots)
                                           / len(noop_roots) if noop_roots else 0.0),
            "pipeline.noop_run_s": _mean(s.duration for s in noop_roots),
            "pipeline.rows_per_s": rows / sum(s.duration for s in by_name["run"]),
            "state.get_watermark_s": per_call("state.get_watermark"),
            "state.set_run_at_s": per_call("state.set_last_successful_run_at"),
            "transform.clean_observations_s": per_call("transform.clean_observations"),
            "transform.jobs": jobs_per("transform.clean_observations"),
            "validate.validate_split_s": per_call("validate.validate_split"),
            "load.upsert_s": per_call("load.upsert"),
            "load.upsert_jobs": jobs_per("load.upsert"),
            "load.partitions_rewritten": sum(s.attrs["partitions_rewritten"] for s in fact) / n,
            "load.bytes_written": sum(s.attrs["bytes_written"] for s in upserts) / n,
            "load.rows_rewritten_per_batch_row":
                sum(s.attrs["rows_rewritten"] for s in fact) / rows if rows else 0.0,
            "load.append_rejects_s": per_call("load.append_rejects"),
            "warehouse.files_per_partition": extra.get("files_per_partition", 0.0),
            "quality.run_dq_checks_s": per_call("quality.run_dq_checks"),
            "quality.jobs": jobs_per("quality.run_dq_checks"),
        })
    reads = [s for s in attr.main if s.parent is None and kind_of(s) == "read"
             and traced(s.start)]
    if reads:
        attach = [s for s in tracer.spans if s.name == "engine.attach_warehouse"
                  and (r := attr.root(s)) is not None and kind_of(r) == "read"]
        m["engine.attach_warehouse_s"] = _mean(s.duration for s in attach) if attach else 0.0
        m["engine.read_s"] = _mean(s.duration for s in reads)
    return m


def tags() -> dict:
    """For each metric, the end-to-end metric and workload it should move."""
    out = {n: {"unit": u, "better": b, "layer": layer, "moves": [
        {"metric": e, "workload": w} for e, w in moves]}
        for n, (u, b, layer, moves) in PER_LAYER.items()}
    for n, (u, b, _bound, meaning) in END_TO_END.items():
        out[n] = {"unit": u, "better": b, "meaning": meaning}
    return out
