"""The benchmark's metric catalogue.

End-to-end metrics are what a caller of the system sees; every workload
reports each of them.  Per-layer metrics come from the traced run, one
set per layer of the package; each names the end-to-end metric and
workload it should move (``moves``).  On every other pairing the
prediction is no change.  A layer metric that does not apply to a
workload reads 0 there.

Per-layer values are per timed call of the workload (a query call on
``query_mix``, an incremental ``run_pipeline`` call on
``etl_incremental``) unless the name says otherwise.
"""

from __future__ import annotations

import re

# Seconds one run measures, in whole rounds: at least three incremental
# runs on etl_incremental and one round of every query on query_mix, 10-18 s
# of calls on a 4-CPU host.  Short, because each run also pays ~7 s of JVM
# start plus 20-40 s of set-up, and a comparison takes 4 + 22 runs per
# workload within 3420 s: 15 s runs took up to 80 s of wall time when the
# host was busy.
RUN_SECONDS = 5

ETL = "etl_incremental"
MIX = "query_mix"
WORKLOADS = {
    ETL: "writes beside reads: incremental run_pipeline over a growing warehouse, "
         "then the WHO README queries on it",
    MIX: "registry queries from the SQL, LLM-curation and streaming families, "
         "each run warm with the plan caches cleared",
}

# name: (unit, better, bound, meaning)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25,
                "get_spark + registry import + one warm-up call per distinct call "
                "(and the initial full load on etl_incremental)"),
    "round_p50_s": ("s", "lower", 0.25,
                    "median latency of one round: one incremental run_pipeline on "
                    "etl_incremental; one call of each query, build + execute to the "
                    "noop sink, summed on query_mix"),
    "round_tail_s": ("s", "lower", 0.25,
                     "round latency at the highest ladder percentile with at least 10 "
                     "rounds beyond it, else the median (at 10 s runs, always the median)"),
    "calls_per_min": ("1/min", "higher", 0.25,
                      "timed calls completed per minute of timed wall time"),
    "retained_heap_mb": ("MB", "lower", 0.15,
                         "driver JVM heap in use after a full collection at the end of "
                         "the timed phase"),
}

Q_P50 = [("round_p50_s", MIX)]
E_P50 = [("round_p50_s", ETL)]
E_TPUT = [("calls_per_min", ETL)]
SETUP = [("setup_s", ETL), ("setup_s", MIX)]
# the no-op re-run and the A1/A4 reads of etl_incremental run in traced
# rounds only: the per-layer report measures them, no end-to-end metric does
TRACED_ONLY: list = []

# name: (unit, better, layer, moves)
PER_LAYER = {
    "session.get_spark_s": ("s", "lower", "session", SETUP),
    "session.registry_import_s": ("s", "lower", "session", SETUP),
    "plans.build_s": ("s", "lower", "plans", Q_P50),
    "plans.build_jobs": ("count", "lower", "plans", Q_P50),
    "plans.execute_s": ("s", "lower", "plans", Q_P50),
    "plans.execute_jobs": ("count", "lower", "plans", Q_P50),
    "plans.analysis_s": ("s", "lower", "plans", Q_P50),
    "plans.optimization_s": ("s", "lower", "plans", Q_P50),
    "plans.planning_s": ("s", "lower", "plans", Q_P50),
    "caching.persisted_frames": ("count", "lower", "caching", [("retained_heap_mb", MIX)]),
    "caching.memo_entries": ("count", "lower", "caching", [("retained_heap_mb", MIX)] + Q_P50),
    "caching.memo_hit_s": ("s", "lower", "caching", Q_P50),
    "caching.memo_saving_ratio": ("ratio", "higher", "caching", Q_P50),
    "catalog.load_table_s": ("s", "lower", "catalog", Q_P50),
    "catalog.memo_hit_ratio": ("ratio", "higher", "catalog", Q_P50),
    "scan.input_bytes": ("bytes", "lower", "catalog", Q_P50),
    "scan.input_rows": ("count", "lower", "catalog", Q_P50),
    "exec.run_s": ("s", "lower", "exec", Q_P50 + E_P50),
    "exec.cpu_s": ("s", "lower", "exec", Q_P50 + E_P50),
    "exec.gc_s": ("s", "lower", "exec", Q_P50 + E_P50),
    "exec.tasks": ("count", "lower", "exec", Q_P50 + E_P50),
    "exec.task_skew": ("ratio", "lower", "exec", Q_P50 + E_P50),
    "exec.failed_tasks": ("count", "lower", "exec", Q_P50 + E_P50),
    "shuffle.write_bytes": ("bytes", "lower", "exec", Q_P50 + E_P50),
    "shuffle.read_bytes": ("bytes", "lower", "exec", Q_P50 + E_P50),
    "shuffle.fetch_wait_s": ("s", "lower", "exec", Q_P50 + E_P50),
    "spill.bytes": ("bytes", "lower", "exec", Q_P50 + E_P50),
    "arrow.bytes_to_python": ("bytes", "lower", "functions", Q_P50),
    "arrow.bytes_from_python": ("bytes", "lower", "functions", Q_P50),
    "arrow.rows_from_python": ("count", "lower", "functions", Q_P50),
    "arrow.stage_run_s": ("s", "lower", "functions", Q_P50),
    "pipeline.jobs_per_run": ("count", "lower", "pipeline", E_P50),
    "pipeline.jobs_per_noop_run": ("count", "lower", "pipeline", TRACED_ONLY),
    "pipeline.noop_run_s": ("s", "lower", "pipeline", TRACED_ONLY),
    "pipeline.rows_per_s": ("rows/s", "higher", "pipeline", E_P50 + E_TPUT),
    "state.get_watermark_s": ("s", "lower", "state", E_P50),
    "state.set_run_at_s": ("s", "lower", "state", E_P50),
    "transform.clean_observations_s": ("s", "lower", "transform", E_P50),
    "transform.jobs": ("count", "lower", "transform", E_P50),
    "validate.validate_split_s": ("s", "lower", "validate", E_P50),
    "load.upsert_s": ("s", "lower", "load", E_P50),
    "load.upsert_jobs": ("count", "lower", "load", E_P50),
    "load.partitions_rewritten": ("count", "lower", "load", E_P50),
    "load.bytes_written": ("bytes", "lower", "load", E_P50),
    "load.rows_rewritten_per_batch_row": ("ratio", "lower", "load", E_P50),
    "load.append_rejects_s": ("s", "lower", "load", E_P50),
    "warehouse.files_per_partition": ("count", "lower", "load", E_P50),
    "quality.run_dq_checks_s": ("s", "lower", "quality", E_P50 + E_TPUT),
    "quality.jobs": ("count", "lower", "quality", E_P50),
    "engine.attach_warehouse_s": ("s", "lower", "engine", TRACED_ONLY),
    "engine.read_s": ("s", "lower", "engine", TRACED_ONLY),
    "streaming.batches_per_call": ("count", "lower", "streaming", Q_P50),
    "streaming.trigger_s": ("s", "lower", "streaming", Q_P50),
    "streaming.add_batch_s": ("s", "lower", "streaming", Q_P50),
    "streaming.query_planning_s": ("s", "lower", "streaming", Q_P50),
    "streaming.commit_s": ("s", "lower", "streaming", Q_P50),
    "streaming.state_rows": ("count", "lower", "streaming", Q_P50),
    "streaming.state_memory_bytes": ("bytes", "lower", "streaming", Q_P50),
    "streaming.sink_tables_leaked": ("count", "lower", "streaming", [("retained_heap_mb", MIX)]),
    "family.sql_p50_s": ("s", "lower", "plans", Q_P50 + [("calls_per_min", MIX)]),
    "family.llm_p50_s": ("s", "lower", "plans", Q_P50 + [("calls_per_min", MIX)]),
    "family.stream_p50_s": ("s", "lower", "streaming", Q_P50 + [("calls_per_min", MIX)]),
    # G1 grows the driver heap on GC-time goals, so the resident peak swung
    # 0.12-0.32 (IQR/median) over seeds: reported here, without a bound
    "process.peak_rss_mb": ("MB", "lower", "process", []),
    "trace.overhead_s": ("s", "lower", "trace", []),
}

# Span layers whose self time is reported as ``self.<layer>_s``.
SPAN_LAYERS = {
    "call": Q_P50 + E_P50,
    "plans": Q_P50,
    "catalog": Q_P50,
    "streaming": Q_P50,
    "pipeline": E_P50,
    "transform": E_P50,
    "validate": E_P50,
    "load": E_P50,
    "quality": E_P50,
    "state": E_P50,
}
for _layer, _moves in SPAN_LAYERS.items():
    PER_LAYER[f"self.{_layer}_s"] = ("s", "lower", _layer, _moves)

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` this catalogue defines."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound, _) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b}
            for n, (u, b, _, _) in PER_LAYER.items()
        ],
    }

