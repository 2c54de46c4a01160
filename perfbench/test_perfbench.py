"""Self-tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pyarrow.parquet as pq
import pytest

import gen_tier
import layers
import report
from gen_who import WhoSource
from stats import tail
from tracing import Span, parse_event_log, self_times

ROOT = Path(__file__).resolve().parent.parent


def _files(d: Path) -> dict[str, bytes]:
    return {str(p.relative_to(d)): p.read_bytes() for p in sorted(d.rglob("*.parquet"))}


def _write(seed: int, d: Path) -> WhoSource:
    src = WhoSource(seed, str(d), batch_rows=1000)
    src.write_dims()
    src.write_batch(0, 3000, revisions=0.0)
    src.write_batch(1)
    src.write_batch(2)
    return src


# -- generators ----------------------------------------------------------------

def test_who_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = _write(7, tmp_path / "a"), _write(7, tmp_path / "b"), _write(8, tmp_path / "c")
    fa = _files(tmp_path / "a")
    assert fa == _files(tmp_path / "b")
    assert a.expected == b.expected
    assert fa != _files(tmp_path / "c")
    assert a.expected != c.expected


def test_who_batch_mix(tmp_path):
    src = _write(3, tmp_path)
    batch = pq.read_table(os.path.join(src.obs_dir, "batch-00002.parquet")).to_pylist()
    # 1% exact duplicates on top of the batch rows
    assert len(batch) == 1000 + 10
    ids = {r["Id"] for r in batch}
    assert len(ids) == 1000
    # batch 0 held Ids 1..3000, batch 1 added 3001..3750
    assert len({i for i in ids if int(i) <= 3750}) == 250  # revisions
    assert len({i for i in ids if int(i) > 3750}) == 750   # new Ids
    null_key = [r for r in batch if None in (r["IndicatorCode"], r["SpatialDim"], r["TimeDim"])]
    assert 0 < len(null_key) < 30
    assert all(r["Id"] not in src.expected for r in null_key)
    assert any(r["NumericValue"] == "No data" for r in batch)
    ts_type = pq.read_schema(os.path.join(src.obs_dir, "batch-00002.parquet")).field("ingested_at").type
    assert (ts_type.unit, ts_type.tz) == ("us", "UTC")
    # every batch gets its own, later ingested_at hour
    b1 = pq.read_table(os.path.join(src.obs_dir, "batch-00001.parquet")).column("ingested_at")
    assert max(b1.to_pylist()) < min(r["ingested_at"] for r in batch)


def test_revisions_are_last_write_wins(tmp_path):
    src = WhoSource(5, str(tmp_path), batch_rows=400)
    src.write_batch(0, 2000, revisions=0.0)
    before = dict(src.expected)
    src.write_batch(1)
    rows = pq.read_table(os.path.join(src.obs_dir, "batch-00001.parquet")).to_pylist()
    revised = {r["Id"] for r in rows if r["Id"] in before}
    assert 90 <= len(revised) <= 110
    for rid in revised:
        assert src.expected[rid][:3] == before[rid][:3]  # same key, new value


def test_tier_is_deterministic():
    a, b = gen_tier.build_tables(), gen_tier.build_tables()
    assert {k: t.num_rows for k, t in a.items()} == {
        **gen_tier.SIZES, "region": 5, "nation": 25}
    assert all(a[k].equals(b[k]) for k in a)


# -- statistics and spans ----------------------------------------------------------

@pytest.mark.parametrize("n,percentile,fallback", [
    (1000, 99, False), (200, 95, False), (100, 90, False), (99, 75, False),
    (40, 75, False), (39, 50, False), (20, 50, False), (19, 50, True), (1, 50, True),
])
def test_tail_rule(n, percentile, fallback):
    t = tail([float(i) for i in range(n)])
    assert (t["percentile"], t["fallback"], t["samples"]) == (percentile, fallback, n)
    assert n - 1 - t["value"] >= (0 if fallback else 10 - 1)


def test_tail_fallback_is_the_median():
    assert tail([3.0, 1.0, 2.0])["value"] == 2.0


def test_a_round_is_one_sample_of_its_primary_calls():
    from workloads import Call

    calls = [
        Call("query", "a", "sql", 0.0, 1.0, round=0),
        Call("query", "b", "llm", 0.0, 4.0, round=0),
        Call("memo_hit", "b", "llm", 0.0, 9.0, primary=False, round=0),
        Call("query", "a", "sql", 0.0, 2.0, round=1),
        Call("query", "b", "llm", 0.0, 5.0, round=1),
        Call("query", "a", "sql", 0.0, 1.0, round=2, ok=False),
        Call("query", "b", "llm", 0.0, 4.0, round=2),
    ]
    # the failed round gives no sample; non-primary calls are left out
    assert report.round_latencies(calls) == [5.0, 7.0]
    values, _ = report.end_to_end(calls, 60.0, 1.0, 1.0)
    assert values["round_p50_s"] == 6.0
    assert values["calls_per_min"] == 6.0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(1, "root", "call", None, 1, "MainThread", 0.0, 10.0),
        Span(2, "a", "load", 1, 1, "MainThread", 1.0, 3.0),
        Span(3, "b", "load", 1, 1, "MainThread", 2.0, 5.0),   # overlaps a
        Span(4, "c", "state", 1, 1, "MainThread", 9.0, 12.0),  # runs past the root
        Span(5, "d", "load", 3, 1, "MainThread", 2.5, 4.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[3] == pytest.approx(3.0 - 1.5)
    assert st[2] == pytest.approx(2.0)


def test_event_log_parser_attributes_python_metrics(tmp_path):
    plan = {"nodeName": "MapInPandas", "children": [], "metrics": [
        {"name": "data sent to Python workers", "accumulatorId": 50},
        {"name": "number of output rows", "accumulatorId": 55}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Submission Time": 1000,
         "Properties": {"spark.jobGroup.id": "perfbench-3"}},
        {"Event": "SparkListenerStageSubmitted", "Properties": {"spark.jobGroup.id": "perfbench-3"},
         "Stage Info": {"Stage ID": 0, "Submission Time": 1500}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Failed": False, "Accumulables": [
             {"ID": 50, "Name": "data sent to Python workers", "Update": "100"},
             {"ID": 55, "Name": "number of output rows", "Update": "7"},
             {"ID": 90, "Name": "number of output rows", "Update": "1000"}]},
         "Task Metrics": {"Executor Run Time": 40, "Executor CPU Time": 2_000_000,
                          "Input Metrics": {"Bytes Read": 10, "Records Read": 5}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Failed": True, "Accumulables": []},
         "Task Metrics": {"Executor Run Time": 10}},
    ]
    log = tmp_path / "log"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    stages, jobs = parse_event_log(str(log))
    assert jobs == [{"group": "perfbench-3", "submitted": 1.0}]
    (st,) = stages
    assert (st["group"], st["submitted"], st["run_ms"]) == ("perfbench-3", 1.5, [40, 10])
    assert (st["py_to"], st["py_rows"], st["py_run_ms"], st["failed"]) == (100, 7, 40, 1)
    assert (st["in_bytes"], st["in_rows"], st["cpu_ns"]) == (10, 5, 2_000_000)


# -- the metric catalogue and BENCHMARK.json -------------------------------------------

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_is_the_catalogue():
    assert BENCH == layers.benchmark_json()


def test_names_units_and_bounds_are_well_formed():
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in BENCH[key]]
    assert all(layers.NAME_RE.match(n) for n in names), names
    for key in ("end_to_end", "per_layer"):
        metric_names = [m["name"] for m in BENCH[key]]
        assert len(metric_names) == len(set(metric_names))
        assert all(layers.UNIT_RE.match(m["unit"]) for m in BENCH[key])
        assert all(m["better"] in ("lower", "higher") for m in BENCH[key])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in BENCH["workloads"])
    assert 2 <= len(BENCH["workloads"]) <= 8 and 1 <= len(BENCH["per_layer"]) <= 128
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(bounds.values())
    assert len(json.dumps(BENCH)) < 64 * 1024


def test_every_workload_and_layer_tag_is_declared():
    import workloads

    declared = {w["name"] for w in BENCH["workloads"]}
    assert set(workloads.WORKLOAD_CLASSES) == declared
    e2e = {m["name"] for m in BENCH["end_to_end"]}
    for name, (_u, _b, layer, moves) in layers.PER_LAYER.items():
        assert layer, name
        for metric, workload in moves:
            assert metric in e2e and workload in declared, (name, metric, workload)
    tags = report.tags()
    assert set(tags) == set(layers.PER_LAYER) | set(layers.END_TO_END)


def test_reports_carry_exactly_the_declared_metrics():
    values, notes = report.end_to_end([], 1.0, 1.0, 1.0)
    assert list(values) == [m["name"] for m in BENCH["end_to_end"]]
    assert set(notes) == {"round_tail_s"}

    class NoSpans:
        spans: list = []

    m = report.per_layer([], NoSpans(), [], [], [], [], [],
                         {"get_spark_s": 1.0, "registry_import_s": 0.1}, {})
    assert list(m) == [x["name"] for x in BENCH["per_layer"]]
