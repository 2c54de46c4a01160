"""The two workloads.  Each is a closed loop: one caller in one process
sends its next call only after the previous one returned.

A workload provides ``setup()`` (returns the seconds of program work it
did, which count toward ``setup_s``), ``round(i, traced)`` (one unit of
timed work, returning its ``Call`` records; one round is one sample of
``round_p50_s``), ``install(tracer)`` (the layer wrappers its traced
rounds use) and ``final_check()``.  Correctness checks
run outside every timed region; a failed check marks the calls whose
output it covers as failed.
"""

from __future__ import annotations

import os
import random
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from gen_tier import tier_dir
from gen_who import LIFE_EXPECTANCY, WhoSource


@dataclass
class Call:
    kind: str            # the call's role: "query", "run", "noop_run", "read", "memo_hit"
    name: str
    family: str
    start: float         # epoch seconds
    latency: float
    ok: bool = True
    primary: bool = True  # counts toward round_p50_s / round_tail_s / calls_per_min
    attrs: dict = field(default_factory=dict)
    round: int = 0


class NoTracer:
    active = False
    call = None

    def span(self, name, layer):
        return nullcontext()


class Workload:
    round_block = 1  # traced runs alternate blocks of this many rounds
    min_rounds = 1  # an untraced run measures at least this many rounds

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = NoTracer()
        self.failures: list[str] = []
        self.calls_made = 0

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def timed(self, kind, name, family, fn, primary=True, layer="call"):
        """Run ``fn`` as one timed call inside a root span."""
        self.calls_made += 1
        self.tracer.call = self.calls_made
        t_epoch, t0 = time.time(), time.perf_counter()
        ok, out = True, None
        try:
            with self.tracer.span(f"{kind}:{name}", layer):
                out = fn()
        except Exception as exc:  # a failed call is a measured outcome
            ok = False
            self.fail(f"{name}: {type(exc).__name__}: {exc}")
        call = Call(kind, name, family, t_epoch, time.perf_counter() - t0, ok, primary)
        return call, out


# -- query_mix ---------------------------------------------------------------

# Registry queries by family.  sql: scans, Catalyst and shuffle, almost no
# build-time work (the control for caching and Arrow changes).  llm: plan
# build with eager pre-jobs, the plan-cache miss path and the Arrow/Python
# boundary.  stream: availableNow one-shot streams, the DSv2 paged source
# and applyInPandasWithState.
MIX_QUERIES = {
    "sql": ["a1_star_join_revenue", "q3_shipping_priority", "window_topn_per_group"],
    "llm": ["dedup_ngram_jaccard"],
    "stream": ["stream_paged_fetch", "stream_dedup_events"],
}


class QueryMix(Workload):
    name = "query_mix"

    def __init__(self, ctx):
        super().__init__(ctx)
        import __spark_entry__ as entry
        from data_pipeline_who_gho_spark import caching

        self.caching = caching
        self.registry = entry.queries()
        self.oracles = entry.oracle_sql()
        self.family = {q: f for f, qs in MIX_QUERIES.items() for q in qs}
        self.rng = random.Random(ctx.seed)
        self.wrong: set[str] = set()

    def clear(self) -> None:
        self.caching.clear_plan_caches()
        self.spark.catalog.clearCache()

    def setup(self) -> float:
        import duckdb

        self.tier = tier_dir(self.ctx.work_root)
        self.duck = duckdb.connect()
        for table in os.listdir(self.tier):
            if table.endswith(".parquet"):
                self.duck.sql(f"CREATE VIEW {table[:-8]} AS SELECT * FROM "
                              f"'{os.path.join(self.tier, table)}'")
        canon = self.ctx.canon
        spent = 0.0
        # warm-up in a fixed order: the first call pays the JVM's cold start,
        # so a seeded order would make setup_s depend on the seed
        for name in self.family:  # warm-up call per query, collected for the check
            self.clear()
            t0 = time.perf_counter()
            try:
                pdf = canon.spark_to_pdf(self.registry[name](self.spark, self.tier))
            except Exception as exc:
                self.fail(f"{name} warm-up: {type(exc).__name__}: {exc}")
                self.wrong.add(name)
                continue
            finally:
                spent += time.perf_counter() - t0
                print(f"warm-up {name}: {time.perf_counter() - t0:.3f} s", file=sys.stderr)
            self.check(name, pdf)
        return spent

    def check(self, name: str, pdf) -> None:
        canon = self.ctx.canon
        oracle = self.duck.sql(self.oracles[name]).df()
        oracle.columns = [c.lower() for c in oracle.columns]
        if canon.table_sig(pdf) != canon.table_sig(oracle):
            self.fail(f"{name}: result differs from its DuckDB oracle")
            self.wrong.add(name)

    def _query(self, name: str, memo_hit: bool = False):
        fn, tr = self.registry[name], self.tracer
        suffix = "_memo" if memo_hit else ""

        def call():
            with tr.span(f"plans.build{suffix}", "plans"):
                df = fn(self.spark, self.tier)
            with tr.span(f"plans.execute{suffix}", "plans"):
                df.write.format("noop").mode("overwrite").save()

        return call

    def round(self, i: int, traced: bool) -> list[Call]:
        """Every query once, in a seeded order.  The round's summed latency
        is the sample, so every query, the slowest too, counts toward
        ``round_p50_s``."""
        names = list(self.family)
        self.rng.shuffle(names)
        calls = []
        for name in names:
            fam = self.family[name]
            self.clear()
            call, _ = self.timed("query", name, fam, self._query(name))
            call.ok = call.ok and name not in self.wrong
            calls.append(call)
            if self.tracer.active:
                call.attrs["memo_entries"] = sum(len(c) for c in self.caching.PLAN_CACHES)
                call.attrs["persisted_frames"] = (
                    self.spark.sparkContext._jsc.getPersistentRDDs().size())
                if fam == "llm":  # second, uncleared call: the memo-hit state
                    memo, _ = self.timed("memo_hit", name, fam,
                                         self._query(name, memo_hit=True), primary=False)
                    memo.ok = memo.ok and name not in self.wrong
                    calls.append(memo)
        return calls

    def install(self, tracer) -> None:
        from data_pipeline_who_gho_spark.plans import streaming_queries
        from data_pipeline_who_gho_spark.sources import catalog

        def memo_ids(*_a, **_k):
            return {id(v) for v in catalog._TABLE_MEMO.values()}

        def memo_hit(sp, before, out):
            sp.attrs["memo_hit"] = id(out) in before

        tracer.wrap_everywhere(catalog.load_table, "catalog.load_table", "catalog",
                               memo_ids, memo_hit)
        tracer.wrap(streaming_queries, "_run_to_df", "streaming.run_to_df", "streaming")

    def final_check(self) -> bool:
        return True


# -- etl_incremental -----------------------------------------------------------

INITIAL_ROWS = 20_000
BATCH_ROWS = 2_000
NOOP_EVERY = 2  # a no-op re-run follows every second incremental run

A1_SQL = """
SELECT fo.time_dim AS year, fo.value AS life_expectancy
FROM fact_observation fo
JOIN dim_country dc ON fo.spatial_dim = dc.country_code
JOIN dim_indicator di ON fo.indicator_code = di.indicator_code
WHERE dc.country_name = 'Japan'
  AND di.indicator_name LIKE 'Life expectancy at birth%'
ORDER BY fo.time_dim
"""
A4_SQL = f"""
SELECT fo.spatial_dim AS country, fo.numeric_value AS value
FROM fact_observation fo
WHERE fo.indicator_code = '{LIFE_EXPECTANCY}'
  AND fo.time_dim = (SELECT MAX(time_dim) FROM fact_observation
                     WHERE indicator_code = '{LIFE_EXPECTANCY}')
ORDER BY fo.spatial_dim
"""


def _files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


class EtlIncremental(Workload):
    name = "etl_incremental"
    round_block = 2  # keeps a no-op re-run inside every traced block
    # the first timed run is still up to 1.4x slower than the next (JIT);
    # a median of three leaves it out
    min_rounds = 3

    def __init__(self, ctx):
        super().__init__(ctx)
        from data_pipeline_who_gho_spark import pipeline
        from data_pipeline_who_gho_spark.engine import Engine

        self.pipeline = pipeline
        self.Engine = Engine
        self.batch = 0

    def setup(self) -> float:
        import duckdb

        run_dir = self.ctx.run_dir
        self.wh = os.path.join(run_dir, "warehouse")
        self.src = WhoSource(self.ctx.seed, os.path.join(run_dir, "source"), BATCH_ROWS)
        ind, cty = self.src.write_dims()
        self.src.write_batch(0, INITIAL_ROWS, revisions=0.0)
        self.cfg = self.pipeline.PipelineConfig(
            warehouse_dir=self.wh, source_observations=self.src.obs_dir,
            source_indicators=ind, source_countries=cty)
        self.duck = duckdb.connect()
        spent = 0.0

        def step(what, fn):
            nonlocal spent
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            spent += dt
            print(f"{what}: {dt:.3f} s", file=sys.stderr)
            return out

        def run():
            return self.pipeline.run_pipeline(self.spark, self.cfg)

        # the initial full load, then one warm-up of each call a round makes:
        # the first incremental run takes the partition-scoped upsert path
        # cold; traced rounds add the no-op re-run and the reads
        self.check_run("initial load", step("initial load", run))
        self.batch += 1
        self.src.write_batch(self.batch)
        self.check_run("warm-up run", step("warm-up run", run))
        if self.ctx.trace:
            self.check_run("warm-up no-op run", step("warm-up no-op run", run))
            self.check_reads("warm-up reads", step("warm-up reads", self.reads))
        return spent

    def reads(self):
        engine = self.Engine(self.spark).attach_warehouse(self.wh)
        tr = self.tracer
        out = {}
        for label, sql in (("a1", A1_SQL), ("a4", A4_SQL)):
            with tr.span(f"engine.sql_{label}", "engine"):
                out[label] = self.ctx.canon.spark_to_pdf(engine.sql(sql))
        return out

    def check_run(self, what: str, metrics: dict | None) -> bool:
        want = len(self.src.expected)
        if not metrics or metrics.get("row_count") != want:
            self.fail(f"{what}: fact row_count {metrics and metrics.get('row_count')} "
                      f"!= expected {want}")
            return False
        return True

    def _duck_views(self) -> None:
        fact = os.path.join(self.wh, "fact_observation", "*", "*.parquet")
        self.duck.sql(
            "CREATE OR REPLACE VIEW fact_observation AS SELECT * FROM read_parquet("
            f"'{fact}', hive_partitioning = true)")
        for dim in ("dim_country", "dim_indicator"):
            self.duck.sql(f"CREATE OR REPLACE VIEW {dim} AS SELECT * FROM "
                          f"read_parquet('{os.path.join(self.wh, dim, '*.parquet')}')")

    def check_reads(self, what: str, results: dict | None) -> bool:
        if not results:
            return False
        canon = self.ctx.canon
        self._duck_views()
        for label, sql in (("a1", A1_SQL), ("a4", A4_SQL)):
            want = self.duck.sql(sql).df()
            want.columns = [c.lower() for c in want.columns]
            if canon.table_sig(results[label]) != canon.table_sig(want):
                self.fail(f"{what}: {label} differs from DuckDB over the warehouse")
                return False
        return True

    def round(self, i: int, traced: bool) -> list[Call]:
        """Append a batch and run the pipeline.  Traced rounds also run the
        A1/A4 reads and, every second round, a no-op re-run, for their
        per-layer metrics; untraced rounds leave them out so the timed
        budget holds more incremental runs.  ``final_check`` checks the
        reads over the final warehouse."""
        self.batch += 1
        _, rows = self.src.write_batch(self.batch)
        pl = self.pipeline
        run, metrics = self.timed("run", "run_pipeline", "etl",
                                  lambda: pl.run_pipeline(self.spark, self.cfg),
                                  layer="pipeline")
        run.attrs["rows"] = rows
        run.ok = run.ok and self.check_run(f"batch {self.batch}", metrics)
        if not traced:
            return [run]
        read, results = self.timed("read", "who_reads", "etl", self.reads,
                                   primary=False, layer="engine")
        read.ok = read.ok and self.check_reads(f"batch {self.batch} reads", results)
        calls = [run, read]
        if i % NOOP_EVERY == NOOP_EVERY - 1:
            noop, metrics = self.timed("noop_run", "run_pipeline", "etl",
                                       lambda: pl.run_pipeline(self.spark, self.cfg),
                                       primary=False, layer="pipeline")
            noop.ok = noop.ok and self.check_run(f"no-op after batch {self.batch}", metrics)
            calls.append(noop)
        return calls

    def install(self, tracer) -> None:
        from data_pipeline_who_gho_spark.operators import transform
        from data_pipeline_who_gho_spark.sources.state import EtlStateRepository

        pl = self.pipeline

        def snapshot(spark, updates, warehouse_dir, table, *a, **k):
            path = os.path.join(warehouse_dir, table)
            return table, path, _files(path)

        def rewritten(sp, before, _out):
            table, path, old = before
            new = {p: s for p, s in _files(path).items() if p not in old}
            sp.attrs.update(
                table=table,
                bytes_written=sum(new.values()),
                partitions_rewritten=len({os.path.dirname(p) for p in new}),
                rows_rewritten=sum(pq.read_metadata(p).num_rows for p in new),
            )

        tracer.wrap(pl, "clean_observations", "transform.clean_observations", "transform")
        tracer.wrap(transform, "_id_usable", "transform.id_usable", "transform")
        tracer.wrap(pl, "validate_split", "validate.validate_split", "validate")
        tracer.wrap(pl, "upsert", "load.upsert", "load", snapshot, rewritten)
        tracer.wrap(pl, "append_rejects", "load.append_rejects", "load")
        tracer.wrap(pl, "run_dq_checks", "quality.run_dq_checks", "quality")
        tracer.wrap(EtlStateRepository, "get_watermark", "state.get_watermark", "state")
        tracer.wrap(EtlStateRepository, "set_last_successful_run_at",
                    "state.set_last_successful_run_at", "state")
        tracer.wrap(self.Engine, "attach_warehouse", "engine.attach_warehouse", "engine")

    def files_per_partition(self) -> float:
        fact = os.path.join(self.wh, "fact_observation")
        parts = [d for d in os.listdir(fact) if d.startswith("time_dim=")]
        files = _files(fact)
        return len(files) / len(parts) if parts else 0.0

    def final_check(self) -> bool:
        """A1/A4 must match DuckDB over the final warehouse, and the fact
        table must hold exactly the generator's last-write-wins state: same
        key set, row count and values."""
        try:
            reads_ok = self.check_reads("final reads", self.reads())
        except Exception as exc:
            self.fail(f"final reads: {type(exc).__name__}: {exc}")
            reads_ok = False
        self._duck_views()
        rows = self.duck.sql(
            "SELECT observation_id, indicator_code, spatial_dim, CAST(time_dim AS INT), "
            "numeric_value, value FROM fact_observation").fetchall()
        got = {r[0]: tuple(r[1:]) for r in rows}
        ok = len(rows) == len(got) and got == self.src.expected
        if len(rows) != len(got):
            self.fail("fact_observation holds duplicate observation_ids")
        if got != self.src.expected:
            missing = len(self.src.expected.keys() - got.keys())
            extra = len(got.keys() - self.src.expected.keys())
            changed = sum(1 for k in got.keys() & self.src.expected.keys()
                          if got[k] != self.src.expected[k])
            self.fail(f"fact_observation != expected state: {missing} missing, "
                      f"{extra} extra, {changed} with other values")
        return ok and reads_ok


WORKLOAD_CLASSES = {QueryMix.name: QueryMix, EtlIncremental.name: EtlIncremental}
