"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload of ``layers.WORKLOADS`` against the package of the
checkout this file lives in, checks its outputs, and prints every metric
by name and unit; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, from a run that alternates untraced and traced rounds so
the tracing overhead is measured on the same host phase.

Everything the run writes stays under ``<checkout>/.bench_work``.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
PACKAGE = "data_pipeline_who_gho_spark"


@dataclass
class Context:
    """What a workload gets from the runner."""

    seed: int
    trace: bool
    spark: object
    canon: object  # tools/check_correctness.py, for spark_to_pdf and table_sig
    work_root: str
    run_dir: str


def prepare_environment(run_dir: str) -> None:
    """Point every scratch location of Spark, its Python workers and the
    package into the checkout, and size the engine to this host."""
    for sub in ("tmp", "local", "ckpt"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_STREAM_CKPT_DIR"] = os.path.join(run_dir, "ckpt")
    # session.py defaults to 32 shuffle partitions without it
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the driver heap keeps the package's own default, so the memory
    # metrics see how far the program grows it
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    # Python workers import the package too; without this they resolve it
    # from wherever the interpreter finds it, or not at all
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def require_checkout() -> None:
    if not (ROOT / PACKAGE / "__init__.py").is_file() or not (ROOT / "__spark_entry__.py").is_file():
        raise SystemExit(f"perfbench: no {PACKAGE} package or __spark_entry__.py beside "
                         f"{BENCH_DIR.name}/ in {ROOT}; run from a full checkout")


def import_checkout():
    """Import the package from this checkout only."""
    sys.path.insert(0, str(ROOT))
    import data_pipeline_who_gho_spark as pkg

    if not Path(pkg.__file__).resolve().is_relative_to(ROOT):
        raise SystemExit(f"perfbench: imported {pkg.__file__}, not the checkout's package")
    return pkg


def load_canon():
    """``tools/check_correctness.py``'s driver-faithful canonicalization."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_canon", ROOT / "tools" / "check_correctness.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def assert_checkout_modules() -> None:
    stray = [name for name, mod in sys.modules.items()
             if name.split(".")[0] in (PACKAGE, "__spark_entry__")
             and getattr(mod, "__file__", None)
             and not Path(mod.__file__).resolve().is_relative_to(ROOT)]
    if stray:
        raise SystemExit(f"perfbench: modules loaded from outside the checkout: {stray}")


def spark_conf(run_dir: str, event_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def retained_heap_mb(spark, attempts: int = 8) -> float:
    """Driver JVM heap still in use after full collections: what the
    program holds on to once its calls have returned.  Collect until the
    figure settles: Spark's ContextCleaner frees broadcast and shuffle
    blocks only after a collection has cleared their references, and took
    up to three collections half a second apart to do so."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    seen = []
    for n in range(attempts):
        if n:
            time.sleep(0.5)
        gc.collect()  # drop Python proxies, so py4j releases the Java objects
        jvm.java.lang.System.gc()
        seen.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        if n >= 2 and abs(seen[-1] - seen[-2]) <= 0.01 * seen[-2]:
            break
    print("retained heap after each collection: "
          + ", ".join(f"{mb:.1f}" for mb in seen) + " MB", file=sys.stderr)
    return seen[-1]


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    require_checkout()
    work_root = os.path.join(ROOT, ".bench_work")
    run_dir = os.path.join(work_root, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        return measure(args, work_root, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, work_root: str, run_dir: str) -> dict:
    prepare_environment(run_dir)
    sys.path.insert(0, str(BENCH_DIR))
    import_checkout()

    import layers
    import report
    from stats import PeakRss
    from workloads import WORKLOAD_CLASSES, NoTracer

    if args.workload not in WORKLOAD_CLASSES:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"one of {sorted(WORKLOAD_CLASSES)}")
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)

    from data_pipeline_who_gho_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      extra_conf=spark_conf(run_dir, event_dir))
    get_spark_s = time.perf_counter() - t0
    try:
        saved_path = list(sys.path)
        t0 = time.perf_counter()
        import __spark_entry__  # noqa: F401  (the registry)
        registry_import_s = time.perf_counter() - t0
        sys.path[:] = saved_path  # the entry module prepends a fixed source path
        canon = load_canon()
        sys.path[:] = saved_path
        assert_checkout_modules()

        ctx = Context(args.seed, bool(args.trace), spark, canon, work_root, run_dir)
        wl = WORKLOAD_CLASSES[args.workload](ctx)
        setup_s = get_spark_s + registry_import_s + wl.setup()

        tracer = progress = planning = None
        if args.trace:
            from tracing import PlanningRecorder, Tracer, make_streaming_listener

            tracer = Tracer(spark)
            progress = make_streaming_listener()
            spark.streams.addListener(progress)
            planning = PlanningRecorder().register(spark)
            tables_before = len(spark.catalog.listTables())

        calls, windows = [], []
        budget = args.seconds * (2 if args.trace else 1)
        with PeakRss() as rss:
            t_start = time.perf_counter()
            i = 0
            # a traced run measures at least one untraced and one traced
            # block (on etl_incremental, two runs and a no-op run each)
            min_rounds = 2 * wl.round_block if args.trace else wl.min_rounds
            while i < min_rounds or time.perf_counter() - t_start < budget:
                traced = bool(args.trace) and (i // wl.round_block) % 2 == 1
                if traced:
                    wl.tracer = tracer
                    tracer.active = True
                    wl.install(tracer)
                    w0 = time.time()
                try:
                    for c in wl.round(i, traced):
                        c.round = i
                        calls.append(c)
                finally:
                    if traced:
                        windows.append((w0, time.time()))
                        tracer.active = False
                        tracer.uninstall()
                        wl.tracer = NoTracer()
                i += 1
            timed_s = time.perf_counter() - t_start
        retained_mb = retained_heap_mb(spark)
        final_ok = wl.final_check()

        host = {
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg": os.getloadavg(),
            "package": str(ROOT / PACKAGE),
            "workload": args.workload,
            "seed": args.seed,
            "rounds": i,
            "timed_s": timed_s,
            "peak_rss_mb": rss.peak_mb,  # per layer only: the JVM's heap sizing makes it swing
        }
        extra = {}
        if args.trace:
            progress.drain()
            extra["tables_added"] = len(spark.catalog.listTables()) - tables_before
            extra["peak_rss_mb"] = rss.peak_mb
            if hasattr(wl, "files_per_partition"):
                extra["files_per_partition"] = wl.files_per_partition()
    finally:
        stop_spark(spark)

    untraced = [c for c in calls if not any(a <= c.start <= b for a, b in windows)]
    attempted = len(calls) + 1  # + the final state check
    failed = sum(1 for c in calls if not c.ok) + (0 if final_ok else 1)
    if args.trace:
        from tracing import parse_event_log

        log = os.path.join(event_dir, os.listdir(event_dir)[0])
        stages, jobs = parse_event_log(log)
        values = report.per_layer(
            calls, tracer, stages, jobs, planning.phases, progress.progress, windows,
            {"get_spark_s": get_spark_s, "registry_import_s": registry_import_s}, extra)
        names = layers.PER_LAYER
        notes = {}
        trace_dir = os.path.join(work_root, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        stem = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}")
        tracer.write_jsonl(stem + "-spans.jsonl")
        tags = report.tags()
        with open(stem + "-layers.jsonl", "w") as fh:
            fh.write(json.dumps({"host": host}) + "\n")
            for name, value in values.items():
                fh.write(json.dumps({"metric": name, "value": value, **tags[name]}) + "\n")
    else:
        values, notes = report.end_to_end(untraced, timed_s, setup_s, retained_mb)
        names = layers.END_TO_END

    print(f"host: {json.dumps(host)}")
    for name in names:
        unit = names[name][0]
        line = f"{name} = {values[name]:.6g} {unit}"
        if name in notes:
            t = notes[name]
            line += (f"  (p{t['percentile']} of {t['samples']} rounds"
                     + (", fewer than 20: the median" if t["fallback"] else "") + ")")
        print(line)
    for c in calls:
        print(f"round {c.round} {c.kind} {c.name} {c.latency:.3f} s{'' if c.ok else ' FAILED'}",
              file=sys.stderr)
    for f in wl.failures:
        print(f"FAILED: {f}")
    if args.trace:
        print(f"spans and per-layer report: {os.path.relpath(stem, ROOT)}-*.jsonl")
    return {
        "correct": not wl.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": names[n][0]} for n in names},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        result = run(args)
    except SystemExit:
        raise
    except Exception:
        traceback.print_exc()
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
