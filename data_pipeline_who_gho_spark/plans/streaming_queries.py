"""Streaming paths exposed as oracle-checked queries.

Each query builds a real Structured Streaming job over the events fixture
(file source → watermarked transformation → memory sink, availableNow
trigger), waits for completion, and returns the materialized result. Over
static input, the streaming result must equal the batch aggregation — so
the DuckDB oracle is ordinary SQL, and the *streaming machinery itself*
(watermarks, state store, window assignment) sits inside the correctness
gate rather than only in unit tests.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import input_version, memo
from ..sources.catalog import load_table, table_path
from ..streaming.incremental import (
    stream_event_counts,
    stream_hopping_counts as _hopping_counts,
    stream_session_windows,
)

_EVENT_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"

# Staging parquet copies and checkpoints previously used a fresh uuid dir
# per run and never cleaned up — repeated driver/bench/census runs
# accumulated unbounded temp data. Staging dirs are now deterministic per
# (application, variant, sf_dir) and REUSED within a session (repeat runs
# skip the staging write entirely); checkpoints are removed as soon as the
# query terminates, and everything this process created is removed atexit.
_STAGE_LOCK = threading.Lock()
_CLEANUP_PATHS: set[str] = set()


def _cleanup_temp_paths() -> None:
    for p in list(_CLEANUP_PATHS):
        shutil.rmtree(p, ignore_errors=True)


atexit.register(_cleanup_temp_paths)


def _staged_write(spark: SparkSession, variant: str, sf_dir: str, write) -> str:
    """Run ``write(path)`` once per (app, variant, events version);
    reuse after.  Every variant stages the ``events`` table."""
    app = spark.sparkContext.applicationId
    version = input_version([table_path(sf_dir, "events")])
    tag = hashlib.md5(repr((sf_dir, version)).encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"stream-src-{app}-{variant}-{tag}")
    with _STAGE_LOCK:
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            shutil.rmtree(path, ignore_errors=True)  # partial prior write
            write(path)
        _CLEANUP_PATHS.add(path)
    return path


def _events_stream(
    spark: SparkSession, sf_dir: str, single_file: bool = False
) -> tuple[DataFrame, str]:
    """Stage the events table as a file-source stream (timestamps already
    µs-normalized by the catalog), return (stream, staging dir).
    ``single_file=True`` coalesces the staging write so queries whose
    sink semantics require EXACTLY one micro-batch (update-mode memory
    sinks: one emission per key per batch) actually get one."""
    def write(path: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        (ev.coalesce(1) if single_file else ev).write.parquet(path)

    stage = _staged_write(spark, "1f" if single_file else "nf", sf_dir, write)
    stream = spark.readStream.schema(_EVENT_SCHEMA).parquet(stage)
    return stream, stage


def _dup_events_stream(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, str]:
    """Events plus re-injected duplicates (every event_id % 5 == 0),
    staged as ONE file → one micro-batch; shared by both dedup demos."""
    def write(path: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        ev.unionByName(ev.filter(F.col("event_id") % 5 == 0)).coalesce(1).write.parquet(path)

    stage = _staged_write(spark, "dup", sf_dir, write)
    return spark.readStream.schema(_EVENT_SCHEMA).parquet(stage), stage


# State-store partition count for the stateful queries below (r13/r14,
# guide §2.6/§5): stateful operators pin their partitioning to
# spark.sql.shuffle.partitions at FIRST query start and AQE never
# coalesces stateful stages, so every micro-batch pays a constant-cost
# store open/commit (delta-file write + fsync) PER PARTITION PER STORE —
# a stream-stream join carries four stores per partition, i.e. 128
# commits per batch at 32 partitions for milliseconds of actual join
# compute (measured r13: stream_stream_join 8.8 s @ 32 -> 3.2 s @ 8).
# r14 (VERDICT r13 task 7): the constant 8 becomes scale-adaptive — it
# stays the LOCAL bound (an r14 interleaved partition matrix at 1/4/8
# with the no-data batch disabled measured every family query flat
# within ±0.2 s, so 8 keeps the r13-measured shape) but a bound DERIVED
# FROM INPUT VOLUME raises it toward the session setting when real
# stream volume arrives: one extra state partition per 32 MB of staged
# batch input.  That removes the r13 skew/throughput cliff ("8 forever
# unless the operator knows the env var"): production volume raises the
# count automatically, the env override still wins when set, and the
# bound never exceeds the session's shuffle setting, so low-core bench
# runs keep their shape.
_STATE_PARTITIONS_ENV = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
_STATE_BYTES_PER_PARTITION = 32 << 20
_STATE_PARTITIONS_LOCAL = 8


def _derived_state_partitions(
    session_parts: int, input_bytes: int | None, compute_floor: int = 1
) -> int:
    """``compute_floor`` keeps a parallelism floor for queries whose
    per-batch work is real compute (the Python-stateful operator:
    ~4.5 s of serial pandas at one partition vs 1.6 s at eight,
    measured) — the state-commit cost argument only wins when the
    batch work is milliseconds."""
    if _STATE_PARTITIONS_ENV:
        return min(int(_STATE_PARTITIONS_ENV), session_parts)
    base = min(_STATE_PARTITIONS_LOCAL, session_parts)
    if input_bytes is None:
        return max(base, min(compute_floor, session_parts))
    derived = -(-input_bytes // _STATE_BYTES_PER_PARTITION)  # ceil div
    return max(
        base, min(derived, session_parts), min(compute_floor, session_parts)
    )


def _dir_bytes(path: str) -> int:
    """Total bytes under a staging dir (flat — staging writes are flat)."""
    try:
        with os.scandir(path) as it:
            return sum(e.stat().st_size for e in it if e.is_file())
    except OSError:
        return 0


def _ckpt_base() -> str:
    """Checkpoint base dir for the availableNow one-shot queries.

    Their checkpoints are deleted the moment the query terminates (see
    _run_to_df) — recoverability is not part of this contract, and the
    env override RELOCATES the ephemeral dirs without changing that
    (they are still removed at query end) — so the default prefers a
    RAM-backed tmpfs over disk.  Measured a wash locally (offsets/wal
    were ~75 ms/batch); kept for I/O posture on shared disks.  A
    continuous production stream needs recoverable checkpoints and must
    pass its own durable checkpointLocation through writeStream — these
    one-shot gate/bench queries are not that surface."""
    base = os.environ.get("SPARK_GRAFT_STREAM_CKPT_DIR")
    if base:
        return base
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        return "/dev/shm"
    return tempfile.gettempdir()


# The shuffle-partition override below mutates a session-global conf for
# the set -> start() window; concurrent batch-plan construction on other
# threads (the §2.7 concurrent materializations elsewhere in the repo)
# must not plan under the reduced count (ADVICE r13 low).  All streaming
# starts serialize on this lock; batch threads never reduce the conf, so
# holding it only here is sufficient.
_STREAM_CONF_LOCK = threading.Lock()


def _run_to_df(
    spark: SparkSession,
    out: DataFrame,
    mode: str = "complete",
    input_bytes: int | None = None,
    compute_floor: int = 1,
    no_data_batch: bool = False,
) -> DataFrame:
    name = "q" + uuid.uuid4().hex[:10]
    ckpt = os.path.join(_ckpt_base(), f"ckpt-{name}")
    # no-data micro-batches (r14, measured): after the data batch,
    # availableNow runs one more empty batch purely to finalize the
    # watermark and evict state — 0.7 s of addBatch+planning on the
    # stream-stream join for state the terminating query is about to
    # discard.  Every registered streaming query emits its rows in the
    # DATA batch (complete/update modes re-emit per batch; the append
    # dedups and the inner interval join emit on arrival; nothing uses
    # GroupStateTimeout or watermark-triggered append aggregation), so
    # the finalize batch is pure overhead here.  A future append-mode
    # windowed aggregation — whose output only materializes when the
    # watermark passes — must pass no_data_batch=True.
    confs = {
        "spark.sql.shuffle.partitions": str(
            _derived_state_partitions(
                int(spark.conf.get("spark.sql.shuffle.partitions")),
                input_bytes,
                compute_floor,
            )
        ),
        "spark.sql.streaming.noDataMicroBatches.enabled": (
            "true" if no_data_batch else "false"
        ),
    }
    with _STREAM_CONF_LOCK:
        prev: dict[str, str | None] = {}
        for k, v in confs.items():
            # get(k, None) is None when the conf was never explicitly
            # set — restore then UNSETs instead of pinning the default
            prev[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        try:
            q = (
                out.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
        finally:
            # restored after start(): the confs are captured into the
            # query at start (StreamExecution clones the session in its
            # constructor)
            for k, old in prev.items():
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)
    try:
        finished = q.awaitTermination(300)
        if not finished:
            q.stop()
            raise TimeoutError(
                "streaming query did not complete within 300s — refusing to "
                "return a partially-populated memory sink"
            )
    finally:
        # the memory sink holds the result; the checkpoint is dead weight
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling windows over the event stream."""
    stream, stage = _events_stream(spark, sf_dir)
    out = stream_event_counts(stream, window="1 hour", watermark="2 hours")
    res = _run_to_df(spark, out, input_bytes=_dir_bytes(stage))
    return res.select(
        "window_start",
        "window_end",
        "event_type",
        "n_events",
        # decimal-exact total for oracle parity (stream sums doubles in
        # arrival order — not reproducible; re-derive exactly instead)
    ).join(
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value")),
        ["window_start", "event_type"],
    )


STREAM_TUMBLING_SQL = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2, 3
"""


def stream_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 2-hour windows hopping every hour: each event counts
    toward exactly TWO overlapping windows. Oracle: replicate the window
    assignment in batch SQL (start = hour-trunc minus 0 or 1 hours)."""
    stream, stage = _events_stream(spark, sf_dir)
    out = _hopping_counts(
        stream, window="2 hours", slide="1 hour", watermark="2 hours"
    )
    return _run_to_df(spark, out, input_bytes=_dir_bytes(stage)).select(
        "window_start", "window_end", "event_type", "n_events"
    )


STREAM_HOPPING_SQL = """
WITH assigned AS (
  SELECT CAST(date_trunc('hour', ts) - o.o * INTERVAL 1 HOUR AS TIMESTAMP)
           AS window_start,
         event_type
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS o) o
)
SELECT window_start,
       CAST(window_start + INTERVAL 2 HOUR AS TIMESTAMP) AS window_end,
       event_type, COUNT(*) AS n_events
FROM assigned GROUP BY 1, 2, 3
"""


def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap) on the stream; oracle = the
    batch window-function sessionization (same gap logic in SQL)."""
    stream, stage = _events_stream(spark, sf_dir)
    out = stream_session_windows(stream, gap="30 minutes", watermark="4 hours")
    res = _run_to_df(spark, out, input_bytes=_dir_bytes(stage))
    return res.select("user_id", "session_start", "session_end", "n_events")


STREAM_SESSIONS_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS gap,
         event_id
  FROM events
), sessions AS (
  SELECT user_id, ts,
         SUM(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id, MIN(ts) AS session_start,
       CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, session_id
"""


def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sliding windows (1 h length / 30 min slide): every event
    contributes to two overlapping windows — F.window's multi-assignment
    expansion, oracle'd by explicit window-start generation in SQL."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


SLIDING_WINDOW_SQL = """
WITH starts AS (
  SELECT event_type, ts,
         to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) - k * 1800) AS window_start
  FROM events, (SELECT unnest([0, 1]) AS k)
)
SELECT CAST(window_start AS TIMESTAMP) AS window_start,
       CAST(window_start + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
       event_type, COUNT(*) AS n_events
FROM starts
WHERE ts >= window_start AND ts < window_start + INTERVAL 1 HOUR
GROUP BY 1, 2, 3
"""


def stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming apply: the canonical production sink shape
    ``foreachBatch`` + idempotent keyed MERGE.

    The event stream (with every event_id % 5 == 0 re-injected as an
    exact duplicate) is staged as MULTIPLE files and consumed in several
    micro-batches (``maxFilesPerTrigger``); every batch is deduped
    within-batch and MERGEd into a parquet warehouse table keyed by
    event_id (``operators/load.upsert`` — anti-join + union + atomic
    swap). Duplicates may land in DIFFERENT batches: cross-batch
    updates-win semantics collapse them. The whole stream is then
    REPLAYED with a fresh checkpoint — re-processing every record — and
    the table must come out identical: end-to-end idempotence, which is
    what "exactly-once" means for a MERGE sink (at-least-once delivery ×
    idempotent apply). The oracle is the plain distinct-event rollup.
    """
    from ..operators.load import upsert

    def build() -> str:
        base = tempfile.mkdtemp(prefix="feb-upsert-")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        wh = os.path.join(base, "wh")

        def write(path: str) -> None:
            ev = load_table(spark, sf_dir, "events").select(
                "event_id", "ts", "user_id", "event_type", "value"
            )
            ev.unionByName(
                ev.filter(F.col("event_id") % 5 == 0)
            ).repartition(8).write.parquet(path)

        stage = _staged_write(spark, "feb", sf_dir, write)

        def apply_batch(batch: DataFrame, _batch_id: int) -> None:
            upsert(
                spark,
                batch.dropDuplicates(["event_id"]),
                wh,
                "event_facts",
                ["event_id"],
            )

        for replay in ("first", "replay"):
            stream = (
                spark.readStream.schema(_EVENT_SCHEMA)
                .option("maxFilesPerTrigger", 3)
                .parquet(stage)
            )
            # ephemeral like _run_to_df's: the whole base dir is removed
            # atexit and the replay leg deliberately starts FRESH — RAM-
            # backed ckpt skips the per-batch offset/commit fsync cost
            ckpt = os.path.join(
                _ckpt_base(), f"ckpt-feb-{os.path.basename(base)}-{replay}"
            )
            _CLEANUP_PATHS.add(ckpt)
            q = (
                stream.writeStream.foreachBatch(apply_batch)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise TimeoutError("foreachBatch upsert did not finish in 300s")
        return wh

    wh = memo(spark, "feb_upsert", [table_path(sf_dir, "events")], build, sf_dir)
    facts = spark.read.parquet(os.path.join(wh, "event_facts"))
    return (
        facts.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_ids"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


STREAM_FEB_UPSERT_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_id) AS n_ids,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: exact-duplicate events (every
    event_id % 5 == 0 re-appears) removed by ``dropDuplicates`` against
    the streaming state store. Staged as ONE file → one micro-batch, so
    the watermark (which only advances between batches) can never
    classify a first occurrence as late — the result is exactly the
    distinct set and the oracle is plain batch SQL.

    State-retention note: with key ``[event_id]`` (no event-time column
    in the key) Spark does NOT evict dedup state by watermark — fine
    here (one batch), but a continuous stream should either include the
    event-time column in the keys or use
    ``dropDuplicatesWithinWatermark`` to get bounded state."""
    stream, stage = _dup_events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "2 hours")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _run_to_df(
        spark, deduped, mode="append", input_bytes=_dir_bytes(stage)
    )


STREAM_DEDUP_SQL = """
SELECT event_id, user_id, event_type FROM events
"""


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED-STATE form of streaming dedup:
    ``dropDuplicatesWithinWatermark`` keeps a key's state only for the
    watermark delay instead of forever — the remedy
    ``stream_dedup_events``' docstring prescribes for continuous
    streams, demonstrated here. Duplicates are injected at the same
    event time as their originals, so they fall inside any delay and
    the single-batch result is exactly the distinct set (same oracle
    as the unbounded form)."""
    stream, stage = _dup_events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _run_to_df(
        spark, deduped, mode="append", input_bytes=_dir_bytes(stage)
    )


STREAM_DEDUP_WWM_SQL = STREAM_DEDUP_SQL



def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: each signup event joined
    to the same user's purchase events within the following 2 hours —
    the canonical two-stream correlation (both sides watermarked so the
    join state is bounded; the time-bound condition is what makes the
    state finite). Single-file staging → one micro-batch, so no
    first-occurrence is dropped as late and the oracle is the identical
    batch interval join."""
    stream, stage = _events_stream(spark, sf_dir)
    signups = (
        stream.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "4 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "4 hours")
    )
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 2 HOURS")),
    ).select(
        "signup_id",
        "purchase_id",
        F.col("s_user").alias("user_id"),
        "signup_ts",
        "purchase_ts",
    )
    return _run_to_df(
        spark, joined, mode="append", input_bytes=_dir_bytes(stage)
    )


STREAM_STREAM_JOIN_SQL = """
SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
       s.user_id, s.ts AS signup_ts, p.ts AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'signup') s
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON s.user_id = p.user_id
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR
"""


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join: the event stream enriched with the
    customer dimension (user_id ⊂ c_custkey in the fixtures), then
    daily counts per market segment. The static side is re-read per
    micro-batch by Structured Streaming and stays broadcast, so the
    stream never shuffles for the join — the canonical streaming
    dimension-enrichment topology. Counts are order-independent (exact
    on the stream); the value total is re-derived batch-side in exact
    decimals like stream_tumbling_counts."""
    stream, stage = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream.withWatermark("ts", "2 hours").join(F.broadcast(cust), "user_id")
    out = enriched.groupBy(
        F.window("ts", "1 day").alias("w"), F.col("c_mktsegment")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    res = _run_to_df(spark, out, input_bytes=_dir_bytes(stage)).select(
        F.col("w.start").alias("day"), "c_mktsegment", "n_events"
    )
    totals = (
        load_table(spark, sf_dir, "events")
        .join(F.broadcast(cust), "user_id")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"), "c_mktsegment")
        .agg(F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"))
    )
    return res.join(totals, ["day", "c_mktsegment"])


STREAM_STATIC_ENRICH_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       c_mktsegment, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


def stream_paged_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paged HTTP source as a REAL stream: Spark 4's Python
    ``SimpleDataSourceStreamReader`` drives the per-key page loop with
    streaming offsets as the next-page checkpoint (the reference's
    hand-rolled resume state, ``etl/extract.py:80-87``, replaced by the
    engine's checkpointLocation). availableNow drains every key to its
    short page; over the deterministic fixture fetcher the materialized
    rows equal the batch read, so the oracle is plain SQL and the
    offset/commit machinery itself sits under the correctness gate."""
    from ..sources.paged_datasource import register_paged_source

    # the stream reader never pushes filters — don't flip the session-wide
    # python.filterPushdown conf from inside a query
    register_paged_source(spark, enable_pushdown=False)
    stream = (
        spark.readStream.format("paged")
        .option("keys", "alpha,beta,gamma")
        .option("page_size", "2")
        .load()
    )
    return _run_to_df(spark, stream, mode="append", input_bytes=0)


STREAM_PAGED_SQL = """
SELECT k AS key, CAST(i AS INT) AS idx
FROM (VALUES ('alpha'), ('beta'), ('gamma')) t(k) CROSS JOIN range(5) r(i)
"""


def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful operator (``applyInPandasWithState`` running
    per-user totals, streaming/stateful.py) under the correctness gate:
    the staging write is coalesced to ONE file so availableNow runs
    exactly one micro-batch and the update-mode memory sink holds one
    final state row per user (update mode APPENDS per batch — without
    the single-file guard a user active in two batches would emit twice
    and fan out the join). The state-counted ``n_events`` and
    state-tracked ``last_ts`` are exact; the float running sum is
    arrival-order-dependent, so the reported total re-derives
    decimal-exactly batch-side — the same parity pattern as
    stream_tumbling_counts."""
    from ..streaming.stateful import running_user_totals

    stream, stage = _events_stream(spark, sf_dir, single_file=True)
    res = _run_to_df(
        spark,
        running_user_totals(stream),
        mode="update",
        input_bytes=_dir_bytes(stage),
        # per-batch work here is real Python compute (pandas per user
        # group), not ms of JVM state commits — floor the partitions so
        # the stateful stage parallelizes (4.7 s serial vs 1.6 s at 8)
        compute_floor=8,
    )
    exact_total = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value")
        )
    )
    return res.select("user_id", "n_events", "last_ts").join(exact_total, "user_id")


STREAM_STATEFUL_SQL = """
SELECT user_id, COUNT(*) AS n_events, MAX(ts) AS last_ts,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
"""


STREAMING_QUERIES = {
    "stream_paged_fetch": stream_paged_fetch,
    "stream_stateful_totals": stream_stateful_totals,
    "sliding_window_counts": sliding_window_counts,
    "stream_tumbling_counts": stream_tumbling_counts,
    "stream_hopping_counts": stream_hopping_counts,
    "stream_upsert_foreachbatch": stream_upsert_foreachbatch,
    "stream_sessions": stream_sessions,
    "stream_dedup_events": stream_dedup_events,
    "stream_dedup_within_watermark": stream_dedup_within_watermark,
    "stream_stream_join": stream_stream_join,
    "stream_static_enrich": stream_static_enrich,
}

STREAMING_ORACLE_SQL = {
    "stream_paged_fetch": STREAM_PAGED_SQL,
    "stream_stateful_totals": STREAM_STATEFUL_SQL,
    "sliding_window_counts": SLIDING_WINDOW_SQL,
    "stream_tumbling_counts": STREAM_TUMBLING_SQL,
    "stream_hopping_counts": STREAM_HOPPING_SQL,
    "stream_upsert_foreachbatch": STREAM_FEB_UPSERT_SQL,
    "stream_sessions": STREAM_SESSIONS_SQL,
    "stream_dedup_events": STREAM_DEDUP_SQL,
    "stream_dedup_within_watermark": STREAM_DEDUP_WWM_SQL,
    "stream_stream_join": STREAM_STREAM_JOIN_SQL,
    "stream_static_enrich": STREAM_STATIC_ENRICH_SQL,
}
