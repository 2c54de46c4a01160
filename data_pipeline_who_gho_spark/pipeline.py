"""EP2-shaped end-to-end batch driver (reference: ``etl/local_run.py``).

One Spark application; stages compose lazily (extract → transform →
validate → load → DQ). The reference's JSON-file task hand-offs (EP1) have
no equivalent here — the lazy plan IS the hand-off (SURVEY §3 lifecycle
mapping).

The Spark actions of one run, in order; everything else is plan
construction:

1. snapshot the extract (post-limit, post-watermark), observing the max
   ``ingested_at`` of exactly the rows this run processes;
2. ``clean_observations``' Id-usability probe, over that snapshot;
3. snapshot each cleaned feed, observing its reject count and, for the
   observations, whether any validated row has a non-null Id (the fact
   table's upsert key);
4. per upsert (``operators.load.upsert``): one write for a dimension; the
   affected-partition ``collect`` plus one write for the fact;
5. a reject-sink append, only for a feed that rejected rows;
6. the full-table DQ gate.

A snapshot is a ``localCheckpoint`` of the batch, never of a table, and
every later stage reads it: an unordered ``limit`` is evaluated once, so
the watermark covers only rows that were loaded.
"""

from __future__ import annotations

import argparse
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.load import append_rejects, upsert
from .operators.quality import run_dq_checks
from .operators.transform import clean_countries, clean_indicators, clean_observations
from .operators.validate import (
    all_pass,
    country_rules,
    indicator_rules,
    observation_rules,
    validate_split,
)
from .schemas import COUNTRY_RENAMES, INDICATOR_RENAMES, OBSERVATION_RENAMES
from .session import get_spark
from .sources.catalog import nanos_as_timestamp
from .sources.state import EtlStateRepository


@dataclass
class PipelineConfig:
    """Reference: ETLConfig (etl/config.py:10-54), Airflow-free."""

    warehouse_dir: str
    source_observations: str  # parquet/json path of API-shaped records
    source_indicators: str | None = None
    source_countries: str | None = None
    limit: int | None = None  # dev_run_limit parity
    full_reingest: bool = False  # implemented (the reference only declared it)
    process_name: str = "who_gho_etl"
    source_format: str = "parquet"  # or "json" (the reference's interchange)


def _rename(df, mapping):
    return df.select(*[df[a].alias(b) for a, b in mapping.items() if a in df.columns])


def _snapshot(df: DataFrame, **facts: Column) -> tuple[DataFrame, dict]:
    """Materialize a batch-sized frame in one action (``localCheckpoint``)
    and read the aggregate ``facts`` off that same action.

    The Observation is safe here because the pipeline's frames are static;
    ``upsert`` cannot use one (it also runs inside ``foreachBatch``, see
    its docstring)."""
    if not facts:
        return df.localCheckpoint(), {}
    seen = Observation()
    snap = df.observe(seen, *[c.alias(k) for k, c in facts.items()]).localCheckpoint()
    return snap, seen.get


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> dict:
    """Full batch run; returns DQ metrics. Idempotent by construction
    (keyed upserts), matching the reference's re-run guarantee."""
    state = EtlStateRepository(spark, cfg.warehouse_dir)

    # -- extract (fixture-file source stands in for the OData fetcher) ----
    obs_raw = spark.read.format(cfg.source_format).load(cfg.source_observations)
    has_ts = "ingested_at" in obs_raw.columns
    if has_ts and isinstance(obs_raw.schema["ingested_at"].dataType, T.LongType):
        # TIMESTAMP(NANOS) (pandas' default) reads as BIGINT under the
        # session's nanosAsLong; the watermark compares timestamps
        obs_raw = obs_raw.withColumn("ingested_at", nanos_as_timestamp("ingested_at"))
    if cfg.limit is not None:  # limit=0 means zero rows, not "no limit"
        obs_raw = obs_raw.limit(cfg.limit)

    # watermark: new-data-only unless full_reingest (declared in the
    # reference's README.md:105 / dag params but never implemented there)
    wm = None if cfg.full_reingest else state.get_watermark(cfg.process_name)
    if wm is not None and has_ts:
        obs_raw = obs_raw.filter(obs_raw["ingested_at"] > wm)
    # watermark = max event-time actually processed, NOT wall-clock run
    # completion: a processing-time watermark silently skips rows that
    # land in the source late with earlier ingested_at stamps
    obs_raw, extracted = _snapshot(
        obs_raw, **({"max_ingested_at": F.max("ingested_at")} if has_ts else {})
    )

    # -- transform + validate ---------------------------------------------
    rules = observation_rules()
    ok = all_pass(rules)
    # upsert key mirrors clean_observations' dedup fallback: composite
    # natural key when Id is unusable (etl/transform.py:45-48) — a null
    # observation_id never matches an anti-join and would either crash the
    # dup-key guard or accumulate duplicates
    obs_clean, cleaned = _snapshot(
        clean_observations(obs_raw),
        rejected=F.count_if(~ok),
        id_usable=F.count_if(ok & F.col("Id").isNotNull()),
    )
    obs_res = validate_split(obs_clean, rules)
    obs_final = _rename(obs_res.validated, OBSERVATION_RENAMES)
    id_usable = cleaned["id_usable"] > 0
    fact_keys = (
        ["observation_id"]
        if id_usable
        else ["indicator_code", "spatial_dim", "time_dim"]
    )
    if id_usable:
        # A mixed batch can still carry NULL-Id rows; a NULL key never
        # matches the merge anti-join (NULL != NULL), so re-running the
        # same batch would append a duplicate and silently break the
        # idempotent re-run guarantee. Give those rows a deterministic
        # surrogate derived from the composite natural key instead —
        # identical across re-runs, so the upsert stays a no-op.
        obs_final = obs_final.withColumn(
            "observation_id",
            F.coalesce(
                F.col("observation_id"),
                F.concat_ws(
                    ":",
                    F.lit("ck"),
                    "indicator_code",
                    "spatial_dim",
                    F.col("time_dim").cast("string"),
                ),
            ),
        )

    # -- load: dims first, fact last (who_gho_etl_dag.py:177-187) ---------
    dims = (
        (cfg.source_indicators, clean_indicators, indicator_rules(),
         INDICATOR_RENAMES, "dim_indicator", "indicator_code"),
        (cfg.source_countries, clean_countries, country_rules(),
         COUNTRY_RENAMES, "dim_country", "country_code"),
    )
    for path, clean, dim_rules, renames, table, key in dims:
        if not path:
            continue
        dim_clean, dim_seen = _snapshot(
            clean(spark.read.parquet(path)), rejected=F.count_if(~all_pass(dim_rules))
        )
        dim_res = validate_split(dim_clean, dim_rules)
        upsert(spark, _rename(dim_res.validated, renames), cfg.warehouse_dir,
               table, [key])
        if dim_seen["rejected"]:
            append_rejects(dim_res.rejected, cfg.warehouse_dir)

    # fact partitioned by year at rest: year-filtered analytics (the A1/A4
    # query family) prune partitions instead of scanning the full fact
    upsert(spark, obs_final, cfg.warehouse_dir, "fact_observation",
           fact_keys, partition_by=["time_dim"])
    if cleaned["rejected"]:
        append_rejects(obs_res.rejected, cfg.warehouse_dir)

    # -- DQ gate (fails the run on violation) ------------------------------
    fact = spark.read.parquet(f"{cfg.warehouse_dir}/fact_observation")
    metrics = run_dq_checks(
        fact, ["indicator_code", "spatial_dim", "time_dim"], "fact_observation"
    )

    if not has_ts:
        state.set_last_successful_run_at(cfg.process_name)
    elif extracted["max_ingested_at"] is not None:
        state.set_last_successful_run_at(cfg.process_name, extracted["max_ingested_at"])
    return metrics


def main() -> None:
    ap = argparse.ArgumentParser(description="who-gho-spark batch pipeline")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--observations", required=True)
    ap.add_argument("--indicators")
    ap.add_argument("--countries")
    ap.add_argument("--limit", type=int)
    ap.add_argument("--full-reingest", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name="who-gho-pipeline")
    cfg = PipelineConfig(
        warehouse_dir=args.warehouse,
        source_observations=args.observations,
        source_indicators=args.indicators,
        source_countries=args.countries,
        limit=args.limit,
        full_reingest=args.full_reingest,
    )
    print(run_pipeline(spark, cfg))


if __name__ == "__main__":
    main()
