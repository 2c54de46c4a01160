"""Driver-registerable seam queries (plans/etl_seams.py): the §2a
library seams previously covered only by unit tests now have gate
queries — these tests pin their fixture semantics at sf0.001 so a
regression fails fast locally before the sf0.01 oracle gate runs."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_who_gho_spark.plans.etl_seams import (
    etl_fetch_limit,
    etl_indicator_projection,
    etl_json_interchange,
    etl_migration_rebuild,
    etl_pipeline_e2e,
    etl_records_to_table,
    etl_reject_sink,
    etl_retry_fetch,
    etl_state_bootstrap,
)

SF = "/root/testdata/sf0.001"


def test_retry_fetch_records_identical_to_unflaky(spark):
    rows = etl_retry_fetch(spark, SF).collect()
    got = sorted((r["key"], r["idx"]) for r in rows)
    want = sorted((f"retry{i}", j) for i in range(4) for j in range(5))
    assert got == want


def test_fetch_limit_truncates_and_passes_through(spark):
    row = etl_fetch_limit(spark, SF).first()
    assert row["n_limited"] == 17
    assert row["n_unlimited"] == 50


def test_migration_rebuilds_then_noops(spark):
    out = etl_migration_rebuild(spark, SF)
    rows = out.collect()
    assert len(rows) == 25  # nation survives the rename rebuild
    assert rows[0]["first_action"] == "rebuilt"
    assert rows[0]["second_action"] == "ok"
    assert all(r["region_ref"] is None for r in rows)  # typed NULL injected


def test_reject_sink_appends_exactly_once_per_run(spark):
    out = etl_reject_sink(spark, SF)
    # two append runs => every (row, run) copy count is even and >= 2
    assert out.filter(F.col("n_copies") % 2 != 0).count() == 0
    assert out.filter(F.col("n_copies") < 2).count() == 0


def test_state_bootstrap_rows(spark):
    rows = {r["process_name"]: r for r in etl_state_bootstrap(spark, SF).collect()}
    assert set(rows) == {"ingest", "reingest"}
    assert rows["ingest"]["checkpoint_state"] == '{"next_batch": 3}'
    assert rows["ingest"]["watermark_epoch"] == 1704067200  # 2024-01-01 UTC
    assert rows["reingest"]["watermark_epoch"] is None


def test_records_to_table_missing_keys_and_empty_input(spark):
    rows = etl_records_to_table(spark, SF).orderBy("Id").collect()
    assert [r["Id"] for r in rows] == ["1", "2", "3"]
    assert rows[2]["NumericValue"] is None  # absent dict key -> NULL
    assert rows[0]["Value"] is None


def test_indicator_projection_shape(spark):
    out = etl_indicator_projection(spark, SF)
    assert out.columns == ["IndicatorCode", "IndicatorName", "Language"]
    codes = [r["IndicatorCode"] for r in out.collect()]
    assert codes == sorted(set(codes))  # deduped on the key


def test_json_interchange_roundtrip_matches_derivation(spark):
    from data_pipeline_who_gho_spark.plans.etl_ops import _raw_observations

    want = (
        _raw_observations(spark, SF)
        .filter(F.col("Id").cast("long") % 7 == 0)
        .orderBy("Id", "IndicatorCode")
        .collect()
    )
    got = etl_json_interchange(spark, SF).orderBy("Id", "IndicatorCode").collect()
    assert got == want


def test_pipeline_e2e_fact_table(spark):
    out = etl_pipeline_e2e(spark, SF)
    assert out.columns == [
        "observation_id", "indicator_code", "spatial_dim", "time_dim",
        "numeric_value",
    ]
    n = out.count()
    assert n > 0
    # keyed upsert => observation_id unique in the fact table
    assert out.select("observation_id").distinct().count() == n


def test_reject_sink_survives_memo_eviction(spark):
    # the append-twice choreography must land in a FRESH sink per
    # build, or a memo eviction re-run would quadruple copy counts
    from data_pipeline_who_gho_spark import caching

    r1 = sorted(map(tuple, etl_reject_sink(spark, SF).collect()))
    caching.clear_plan_caches()
    r2 = sorted(map(tuple, etl_reject_sink(spark, SF).collect()))
    assert r1 == r2
