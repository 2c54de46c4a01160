"""End-to-end pipeline: extract→transform→validate→load→DQ on fixture
parquet; re-run idempotency; reject side-channel populated."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from data_pipeline_who_gho_spark.pipeline import PipelineConfig, run_pipeline
from data_pipeline_who_gho_spark.schemas import RAW_OBSERVATION


@pytest.fixture()
def sources(spark, tmp_path, raw_observations, raw_indicators, raw_countries):
    src = tmp_path / "src"
    spark.createDataFrame(raw_observations, RAW_OBSERVATION).write.parquet(str(src / "obs"))
    spark.createDataFrame(raw_indicators).write.parquet(str(src / "ind"))
    spark.createDataFrame(raw_countries).write.parquet(str(src / "cty"))
    return src


def _cfg(tmp_path, src, **kw):
    return PipelineConfig(
        warehouse_dir=str(tmp_path / "wh"),
        source_observations=str(src / "obs") + "/",
        source_indicators=str(src / "ind"),
        source_countries=str(src / "cty"),
        **kw,
    )


def test_pipeline_end_to_end(spark, tmp_path, sources):
    cfg = _cfg(tmp_path, sources)
    cfg.source_observations = str(sources / "obs")
    metrics = run_pipeline(spark, cfg)
    # 6 raw obs: 1 dup dropped, 1 null-key dropped -> 4 in the fact table
    assert metrics["row_count"] == 4
    assert metrics["null_key_rows"] == 0

    fact = spark.read.parquet(str(tmp_path / "wh" / "fact_observation"))
    assert fact.filter("observation_id = '3'").first()["time_dim"] == 2020
    dim_i = spark.read.parquet(str(tmp_path / "wh" / "dim_indicator"))
    assert dim_i.count() == 2
    dim_c = spark.read.parquet(str(tmp_path / "wh" / "dim_country"))
    assert dim_c.count() == 3


def test_pipeline_idempotent(spark, tmp_path, sources):
    cfg = _cfg(tmp_path, sources)
    cfg.source_observations = str(sources / "obs")
    cfg.full_reingest = True
    m1 = run_pipeline(spark, cfg)
    m2 = run_pipeline(spark, cfg)
    assert m1 == m2  # re-run is a no-op on the fact table


def test_pipeline_all_null_ids_uses_composite_key(spark, tmp_path, raw_observations):
    # clean_observations' composite-key fallback must flow through to the
    # upsert key — null observation_ids would otherwise crash the dup
    # guard or duplicate on re-run
    recs = [{**r, "Id": None} for r in raw_observations]
    src = tmp_path / "src_nullid"
    spark.createDataFrame(recs, RAW_OBSERVATION).write.parquet(str(src))
    cfg = PipelineConfig(
        warehouse_dir=str(tmp_path / "wh_nullid"),
        source_observations=str(src),
        full_reingest=True,
    )
    m1 = run_pipeline(spark, cfg)
    m2 = run_pipeline(spark, cfg)  # idempotent on the natural key
    assert m1 == m2 == {"row_count": 4, "null_key_rows": 0}


def test_pipeline_limit(spark, tmp_path, sources):
    cfg = _cfg(tmp_path, sources)
    cfg.source_observations = str(sources / "obs")
    cfg.limit = 1
    metrics = run_pipeline(spark, cfg)
    assert metrics["row_count"] == 1


def test_pipeline_mixed_null_ids_rerun_idempotent(spark, tmp_path):
    """A batch mixing non-null and NULL Id rows must stay idempotent:
    NULL-Id rows get a deterministic composite surrogate key, so
    re-running the batch cannot append duplicates (a NULL key never
    matches the merge anti-join)."""
    rows = [
        {"Id": "1", "IndicatorCode": "WHOSIS_000001", "SpatialDim": "USA",
         "SpatialDimType": "COUNTRY", "TimeDim": "2019", "TimeDimType": "YEAR",
         "NumericValue": "78.5", "Value": "78.5"},
        {"Id": None, "IndicatorCode": "WHOSIS_000001", "SpatialDim": "FRA",
         "SpatialDimType": "COUNTRY", "TimeDim": "2019", "TimeDimType": "YEAR",
         "NumericValue": "82.1", "Value": "82.1"},
    ]
    src = tmp_path / "src"
    spark.createDataFrame(rows, RAW_OBSERVATION).write.parquet(str(src / "obs"))
    cfg = PipelineConfig(
        warehouse_dir=str(tmp_path / "wh"),
        source_observations=str(src / "obs"),
        full_reingest=True,
    )
    m1 = run_pipeline(spark, cfg)
    m2 = run_pipeline(spark, cfg)
    assert m1["row_count"] == 2 and m2["row_count"] == 2
    fact = spark.read.parquet(str(tmp_path / "wh" / "fact_observation"))
    ids = sorted(r["observation_id"] for r in fact.collect())
    assert ids == ["1", "ck:WHOSIS_000001:FRA:2019"]


OBS_WITH_TS = T.StructType(
    RAW_OBSERVATION.fields + [T.StructField("ingested_at", T.TimestampType())]
)


def _obs(i, ts, **kw):
    row = {"Id": str(i), "IndicatorCode": "WHOSIS_000001", "SpatialDim": f"C{i:03d}",
           "SpatialDimType": "COUNTRY", "TimeDim": "2019", "TimeDimType": "YEAR",
           "NumericValue": str(70.0 + i), "Value": str(70.0 + i), "ingested_at": ts}
    row.update(kw)
    return row


def test_pipeline_incremental_nanosecond_ingested_at(spark, tmp_path):
    """pandas writes datetime64[ns] as parquet TIMESTAMP(NANOS), which the
    session reads as BIGINT (nanosAsLong): the extract must turn it back
    into a timestamp, or the watermark compares a long with a datetime."""
    import pandas as pd
    import pyarrow.parquet as pq

    from data_pipeline_who_gho_spark.sources.state import EtlStateRepository

    src = tmp_path / "obs"
    src.mkdir()
    t1, t2 = pd.Timestamp("2024-03-01 10:00:00.123456"), pd.Timestamp("2024-03-02 09:30:00")
    pd.DataFrame([_obs(i, t1) for i in range(3)]).to_parquet(src / "b1.parquet")
    ts_type = pq.ParquetFile(src / "b1.parquet").schema.column(8).logical_type
    assert "timeUnit=nanoseconds" in str(ts_type)

    cfg = PipelineConfig(warehouse_dir=str(tmp_path / "wh"), source_observations=str(src))
    state = EtlStateRepository(spark, cfg.warehouse_dir)
    assert run_pipeline(spark, cfg)["row_count"] == 3
    assert state.get_watermark(cfg.process_name) == t1.to_pydatetime()

    # second batch: one revision of Id 0 and one new row, stamped later
    pd.DataFrame([_obs(0, t2, Value="revised"), _obs(3, t2)]).to_parquet(src / "b2.parquet")
    assert run_pipeline(spark, cfg)["row_count"] == 4
    assert state.get_watermark(cfg.process_name) == t2.to_pydatetime()
    fact = spark.read.parquet(cfg.warehouse_dir + "/fact_observation")
    assert fact.filter("observation_id = '0'").first()["value"] == "revised"

    # nothing newer than the watermark: a no-op run keeps it
    assert run_pipeline(spark, cfg)["row_count"] == 4
    assert state.get_watermark(cfg.process_name) == t2.to_pydatetime()


def test_pipeline_limit_watermark_covers_only_loaded_rows(spark, tmp_path):
    """Under ``limit`` the extract is an unordered sample. The stored
    watermark must be the max ``ingested_at`` of the rows this run loaded
    (read off the same snapshot the load used), so the next run picks up
    every row the limit left out."""
    from datetime import datetime, timedelta

    from data_pipeline_who_gho_spark.sources.state import EtlStateRepository

    base = datetime(2024, 1, 1)
    stamps = {}
    src = tmp_path / "obs"
    for f in range(4):  # four files, every row with its own stamp
        rows = []
        for j in range(5):
            i = f * 5 + j
            stamps[str(i)] = base + timedelta(minutes=i)
            rows.append(_obs(i, stamps[str(i)]))
        spark.createDataFrame(rows, OBS_WITH_TS).write.mode(
            "append"
        ).parquet(str(src))

    cfg = PipelineConfig(warehouse_dir=str(tmp_path / "wh"), source_observations=str(src), limit=7)
    state = EtlStateRepository(spark, cfg.warehouse_dir)
    assert run_pipeline(spark, cfg)["row_count"] == 7
    fact = spark.read.parquet(cfg.warehouse_dir + "/fact_observation")
    loaded = [r["observation_id"] for r in fact.collect()]
    assert state.get_watermark(cfg.process_name) == max(stamps[i] for i in loaded)


def test_pipeline_rejects_land_only_when_present(spark, tmp_path, raw_indicators, raw_countries):
    from datetime import datetime

    ts = datetime(2024, 1, 1)
    src = tmp_path / "src"
    spark.createDataFrame(
        [_obs(1, ts), _obs(2, ts, TimeDimType=None)],  # one fact reject
        OBS_WITH_TS,
    ).write.parquet(str(src / "obs"))
    spark.createDataFrame(raw_indicators).write.parquet(str(src / "ind"))
    spark.createDataFrame(raw_countries + [{"Code": "XXX", "Title": None}]).write.parquet(
        str(src / "cty")
    )  # one dimension reject
    cfg = _cfg(tmp_path, src, full_reingest=True)
    cfg.source_observations = str(src / "obs")
    wh = cfg.warehouse_dir

    assert run_pipeline(spark, cfg)["row_count"] == 1
    rejects = spark.read.parquet(wh + "/rejected_record")
    details = sorted(r["error_details"] for r in rejects.collect())
    assert details == ["TimeDimType is required", "Title is required"]

    # a clean feed appends nothing: the reject sink stays as it was
    spark.createDataFrame([_obs(3, ts)], OBS_WITH_TS).write.mode(
        "overwrite"
    ).parquet(str(src / "obs"))
    spark.createDataFrame(raw_countries).write.mode("overwrite").parquet(str(src / "cty"))
    before = sorted(os.listdir(wh + "/rejected_record"))
    assert run_pipeline(spark, cfg)["row_count"] == 2
    assert sorted(os.listdir(wh + "/rejected_record")) == before
