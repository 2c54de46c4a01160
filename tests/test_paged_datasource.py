"""Python DataSource V2 path for the paged source (sources/paged_datasource).

Covers: registration + read, per-key partitioning, short-page stop,
key-filter pushdown pruning the fetch plan (the DSv2 form of the
reference's OData $filter pushdown), and option validation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_who_gho_spark.sources.paged_datasource import (
    PagedReader,
    PagedStreamReader,
    register_paged_source,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_paged_source(spark)


def _read(spark, **opts):
    r = spark.read.format("paged").option("keys", "alpha,beta,gamma")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_reads_all_keys_all_pages(spark):
    df = _read(spark, page_size="2")  # 5 records/key -> 3 pages, short last
    rows = df.collect()
    assert len(rows) == 15
    assert {r["key"] for r in rows} == {"alpha", "beta", "gamma"}
    assert sorted(r["idx"] for r in rows if r["key"] == "beta") == [0, 1, 2, 3, 4]


def test_one_partition_per_key(spark):
    df = _read(spark, page_size="2")
    assert df.rdd.getNumPartitions() == 3


def test_key_filter_pushdown_prunes_fetch(spark):
    df = _read(spark, page_size="2").filter(F.col("key") == "beta")
    plan = df._jdf.queryExecution().executedPlan().toString()
    rows = df.collect()
    assert len(rows) == 5 and all(r["key"] == "beta" for r in rows)
    # the equality is consumed by the source: the fetch plan shrinks to one
    # key-partition and Spark's residual filter keeps only isnotnull
    assert df.rdd.getNumPartitions() == 1
    assert "= beta" not in plan


def test_key_in_filter_pushdown(spark):
    df = _read(spark, page_size="3").filter(F.col("key").isin("alpha", "gamma"))
    rows = df.collect()
    assert len(rows) == 10
    assert {r["key"] for r in rows} == {"alpha", "gamma"}


def test_residual_filters_stay_with_spark(spark):
    df = _read(spark, page_size="2").filter((F.col("key") == "beta") & (F.col("idx") > 2))
    assert sorted(r["idx"] for r in df.collect()) == [3, 4]


def test_missing_keys_option_rejected(spark):
    with pytest.raises(Exception, match="keys"):
        spark.read.format("paged").load().collect()


def test_bad_fetcher_spec_rejected():
    from pyspark.sql.types import IntegerType, StringType, StructField

    schema_fields = [StructField("key", StringType()), StructField("idx", IntegerType())]
    from pyspark.sql.types import StructType

    reader = PagedReader(StructType(schema_fields), {"keys": "a", "fetcher": "no_colon"})
    with pytest.raises(ValueError, match="module:function"):
        list(reader.read(next(iter(reader.partitions()))))


def test_streaming_paged_source_reads_all_pages(spark):
    """readStream over the paged format: the availableNow run drains
    every key to its short page — the reference's checkpoint-resume
    loop as a stream."""
    import os
    import tempfile
    import uuid

    name = "paged_stream_" + uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("paged")
        .option("keys", "alpha,beta,gamma")
        .option("page_size", "2")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            os.path.join(tempfile.gettempdir(), f"ckpt-{name}"),
        )
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert len(rows) == 15
    assert {r["key"] for r in rows} == {"alpha", "beta", "gamma"}
    assert sorted(r["idx"] for r in rows if r["key"] == "alpha") == [0, 1, 2, 3, 4]


def test_stream_reader_offsets_advance_and_retire():
    from pyspark.sql.types import StructType

    reader = PagedStreamReader(
        StructType.fromDDL("key string, idx int"),
        {"keys": "alpha", "page_size": "2"},
    )
    rows, off = reader.read(reader.initialOffset())
    seen = list(rows)
    assert off["pages"]["alpha"] == -1  # retired on the short page
    assert sorted(i for _, i in seen) == [0, 1, 2, 3, 4]
    # a second read from the retired offset yields nothing (stream drained)
    more, off2 = reader.read(off)
    assert list(more) == [] and off2 == off
    # deterministic replay of the full range
    replay = list(reader.readBetweenOffsets(reader.initialOffset(), off))
    assert sorted(i for _, i in replay) == [0, 1, 2, 3, 4]


def _stream_rows(spark, keys: str, fetcher: str) -> list:
    import os
    import tempfile
    import uuid

    name = "paged_stream_" + uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("paged")
        .option("keys", keys)
        .option("page_size", "2")
        .option("fetcher", fetcher)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(tempfile.gettempdir(), f"ckpt-{name}"))
        .start()
    )
    assert q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}").collect()


def _batch_rows(spark, keys: str, fetcher: str) -> list:
    return (
        spark.read.format("paged").option("keys", keys).option("page_size", "2")
        .option("fetcher", fetcher).load().collect()
    )


@pytest.mark.parametrize("read", [_batch_rows, _stream_rows], ids=["batch", "stream"])
def test_transient_fetch_failures_are_retried(spark, read):
    """flaky_fetcher fails the first attempt at every (key, page); every
    page loop retries it, so the rows equal the never-failing fetcher's.
    Fresh keys per run: the fail-once ledger lives in the worker."""
    import uuid

    keys = ",".join(f"r{uuid.uuid4().hex[:6]}{i}" for i in range(3))
    testing = "data_pipeline_who_gho_spark.sources.testing"
    flaky = read(spark, keys, f"{testing}:flaky_fetcher")
    steady = read(spark, keys, f"{testing}:pages_fetcher")
    assert len(flaky) == 15
    assert sorted(map(tuple, flaky)) == sorted(map(tuple, steady))
