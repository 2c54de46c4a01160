"""Small-file compaction: many-file table → few files, content
byte-identical, atomic swap (operators/maintenance.py)."""

from __future__ import annotations

import os

import pytest

from data_pipeline_who_gho_spark.operators.maintenance import (
    PartitionedTableError,
    compact_table,
    plan_compaction,
)
from data_pipeline_who_gho_spark.operators.load import _table_path
from data_pipeline_who_gho_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _fragmented_table(spark, tmp_path, n_files=40):
    orders = load_table(spark, SF, "orders")
    path = _table_path(str(tmp_path), "orders")
    orders.repartition(n_files).write.parquet(path)
    return orders, path


def test_compaction_reduces_files_preserves_content(spark, tmp_path):
    orders, path = _fragmented_table(spark, tmp_path)
    before = spark.read.parquet(path)
    before_rows = sorted(before.collect())

    n_after = compact_table(spark, str(tmp_path), "orders", target_file_bytes=10**9)
    assert n_after == 1  # tiny table → single target file

    after = spark.read.parquet(path)
    assert sorted(after.collect()) == before_rows
    assert after.schema == before.schema


def test_compaction_noop_when_already_compact(spark, tmp_path):
    _, path = _fragmented_table(spark, tmp_path, n_files=2)
    # 2 files totalling ~100KB: with a 1KB target, 2 files is ALREADY
    # fewer than the ~100 targets — no rewrite
    assert plan_compaction(path, target_file_bytes=1024) is None
    n = compact_table(spark, str(tmp_path), "orders", target_file_bytes=1024)
    assert n == 2


def test_compaction_sizes_to_target(spark, tmp_path):
    _, path = _fragmented_table(spark, tmp_path, n_files=40)
    total = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    # target = half the data size → expect 2 output files
    n = compact_table(spark, str(tmp_path), "orders", target_file_bytes=total // 2 + 1)
    assert n == 2


def test_compaction_refuses_partitioned_layout(spark, tmp_path):
    """A flat rewrite of a hive-partitioned table would silently drop
    the layout (and pruning) — must refuse, not flatten."""
    orders = load_table(spark, SF, "orders")
    path = _table_path(str(tmp_path), "orders_part")
    orders.withColumn("yr", orders.o_orderdate.substr(1, 4)).write.partitionBy(
        "yr"
    ).parquet(path)
    with pytest.raises(PartitionedTableError):
        compact_table(spark, str(tmp_path), "orders_part", target_file_bytes=10**9)


def test_bench_canary_plan_is_frozen(spark):
    """The bench canary is the cross-round yardstick: its normalized
    plan hash must not drift (a silent edit would make
    legacy17_per_canary incomparable between rounds)."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    from pyspark.sql import functions as F

    df = bench._canary(spark)
    md5 = bench._canary_plan_md5(df)
    # stability: two independent builds hash identically (expression
    # ids AND plan ids are stripped — plan_id is a session counter that
    # made the r11 smoke artifacts' md5s differ run-to-run), and the
    # value is pinned for this Spark build
    assert bench._canary_plan_md5(bench._canary(spark)) == md5
    assert md5 == "38011486145098269323eaad347c4288"
    # sensitivity: an edited constant MUST move the hash (that is what
    # makes the artifact's canary_plan_md5 field catch silent drift;
    # cross-session the absolute value can shift with AQE/plan-string
    # details, which is why the artifact records it per run)
    variant = (
        spark.range(0, 320_000_001, 1, 32)
        .select(
            F.sum((F.col("id") * 2 + 1) % 1000003).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    assert bench._canary_plan_md5(variant) != md5
