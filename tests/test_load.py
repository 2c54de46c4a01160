"""Upsert semantics: B2 wins on shared keys, union otherwise; idempotent.

Mirrors the FIXTURES.md §4 contract (reference: etl/load.py:30-52), tested
against a real parquet warehouse instead of the reference's mocks.
"""

from __future__ import annotations

import os

import pytest

from data_pipeline_who_gho_spark.operators.load import (
    UpsertKeyError,
    merge_upsert,
    read_table,
    upsert,
    append_rejects,
)


def rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def test_merge_updates_win(spark):
    target = spark.createDataFrame([("a", 1), ("b", 2)], "k STRING, v INT")
    updates = spark.createDataFrame([("b", 20), ("c", 30)], "k STRING, v INT")
    out = merge_upsert(target, updates, ["k"])
    assert rows(out) == [("a", 1), ("b", 20), ("c", 30)]


def test_merge_no_target(spark):
    updates = spark.createDataFrame([("a", 1)], "k STRING, v INT")
    assert rows(merge_upsert(None, updates, ["k"])) == [("a", 1)]


def test_upsert_idempotent(spark, tmp_path):
    wh = str(tmp_path)
    b1 = spark.createDataFrame([("a", 1), ("b", 2)], "k STRING, v INT")
    upsert(spark, b1, wh, "t", ["k"])
    upsert(spark, b1, wh, "t", ["k"])  # same batch twice -> no-op
    assert rows(read_table(spark, wh, "t")) == [("a", 1), ("b", 2)]

    b2 = spark.createDataFrame([("b", 20), ("c", 30)], "k STRING, v INT")
    upsert(spark, b2, wh, "t", ["k"])
    assert rows(read_table(spark, wh, "t")) == [("a", 1), ("b", 20), ("c", 30)]


def test_upsert_duplicate_batch_keys_raises(spark, tmp_path):
    bad = spark.createDataFrame([("a", 1), ("a", 2)], "k STRING, v INT")
    with pytest.raises(UpsertKeyError):
        upsert(spark, bad, str(tmp_path), "t", ["k"])


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _staging_debris(root: str) -> list[str]:
    return [
        os.path.join(d, n)
        for d, dirs, _files in os.walk(root)
        for n in dirs
        if ".tmp-" in n or ".old-" in n
    ]


@pytest.mark.parametrize("partition_by", [None, ["p"]], ids=["unpartitioned", "partitioned"])
def test_upsert_duplicate_keys_leave_existing_table_untouched(spark, tmp_path, partition_by):
    # the key check runs inside the staged write: it must fail before any
    # live directory is swapped, and leave no staging directory behind
    wh = str(tmp_path)
    schema = "k STRING, p INT, v INT"
    first = spark.createDataFrame([("a", 1, 1), ("b", 2, 2)], schema)
    upsert(spark, first, wh, "t", ["k"], partition_by=partition_by)
    before = _tree_bytes(os.path.join(wh, "t"))

    # "a" twice, in two partitions, plus a key that would move partition
    bad = spark.createDataFrame([("a", 1, 10), ("a", 2, 11), ("b", 1, 20)], schema)
    with pytest.raises(UpsertKeyError, match="duplicate keys"):
        upsert(spark, bad, wh, "t", ["k"], partition_by=partition_by)

    assert _tree_bytes(os.path.join(wh, "t")) == before
    assert _staging_debris(wh) == []
    assert sorted(os.listdir(wh)) == ["t"]
    assert sorted((r["k"], r["p"], r["v"]) for r in read_table(spark, wh, "t").collect()) == [
        ("a", 1, 1), ("b", 2, 2)
    ]


def test_upsert_null_keys_count_as_one_group(spark, tmp_path):
    bad = spark.createDataFrame([(None, 1), (None, 2)], "k STRING, v INT")
    with pytest.raises(UpsertKeyError):
        upsert(spark, bad, str(tmp_path), "t", ["k"])


def test_append_rejects(spark, tmp_path):
    wh = str(tmp_path)
    rej = spark.createDataFrame([("{}", "err")], "record_data STRING, error_details STRING")
    append_rejects(rej, wh)
    append_rejects(spark.createDataFrame([], "record_data STRING, error_details STRING"), wh)
    append_rejects(rej, wh)
    assert read_table(spark, wh, "rejected_record").count() == 2


def test_merge_cdc_three_clauses(spark):
    from data_pipeline_who_gho_spark.operators.load import merge_cdc

    target = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k STRING, v INT")
    changes = spark.createDataFrame(
        [("b", 20, False),   # WHEN MATCHED -> UPDATE
         ("c", 0, True),     # WHEN MATCHED AND deleted -> DELETE
         ("d", 40, False),   # WHEN NOT MATCHED -> INSERT
         ("e", 0, True)],    # tombstone for absent key -> no-op
        "k STRING, v INT, is_deleted BOOLEAN",
    )
    out = merge_cdc(target, changes, ["k"])
    assert rows(out) == [("a", 1), ("b", 20), ("d", 40)]


def test_merge_cdc_replay_idempotent(spark):
    from data_pipeline_who_gho_spark.operators.load import merge_cdc

    target = spark.createDataFrame([("a", 1), ("b", 2)], "k STRING, v INT")
    changes = spark.createDataFrame(
        [("a", 10, False), ("b", 0, True)], "k STRING, v INT, is_deleted BOOLEAN"
    )
    once = merge_cdc(target, changes, ["k"])
    twice = merge_cdc(once, changes, ["k"])
    assert rows(once) == rows(twice) == [("a", 10)]


def test_merge_cdc_no_target(spark):
    from data_pipeline_who_gho_spark.operators.load import merge_cdc

    changes = spark.createDataFrame(
        [("a", 1, False), ("b", 0, True)], "k STRING, v INT, is_deleted BOOLEAN"
    )
    assert rows(merge_cdc(None, changes, ["k"])) == [("a", 1)]


def test_merge_cdc_null_flag_means_upsert(spark):
    from data_pipeline_who_gho_spark.operators.load import merge_cdc

    target = spark.createDataFrame([("a", 1)], "k STRING, v INT")
    changes = spark.createDataFrame(
        [("a", 10, None), ("b", 20, None)], "k STRING, v INT, is_deleted BOOLEAN"
    )
    # unset flag = not a delete: must update/insert, never silently evict
    out = merge_cdc(target, changes, ["k"])
    assert rows(out) == [("a", 10), ("b", 20)]
