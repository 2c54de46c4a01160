"""Upsert semantics: B2 wins on shared keys, union otherwise; idempotent.

Mirrors the FIXTURES.md §4 contract (reference: etl/load.py:30-52), tested
against a real parquet warehouse instead of the reference's mocks.
"""

from __future__ import annotations

import os
import re

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


# --- fault injection: a failed rename or write leaves the old table -------


class _InjectedFault(OSError):
    pass


def _fail_rename(monkeypatch, *ks: int) -> list[str]:
    """Make the k-th ``os.rename`` calls (1-based) raise; returns the log
    of attempted sources so a test can tell whether a fault fired."""
    real, calls = os.rename, []

    def rename(src, dst):
        calls.append(src)
        if len(calls) in ks:
            raise _InjectedFault(f"injected failure of rename #{len(calls)}")
        real(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    return calls


def _snapshot(spark, table):
    df = spark.read.parquet(table)
    return sorted(tuple(r) for r in df.select("k", "time_dim", "v").collect()), df.schema


def _assert_clean_layout(wh, tables):
    assert sorted(os.listdir(wh)) == sorted(tables)
    for t in tables:
        for entry in os.listdir(os.path.join(wh, t)):
            assert re.fullmatch(r"time_dim=\d+|\.?_SUCCESS(\.crc)?|.+\.parquet(\.crc)?", entry), (
                f"stray entry {entry!r} in table root {t}"
            )
    assert _staging_debris(wh) == []


_FIRST = [("a", 2000, 1), ("b", 2001, 2), ("c", 2000, 3)]
_BATCH = [("a", 2001, 10), ("b", 2001, 20)]  # "a" moves from 2000 to 2001


@pytest.mark.parametrize("k", [1, 2, 3, 4])
@pytest.mark.parametrize(
    "partition_by,first,renames",
    [
        (None, _FIRST, 2),  # retire the table, install the new one
        (["time_dim"], _FIRST, 4),  # retire + install for 2000 and 2001
        (["time_dim"], _FIRST[:2], 3),  # 2000 loses its last row: dropped
    ],
    ids=["flat", "partitioned", "partition-dropped"],
)
def test_upsert_failed_rename_keeps_old_table(
    spark, tmp_path, monkeypatch, partition_by, first, renames, k
):
    from pyspark.sql.types import IntegerType

    wh = str(tmp_path)
    table = os.path.join(wh, "t")
    schema = "k STRING, time_dim INT, v INT"
    upsert(spark, spark.createDataFrame(first, schema), wh, "t", ["k"], partition_by=partition_by)
    old_rows, _ = _snapshot(spark, table)

    batch = spark.createDataFrame(_BATCH, schema)
    calls = _fail_rename(monkeypatch, k)
    if k <= renames:
        with pytest.raises(_InjectedFault):
            upsert(spark, batch, wh, "t", ["k"], partition_by=partition_by)
        want = old_rows
    else:
        upsert(spark, batch, wh, "t", ["k"], partition_by=partition_by)
        assert len(calls) == renames
        want = sorted(dict((r[0], r) for r in first + _BATCH).values())
    monkeypatch.undo()

    rows, schema_now = _snapshot(spark, table)
    assert rows == want
    assert isinstance(schema_now["time_dim"].dataType, IntegerType)
    _assert_clean_layout(wh, ["t"])


def test_atomic_overwrite_failed_write_keeps_old_table(spark, tmp_path):
    from data_pipeline_who_gho_spark.operators.load import atomic_overwrite

    wh = str(tmp_path)
    table = os.path.join(wh, "t")
    schema = "k STRING, time_dim INT, v INT"
    upsert(spark, spark.createDataFrame([("a", 2000, 1)], schema), wh, "t", ["k"])
    before = _tree_bytes(table)

    def write_fn(new):
        spark.createDataFrame([("z", 1999, 9)], schema).write.parquet(new)
        raise RuntimeError("write failed after staging data")

    with pytest.raises(RuntimeError, match="write failed"):
        atomic_overwrite(table, write_fn)
    assert _tree_bytes(table) == before
    _assert_clean_layout(wh, ["t"])


def test_atomic_overwrite_failed_restore_keeps_stage(spark, tmp_path, monkeypatch):
    # the install rename fails and so does the restore of the retired
    # table: the stage, which now holds the only copy of the old data,
    # must survive for recovery by hand
    from data_pipeline_who_gho_spark.operators.load import atomic_overwrite

    wh = str(tmp_path)
    table = os.path.join(wh, "t")
    upsert(spark, spark.createDataFrame([("a", 2000, 1)], "k STRING, time_dim INT, v INT"),
           wh, "t", ["k"])
    before = _tree_bytes(table)

    _fail_rename(monkeypatch, 2, 3)
    with pytest.raises(_InjectedFault):
        atomic_overwrite(table, lambda new: os.makedirs(new))
    monkeypatch.undo()

    (stage,) = os.listdir(wh)
    assert stage.startswith("t.tmp-")
    (retired,) = os.listdir(os.path.join(wh, stage, "old"))
    assert _tree_bytes(os.path.join(wh, stage, "old", retired)) == before


@pytest.mark.parametrize("k", [1, 2])
def test_state_failed_rename_keeps_old_watermark(spark, tmp_path, monkeypatch, k):
    from datetime import datetime

    from data_pipeline_who_gho_spark.sources.state import EtlStateRepository

    state = EtlStateRepository(spark, str(tmp_path))
    t0 = datetime(2024, 1, 2, 3, 4, 5)
    state.set_last_successful_run_at("p", t0)

    _fail_rename(monkeypatch, k)
    with pytest.raises(_InjectedFault):
        state.set_last_successful_run_at("p", datetime(2025, 1, 1))
    monkeypatch.undo()

    assert state.get_watermark("p") == t0
    assert os.listdir(str(tmp_path)) == ["etl_state"]
