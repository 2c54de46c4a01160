"""L1-L3: warehouse load — idempotent keyed UPSERT + append-only reject sink.

The reference's load is a single multi-row
``INSERT ... ON CONFLICT (key) DO UPDATE SET <non-key cols>``
(``etl/load.py:30-52``): updates win on shared keys, union otherwise, and
re-loading the same batch is a no-op.

Spark-first design: the MERGE is a **broadcast-able left-anti join +
unionByName** over parquet-at-rest, committed by ``atomic_overwrite``,
the one stage-and-swap protocol every warehouse write uses (parquet has
no transactions; a failed commit rolls back to the old table, the closest
parity to the reference's one-transaction upsert). On a
Delta/Iceberg-backed catalog the same function maps 1:1 onto ``MERGE
INTO`` — the call-site contract is identical, so swapping the table
format is a one-line change here.

Scale notes: the anti-join shuffles on the upsert key unless the update
batch is small enough to broadcast — the common case for dimension upserts
(dims are tiny; Catalyst broadcasts automatically under the threshold).
Like Delta MERGE, duplicate keys *within one batch* are an error upstream;
callers dedup first (T6/T8), which the pipeline driver does.
"""

from __future__ import annotations

import operator
import os
import shutil
import uuid
from collections.abc import Sequence
from functools import reduce

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class UpsertKeyError(ValueError):
    """Update batch contains duplicate upsert keys (reference: Postgres
    raises CardinalityViolation; Delta MERGE raises — we match)."""


def _table_path(warehouse_dir: str, table: str) -> str:
    return os.path.join(warehouse_dir, table)


def atomic_overwrite(path: str, write_fn, rels: Sequence[str] = ("",)) -> None:
    """The warehouse's one commit: stage the new version, swap it in.

    ``write_fn(new)`` writes the new version under a fresh
    ``<path>.tmp-<id>`` stage *beside* the table. Then, per relative
    directory in ``rels`` (``""`` = the whole table; a partition-scoped
    upsert passes the affected ``col=value`` dirs), the live ``path/rel``
    is retired into the stage and ``new/rel`` is renamed in — or the rel
    is dropped when the write produced no ``new/rel`` (a partition that
    lost its last row). Nothing is staged under the table root.

    A failed write or rename undoes every rename made, so the table stays
    at its old version, and re-raises. The stage is deleted once the
    commit completes or is undone; if undoing fails, the stage (holding
    the retired data) is left in place.

    Honesty note: the renames are not one atomic operation. A concurrent
    reader can see some rels swapped and others not, and a process killed
    mid-swap leaves the retired data in the stage (recoverable by hand).
    This matches the engine's single-writer posture (the reference runs
    with ``max_active_runs=1``, dags/who_gho_etl_dag.py:35); concurrent
    writers need external coordination or a transactional table format
    (Delta/Iceberg), onto which this call-site maps 1:1.
    """
    stage = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    new, old = os.path.join(stage, "new"), os.path.join(stage, "old")
    done: list[tuple[str, str]] = []  # renames made so far, undone in reverse

    def move(src: str, dst: str) -> None:
        os.rename(src, dst)
        done.append((src, dst))

    try:
        write_fn(new)
        os.makedirs(old)
        for i, rel in enumerate(rels):
            live = os.path.normpath(os.path.join(path, rel))
            fresh = os.path.normpath(os.path.join(new, rel))
            if os.path.exists(live):
                move(live, os.path.join(old, str(i)))
            if os.path.exists(fresh):
                os.makedirs(os.path.dirname(live), exist_ok=True)
                move(fresh, live)
    except BaseException:
        for src, dst in reversed(done):
            os.rename(dst, src)
        shutil.rmtree(stage, ignore_errors=True)
        raise
    shutil.rmtree(stage, ignore_errors=True)


def read_table(spark: SparkSession, warehouse_dir: str, table: str) -> DataFrame | None:
    path = _table_path(warehouse_dir, table)
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def merge_upsert(target: DataFrame | None, updates: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Pure-plan MERGE: updates win on shared keys, union otherwise.

    Exposed separately from the sink so the semantics are SQL-checkable
    (oracle: anti-join + UNION ALL) and reusable in-plan without I/O.

    Broadcast decision is left to Catalyst/AQE: update batches small enough
    (the dimension-upsert common case) broadcast automatically; large fact
    batches fall back to a shuffled anti-join on the key, which AQE can
    re-plan at runtime using observed sizes.
    """
    if target is None:
        return updates
    kept = target.join(updates.select(*keys), on=list(keys), how="left_anti")
    return kept.unionByName(updates)


def merge_cdc(
    target: DataFrame | None,
    changes: DataFrame,
    keys: Sequence[str],
    delete_col: str = "is_deleted",
) -> DataFrame:
    """Pure-plan CDC MERGE with delete handling — the full three-clause
    merge the reference's INSERT..ON CONFLICT cannot express but every
    CDC feed needs:

        WHEN MATCHED AND is_deleted THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED AND NOT is_deleted THEN INSERT *

    One anti-join over ALL change keys (deleted and upserted alike)
    evicts stale target rows, then surviving non-delete changes union
    back — same single-shuffle shape as ``merge_upsert``; a delete for
    an absent key is a no-op (tombstone replay tolerance, which makes
    re-applying a CDC batch idempotent). A NULL flag means "not a
    delete" (sources often leave it unset) — it must upsert, never
    silently evict.
    """
    upserts = changes.filter(
        ~F.coalesce(F.col(delete_col), F.lit(False))
    ).drop(delete_col)
    if target is None:
        return upserts
    kept = target.join(changes.select(*keys), on=list(keys), how="left_anti")
    return kept.unionByName(upserts)


# Characters Spark escapes in hive-style partition directory names
# (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils).
_HIVE_UNSAFE = set('"#%\'*/:=?\\\x7f{[]^')


def _hive_escape(val: str) -> str:
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_UNSAFE or ord(ch) < 32 else ch
        for ch in val
    )


def _hive_part_dir(pcols: Sequence[str], values: Sequence) -> str:
    """Relative hive directory for one partition tuple, Spark-compatible."""
    segs = []
    for col, val in zip(pcols, values):
        sval = "__HIVE_DEFAULT_PARTITION__" if val is None else _hive_escape(str(val))
        segs.append(f"{_hive_escape(col)}={sval}")
    return os.path.join(*segs)


def _is_hive_partitioned(path: str, first_pcol: str) -> bool:
    try:
        return any(
            entry.startswith(f"{first_pcol}=") for entry in os.listdir(path)
        )
    except OSError:
        return False


_DUPLICATE_KEYS = "UPSERT_DUPLICATE_KEYS"  # marks the guard's raise_error


def _merge_checked(
    target: DataFrame | None, updates: DataFrame, keys: Sequence[str], table: str
) -> DataFrame:
    """``merge_upsert`` whose written branch carries the batch-key
    uniqueness check: a per-key row count that fails the write when a key
    occurs more than once, so the check costs no action of its own. NULL
    keys form one group, as in ``groupBy``. The anti-join reads the
    unchecked batch keys, so the check's shuffle runs once, in the branch
    that every batch row passes through.

    The ``raise_error`` must sit in a filter predicate: in a projected
    column that is dropped before the write, Catalyst prunes it and it
    never runs.
    """
    n = "__upsert_key_rows"
    checked = (
        updates.withColumn(n, F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .filter(
            F.when(
                F.col(n) > 1,
                F.raise_error(F.lit(f"{_DUPLICATE_KEYS} in {table}")),
            ).otherwise(F.lit(True))
        )
        .drop(n)
    )
    if target is None:
        return checked
    kept = target.join(updates.select(*keys), on=list(keys), how="left_anti")
    return kept.unionByName(checked)


def upsert(
    spark: SparkSession,
    updates: DataFrame,
    warehouse_dir: str,
    table: str,
    keys: Sequence[str],
    partition_by: Sequence[str] | None = None,
) -> None:
    """L2: idempotent keyed upsert into a parquet warehouse table.

    Protocol: (1) plan the merge vs the current table, with the batch-key
    uniqueness check folded into the batch side of the plan
    (``_merge_checked``), (2) write it into ``atomic_overwrite``'s stage
    beside the table — the one write action, which fails with
    ``UpsertKeyError`` on a duplicate key before anything live is touched,
    (3) swap the new directories in, whole table (``rels=[""]``) or the
    affected partition dirs. Re-running the same batch yields a
    byte-identical table (idempotency — the reference's core guarantee,
    etl/load.py:45-48).

    ``partition_by`` lays the table out hive-partitioned (e.g. fact by
    time_dim) so downstream year-filtered queries prune partitions at
    plan time — the at-rest layout SURVEY §1 calls for, AND scopes the
    rewrite: only partitions touched by the update batch are merged and
    swapped; every other partition's files are left byte-identical on
    disk. At 100 TB a dim-sized daily update rewrites a handful of
    partition directories, not the fact table — the parquet-at-rest
    equivalent of Delta's partition-pruned ``MERGE INTO``. That path
    costs one more action before the write: the ``collect`` of the
    affected set. A table that is new, unpartitioned or not yet laid out
    hive-style is rewritten whole.

    Affected set = partitions the update rows land in ∪ partitions that
    currently hold an updated key (a key whose partition value changes
    must be deleted from its old partition). The second leg is a
    key-semi-join scan of the target — column-pruned to key+partition
    columns, far cheaper than a rewrite; callers whose keys embed the
    partition column can expect Catalyst to prune it further.

    No check here may use an ``Observation``: upsert runs inside
    ``foreachBatch`` (``stream_upsert_foreachbatch``,
    tests/test_incremental_load.py), and on Spark 4.1 an Observation on a
    micro-batch frame that is joined with a parquet scan — the merge's
    anti-join against the table — is never delivered there, so
    ``Observation.get`` would hang.
    """
    target = read_table(spark, warehouse_dir, table)
    path = _table_path(warehouse_dir, table)

    pcols = list(partition_by or [])
    rels: list[str] = [""]
    if target is not None and pcols and _is_hive_partitioned(path, pcols[0]):
        landing = updates.select(*pcols)
        moved = target.join(updates.select(*keys), on=list(keys), how="left_semi").select(*pcols)
        affected = [tuple(r) for r in landing.union(moved).distinct().collect()]
        if not affected:
            return  # empty batch: nothing to rewrite
        rels = [_hive_part_dir(pcols, t) for t in affected]
        target = target.filter(reduce(operator.or_, [
            reduce(operator.and_, [F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(pcols, t)])
            for t in affected
        ]))
    merged = _merge_checked(target, updates, keys, table)

    def _write(new: str) -> None:
        writer = merged.write.mode("overwrite")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(new)

    try:
        atomic_overwrite(path, _write, rels)
    except PySparkException as exc:
        # the key check's raise_error failed the write; the stage is
        # already gone and nothing live was renamed
        if _DUPLICATE_KEYS not in str(exc):
            raise
        raise UpsertKeyError(
            f"duplicate keys in update batch for {table} on {list(keys)}"
        ) from exc


def append_rejects(rejected: DataFrame, warehouse_dir: str, table: str = "rejected_record") -> None:
    """L3: append-only reject sink (etl/load.py:55-71). No-op on empty input."""
    if rejected.isEmpty():
        return
    rejected.write.mode("append").parquet(_table_path(warehouse_dir, table))
