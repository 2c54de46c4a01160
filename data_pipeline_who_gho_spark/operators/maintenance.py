"""Warehouse maintenance: small-file compaction.

Append-heavy sinks (the reject sink, per-batch incremental loads,
streaming foreachBatch upserts) accumulate many small parquet files;
at cluster scale that degrades scan parallelism planning (one task per
tiny file) and NameNode/object-store metadata pressure. ``compact_table``
rewrites a table directory to a target number of files through the
warehouse's one commit, ``load.atomic_overwrite`` (stage beside the
table, swap, roll back on failure — see its honesty note: single-writer
posture; concurrent appends during a compaction need external
coordination or a transactional table format).

Hive-partitioned layouts are refused: a flat rewrite would silently
drop the partitioning (and partition-column inference can even change
value types), losing downstream pruning. At scale, compaction of a
partitioned table runs per-partition — same protocol, partition dir as
the swap root.

The reference has no analog (Postgres autovacuums); this is part of the
engine's at-rest layout toolkit alongside partitioning and bucketing.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from .load import _table_path, atomic_overwrite

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024  # HDFS-block-ish scan unit


class PartitionedTableError(ValueError):
    """compact_table called on a hive-partitioned layout (would flatten it)."""


def _scan_layout(path: str) -> tuple[list[int], bool]:
    """(parquet file sizes, is_hive_partitioned)."""
    sizes: list[int] = []
    partitioned = False
    for root, dirs, files in os.walk(path):
        partitioned = partitioned or any("=" in d for d in dirs)
        for f in files:
            if f.endswith(".parquet"):
                sizes.append(os.path.getsize(os.path.join(root, f)))
    return sizes, partitioned


def plan_compaction(path: str, target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES) -> int | None:
    """Number of output files a compaction should produce, or None if
    the table is already well-laid-out (fewer files than the target
    count would give — rewriting would only churn data)."""
    sizes, partitioned = _scan_layout(path)
    if partitioned:
        raise PartitionedTableError(
            f"{path} is hive-partitioned; compact each partition directory "
            "instead of the table root (a flat rewrite would drop the layout)"
        )
    if not sizes:
        return None
    n_target = max(1, math.ceil(sum(sizes) / target_file_bytes))
    return n_target if len(sizes) > n_target else None


def compact_table(
    spark: SparkSession,
    warehouse_dir: str,
    table: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> int:
    """Coalesce a parquet table's many small files into ~target-size
    files. Returns the number of files after compaction; no-op (returns
    the current count) when already compact. Rows and schema are
    preserved exactly; only the file layout changes.

    Scale note: ``coalesce`` (not ``repartition``) — a narrow,
    shuffle-free rewrite; each output task reads a handful of input
    files sequentially.
    """
    path = _table_path(warehouse_dir, table)
    n_target = plan_compaction(path, target_file_bytes)
    if n_target is None:
        return len(_scan_layout(path)[0])

    df = spark.read.parquet(path)
    atomic_overwrite(
        path, lambda tmp: df.coalesce(n_target).write.mode("overwrite").parquet(tmp)
    )
    return len(_scan_layout(path)[0])
