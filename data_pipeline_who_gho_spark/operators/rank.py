"""Scalable global ranking: the distributed replacement for an
unpartitioned window.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY funnels the
whole dataset through ONE task — the classic Spark scale trap. The
standard two-pass fix implemented here:

1. ``repartitionByRange`` on the sort key: rows land in range-disjoint
   partitions, globally ordered ACROSS partitions.
2. rank locally per partition — a window partitioned by
   ``spark_partition_id()``, so every partition ranks in parallel.
3. add each partition's prefix offset (computed from per-partition
   counts — #partitions rows, broadcast back).

The rank value depends only on the total order, not on where the range
boundaries fall — PROVIDED the local-rank pass and the counts pass see
the SAME boundaries. That is not automatic: the two passes are two
consumers of the range exchange, and if exchange reuse ever fails, each
evaluation re-SAMPLES its own boundaries (the range partitioner's
sampling is seeded per RDD instance) and the offsets no longer match
the local ranks — observed in the wild as a run-to-run nondeterministic
rank shift in the round-5 full-registry sf1 gate (train_order_shuffle,
one 318-row slide). The ranged frame is therefore PERSISTED (the package memo,
``caching.memo``, keyed on the input files' version and the plan's
semantic hash; unpersist on eviction): both passes then read the one
materialization, which also makes repeated invocations of the same
rank free. The persisted projection is rank-input-narrow (keys +
carried columns), not corpus text.

Requires the sort key to be a total order (add a unique tiebreak
column). Costs one extra pass over the ranged data for the counts —
the price of not serializing 100 TB through one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import memo


def _guard_reserved(df: DataFrame, reserved: set[str], op: str) -> None:
    """Both rank ops inject fixed temp columns (``__pid`` etc.) into the
    caller's frame; a caller column with one of those names would
    silently produce wrong sums (or an ambiguous-column analysis
    error). Fail loudly at entry instead — the same defensive contract
    the docstrings state for ``order_cols``."""
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"{op}: input columns {sorted(clash)} collide with reserved "
            f"temp names; rename them before calling"
        )


def _ranged(
    df: DataFrame, name: str, range_cols: list[str], parts: int, args: tuple
) -> DataFrame:
    """``df`` range-partitioned on ``range_cols`` with its partition id,
    persisted through the memo (keyed on the input files' version, the
    plan's semantic hash, the call's arguments and ``parts``)."""
    return memo(
        df.sparkSession, name, [df],
        lambda: df.repartitionByRange(parts, *[F.col(c) for c in range_cols])
        .withColumn("__pid", F.spark_partition_id()).persist(),
        (df.semanticHash(), *args, parts),
    )


def global_rank(
    df: DataFrame, order_cols: list[str], rank_col: str = "rn", partitions: int | None = None
) -> DataFrame:
    """Dense global row_number over ``order_cols`` (must form a total
    order), computed without a single-partition window."""
    _guard_reserved(df, {"__pid", "__lrn", "__off", rank_col}, "global_rank")
    parts = partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    ranged = _ranged(df, "global_rank", order_cols, parts, (tuple(order_cols),))
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    local = ranged.withColumn("__lrn", F.row_number().over(w))
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    wo = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(wo), F.lit(0)).cast("long")
    ).select("__pid", "__off")
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, (F.col("__lrn") + F.col("__off")).cast("long"))
        .drop("__pid", "__lrn")
    )


def grouped_running_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    val_col: str,
    out_col: str = "cum_before",
    partitions: int | None = None,
) -> DataFrame:
    """EXCLUSIVE per-group running sum of ``val_col`` (the sum of all
    strictly-earlier rows in ``order_cols`` order within the group),
    without ever funneling a whole group through one task.

    ``sum() OVER (PARTITION BY group ORDER BY ...)`` sends each group to
    ONE task — fine when groups are small, a scale trap when one group
    is 30% of a 100 TB corpus (exactly the shape of a dominant source in
    token-budget sampling). Same two-pass fix as ``global_rank``:

    1. ``repartitionByRange`` on (group, order): each group's rows span
       a RUN of consecutive partitions, ordered across them.
    2. local exclusive prefix sum per (partition, group) — parallel.
    3. add the per-(partition, group) totals' prefix (a #partitions ×
       #groups-bounded relation, window-summed per group and broadcast
       back).

    The ranged frame is persisted for the same reason as global_rank's:
    the local pass and the totals pass must see the SAME sampled range
    boundaries (see the module docstring's nondeterminism note).

    ``order_cols`` must totally order rows WITHIN each group (add a
    unique tiebreak column).
    """
    _guard_reserved(
        df,
        {"__pid", "__opid", "__lsum", "__off", "__t", out_col}
        | {f"__og_{c}" for c in group_cols},
        "grouped_running_sum",
    )
    parts = partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    ranged = _ranged(
        df, "grouped_running_sum", group_cols + order_cols, parts,
        (tuple(group_cols), tuple(order_cols), val_col),
    )
    w_local = (
        Window.partitionBy("__pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn(
        "__lsum", F.coalesce(F.sum(val_col).over(w_local), F.lit(0)).cast("long")
    )
    totals = ranged.groupBy("__pid", *group_cols).agg(
        F.sum(val_col).cast("long").alias("__t")
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__t").over(w_off), F.lit(0)).cast("long")
    ).select(
        F.col("__pid").alias("__opid"),
        *[F.col(c).alias(f"__og_{c}") for c in group_cols],
        "__off",
    )
    # NULL-SAFE group equality: windows/groupBys treat NULL as one
    # group, but a plain equi-join drops NULL-keyed rows — the
    # stratified_split_exact class of bug (verify-skill rule). Fixtures
    # carry no NULL groups; the constructed-DF test does.
    cond = F.col("__pid") == F.col("__opid")
    for c in group_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__og_{c}"))
    return (
        local.join(F.broadcast(offsets), cond)
        .withColumn(out_col, (F.col("__lsum") + F.col("__off")).cast("long"))
        .drop("__pid", "__opid", "__lsum", "__off",
              *[f"__og_{c}" for c in group_cols])
    )


def ntile_from_rank(rn: Column, total: Column, n: int) -> Column:
    """ANSI ntile(n) from a precomputed global rank + total count: the
    first (total % n) tiles get ceil(total/n) rows. Pure integer
    arithmetic — identical in every engine, and composable with
    global_rank to bucket without any global window."""
    base = (total / n).cast("long")  # floor division on positive longs
    rem = total - base * n
    big = rem * (base + 1)
    return (
        F.when(rn <= big, ((rn - 1) / (base + 1)).cast("long") + 1)
        .otherwise(rem + ((rn - big - 1) / base).cast("long") + 1)
        .cast("int")
    )
