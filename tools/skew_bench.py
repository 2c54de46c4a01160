"""Skewed-join benchmark: plain SMJ vs AQE skew-split vs manual salting.

The question this answers (round-6 brief item 5): Spark's
``spark.sql.adaptive.skewJoin`` is the zero-code mitigation a 100 TB
operator tries first — when is the manual salting machinery
(``operators/skew.py``) still worth owning?

Fixture: a fact table whose join key is pathologically hot (one key
carries ``HOT_FRACTION`` of all rows) joined to a dim too large to
broadcast. Three configurations, one fresh timing loop each:

* plain:   AQE off, broadcast off → classic straggler (the hot key's
           entire partition lands on ONE reducer task)
* aqe:     AQE on with skew-join splitting → runtime re-plan splits the
           hot partition into advisory-sized reads
* salted:  AQE off + ``salted_join_hot_keys`` → the hot key's rows fan
           over 16 salt buckets at PLAN time; dim rows replicate 16×
           for the hot key only

Also measured: the skewed AGGREGATION (groupBy on the hot key), where
AQE has NO skew handling at all — ``salted_agg`` vs plain groupBy.
That is the documented case where salting is not merely competitive
but the only mitigation.

Usage: python tools/skew_bench.py [rows] [dim_rows]
Prints one human-readable line per configuration; paste results into
SCALING.md's skew section.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from data_pipeline_who_gho_spark.operators.skew import (
    salted_agg,
    salted_join_hot_keys,
)

ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
DIM_ROWS = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
HOT_FRACTION = 2  # 1/2 of fact rows carry key 0
SALT_BUCKETS = 16

BASE_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    # few, large partitions make the hot partition's straggler cost
    # visible on a 32-core box (with 200+ partitions the OTHER keys
    # finish instantly and the hot task is the whole runtime anyway)
    "spark.sql.shuffle.partitions": "32",
}
AQE_SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8MB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8MB",
}


def tables(spark):
    fact = spark.range(ROWS).select(
        F.when(F.col("id") % HOT_FRACTION == 0, F.lit(0))
        .otherwise(F.col("id") % DIM_ROWS)
        .alias("k"),
        (F.col("id") % 1000).alias("v"),
    )
    dim = spark.range(DIM_ROWS).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("attr")
    )
    return fact, dim


def timed(label, build, expect_skew_split=None):
    """Time the FULLY-CONSUMED query (a tiny summary agg collect) and
    inspect THAT dataset's executed plan. Inspection trap, measured
    live: ``df.count()`` / ``df.write`` execute their OWN
    QueryExecution, so ``df._jdf.queryExecution().executedPlan()``
    afterwards still prints ``isFinalPlan=false`` with no skew
    markers — a never-executed plan, not evidence that the rule was
    suppressed. Always inspect the dataset object you executed."""
    best, df = None, None
    for _ in range(2):
        df = build()
        t0 = time.time()
        df.collect()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    note = ""
    if expect_skew_split is not None:
        plan = df._jdf.queryExecution().executedPlan().toString()
        engaged = "skew=true" in plan
        note = f"  skew-split={'ENGAGED' if engaged else 'not engaged'}"
        assert engaged == expect_skew_split, f"{label}: skew-split {engaged}"
    print(f"{label:28s} {best:7.2f}s{note}")
    return best


def with_confs(spark, confs):
    for k, v in confs.items():
        spark.conf.set(k, v)


def main():
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("skew-bench")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    with_confs(spark, BASE_CONFS)
    fact, dim = tables(spark)
    hot = spark.range(1).select(F.lit(0).cast("long").alias("k"))

    def consume_join(j):
        return j.agg(F.sum("v").alias("sv"), F.sum("attr").alias("sa"))

    def consume_agg(a):
        return a.agg(F.sum("s").alias("ss"), F.sum("n").alias("sn"))

    # --- skewed JOIN ---
    with_confs(spark, {"spark.sql.adaptive.enabled": "false"})
    timed(
        "join plain (AQE off)",
        lambda: consume_join(fact.join(dim, "k").select("v", "attr")),
    )
    with_confs(spark, AQE_SKEW_CONFS)
    timed(
        "join AQE skew-split",
        lambda: consume_join(fact.join(dim, "k").select("v", "attr")),
        expect_skew_split=True,
    )
    with_confs(spark, {"spark.sql.adaptive.enabled": "false"})
    timed(
        f"join salted hot-keys (x{SALT_BUCKETS})",
        lambda: consume_join(
            salted_join_hot_keys(
                fact, dim, ["k"], hot, salt_buckets=SALT_BUCKETS
            ).select("v", "attr")
        ),
    )

    # --- skewed AGGREGATION ---
    # NOTE (measured): for ALGEBRAIC aggregates Spark's map-side partial
    # aggregation already neutralizes key skew — each mapper collapses
    # the hot key to one partial row, so the reducer sees #mappers rows
    # per key no matter how hot. salted_agg's value is the cases where
    # partial aggregation is ineffective: near-distinct (key, payload)
    # streams such as exact two-level COUNT DISTINCT
    # (plans/scale_ops.py) or mean/variance over pre-exploded grains.
    agg_cols = {
        "s": ("sum", F.sum(F.col("v"))),
        "n": ("sum", F.count(F.lit(1))),
    }
    with_confs(spark, {"spark.sql.adaptive.enabled": "false"})
    timed(
        "agg plain groupBy",
        lambda: consume_agg(
            fact.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        ),
    )
    with_confs(spark, AQE_SKEW_CONFS)
    timed(
        "agg plain groupBy (AQE on)",
        lambda: consume_agg(
            fact.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        ),
    )
    with_confs(spark, {"spark.sql.adaptive.enabled": "false"})
    timed(
        f"agg salted two-phase (x{SALT_BUCKETS})",
        lambda: consume_agg(salted_agg(fact, ["k"], agg_cols, salt_buckets=SALT_BUCKETS)),
    )


if __name__ == "__main__":
    main()
