"""Runtime bloom-filter join study (Spark's runtime row-level filtering).

Spark ≥3.3 can inject a ``might_contain(bloom_agg(keys))`` filter on the
BIG side of a shuffle join, built at runtime from the small (filtered)
side — cutting shuffle volume before it happens. Two production-relevant
questions for this engine:

1. Does it fire at 100 TB? The gate is
   ``spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold``
   (default 10 GiB): at fixture scale Spark SUPPRESSES injection (the
   shuffle it would save is too small to pay the bloom build), at
   corpus scale the fact side clears the gate and the filter fires.
2. How much does it save when it fires? Probed here by lowering the
   gate to 0 on a selective dim⋈fact SMJ at sf1 and comparing (a) the
   injected plan, (b) the fact-side shuffle records written, (c) wall
   time — (b) is host-speed-phase-independent evidence.

Usage: python tools/bloom_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from data_pipeline_who_gho_spark.sources.catalog import load_table


def shuffle_records_written(df) -> list[int]:
    """records-written metric of every shuffle exchange in the final
    (AQE) executed plan — py4j tree walk."""
    qe = df._jdf.queryExecution()
    root = qe.executedPlan()
    out = []
    stack = [root]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if "ShuffleExchange" in name or name == "Exchange":
            metrics = node.metrics()
            it = metrics.iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "shuffleRecordsWritten":
                    out.append(int(kv._2().value()))
        # AQE wrappers have no children() until unwrapped
        if "AdaptiveSparkPlan" in name:
            stack.append(node.executedPlan())
        elif "QueryStage" in name:
            stack.append(node.plan())
        ch = node.children()
        cit = ch.iterator()
        while cit.hasNext():
            stack.append(cit.next())
    return out


def run(sf_dir: str, bloom_on: bool) -> dict:
    spark = (
        SparkSession.builder.master("local[8]")
        .appName(f"bloom-{bloom_on}")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", str(bloom_on).lower())
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    li = load_table(spark, sf_dir, "lineitem")
    q = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").cast("long").alias("qty"),
        )
    )
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    injected = "might_contain" in plan
    # warm, then best-of-3
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        q.write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    # metrics must be read from the SAME QueryExecution that ran:
    # collect() executes the DataFrame's own QE (noop writes build
    # their own), so collect FIRST, then walk the executed plan
    rows = q.collect()
    shuffles = shuffle_records_written(q)
    spark.stop()
    return {
        "bloom": bloom_on,
        "injected": injected,
        "sec_best_of_3": round(best, 2),
        "shuffle_records": sorted(shuffles, reverse=True),
        "result": [tuple(r) for r in rows],
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scratch", "sf1")
    off = run(sf_dir, False)
    on = run(sf_dir, True)
    assert off["result"] == on["result"], "bloom filter changed RESULTS — bug"
    print(json.dumps({"off": off, "on": on}, default=str))


if __name__ == "__main__":
    main()
