"""Multi-file documents layout for the strong-scaling probe.

The derived tiers (`make_sf1.py`, `make_text_tier.py`) write ONE
parquet file with few row groups, which caps pre-shuffle scan
parallelism at the row-group count regardless of cores or split size
(measured in SCALING.md round-7). This rewrites a tier's documents
table as N part files so the strong-scaling sweep can measure compute,
not layout.

Usage: python tools/make_mf_tier.py [src_tier] [n_files]
       (defaults: .scratch/sf10text → .scratch/sf10text_mf, 64 files)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scratch", "sf10text")
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    dst = src.rstrip("/") + "_mf"

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("make-mf-tier")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(dst, exist_ok=True)
    df = spark.read.parquet(f"{src}/documents.parquet")
    df.repartition(n).write.mode("overwrite").parquet(f"{dst}/documents.parquet")
    parts = [
        f for f in os.listdir(f"{dst}/documents.parquet") if f.endswith(".parquet")
    ]
    print(f"{dst}/documents.parquet: {len(parts)} files, {df.count()} rows")


if __name__ == "__main__":
    main()
