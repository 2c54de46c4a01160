"""Q1/Q2: post-load data-quality gate.

Mirrors the DAG's two inline SQL assertions
(``dags/who_gho_etl_dag.py:194-206``): table non-empty, and zero nulls in
the declared key columns. Raising fails the run — same observable contract
as the reference's task failure + alert email.

Both checks are single aggregations; Spark plans them as partial+final
count with no data movement beyond one scalar per partition.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class DataQualityError(AssertionError):
    """A DQ constraint was violated (reference: raise → task fail → email)."""


def check_not_empty(df: DataFrame, name: str = "table") -> int:
    """Q1: SELECT COUNT(*) must be > 0 (who_gho_etl_dag.py:194-198)."""
    n = df.count()
    if n == 0:
        raise DataQualityError(f"DQ failed: {name} is empty")
    return n


def _dq_metrics(keys: Sequence[str], caller: str) -> list[Column]:
    """Q1/Q2 as two aggregate columns, ``row_count`` and ``null_key_rows``
    (rows with a null in any key column), so every check reads both from
    one aggregation."""
    if not keys:
        raise ValueError(f"{caller} requires at least one key column")
    null_key = reduce(operator.or_, [F.col(k).isNull() for k in keys])
    return [
        F.count(F.lit(1)).alias("row_count"),
        F.count(F.when(null_key, F.lit(1))).alias("null_key_rows"),
    ]


def _raise_on_violation(m, keys: Sequence[str], name: str) -> dict:
    """Raise :class:`DataQualityError` if the metrics show an empty table
    (when ``row_count`` was measured) or null keys; else return them."""
    if "row_count" in m and m["row_count"] == 0:
        raise DataQualityError(f"DQ failed: {name} is empty")
    if m["null_key_rows"]:
        raise DataQualityError(
            f"DQ failed: {name} has {m['null_key_rows']} rows with null keys {list(keys)}"
        )
    return {k: int(v) for k, v in m.items()}


def check_no_null_keys(df: DataFrame, keys: Sequence[str], name: str = "table") -> int:
    """Q2: zero rows with null in any key column (who_gho_etl_dag.py:200-206).

    Single pass: conditional count instead of a filter+count re-scan.
    """
    null_key_rows = _dq_metrics(keys, "check_no_null_keys")[1]
    row = df.select(null_key_rows).first().asDict()
    return _raise_on_violation(row, keys, name)["null_key_rows"]


def run_dq_checks(df: DataFrame, keys: Sequence[str], name: str = "fact_observation") -> dict:
    """The reference's full DQ task (Q1 + Q2), fused into ONE scan: both
    metrics come from a single aggregation instead of the reference's two
    SQL statements — same fail-fast contract, half the table reads."""
    row = df.select(*_dq_metrics(keys, "run_dq_checks")).first().asDict()
    return _raise_on_violation(row, keys, name)


def observed_dq(df: DataFrame, keys: Sequence[str], name: str = "fact_observation"):
    """Zero-extra-pass DQ: attach both Q1/Q2 metrics as a Spark
    ``Observation`` so they are collected as a by-product of whatever
    action consumes ``df`` (typically the load write) — at 100 TB this
    saves the two post-load scans the reference's DQ task performs.

    Returns ``(observed_df, finish)``: run an action on ``observed_df``,
    then call ``finish()`` to validate (raising :class:`DataQualityError`
    on violation, like the eager checks) and get the metric dict.
    """
    from pyspark.sql import Observation

    obs = Observation(f"dq_{name}")
    observed = df.observe(obs, *_dq_metrics(keys, "observed_dq"))

    def finish() -> dict:
        return _raise_on_violation(obs.get, keys, name)

    return observed, finish
