"""V1/V2: schema validation + validated/rejected stream split.

The reference validates row-by-row in Python with Pydantic
(``etl/validate.py:51-67``) — its single biggest bottleneck (scalar Python
loop). Semantically it is a *predicate*: required fields non-null, numeric
fields castable. We express it as column expressions so the split is two
filters over one scan — fully vectorized, whole-stage-codegen'd, and
shuffle-free. At 100 TB this is a map-only stage.

Rejected rows are never silently dropped: they carry the stringified
payload plus error details, mirroring the ``rejected_record`` side channel
(``etl/load.py:55-71``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """One named validation predicate over input columns."""

    name: str
    predicate: Column  # True ⇒ row passes this rule


@dataclass
class ValidationResult:
    """Mirror of the reference's ValidationResult (etl/validate.py:40-48)."""

    validated: DataFrame
    rejected: DataFrame  # columns: record_data STRING, error_details STRING


def required(cols: list[str]) -> list[Rule]:
    return [Rule(f"{c} is required", F.col(c).isNotNull()) for c in cols]


def castable(col: str, dtype: str) -> Rule:
    """Field must be null or castable to dtype (Pydantic coercion parity)."""
    return Rule(
        f"{col} must be {dtype}",
        F.col(col).isNull() | F.col(col).try_cast(dtype).isNotNull(),
    )


def all_pass(rules: list[Rule]) -> Column:
    """True ⇔ the row passes every rule — the validated side's predicate."""
    ok = F.lit(True)
    for r in rules:
        ok = ok & r.predicate
    return ok


def validate_split(df: DataFrame, rules: list[Rule]) -> ValidationResult:
    """Split df into (validated, rejected-with-errors) per the rule set.

    One boolean column per rule, one conjunction for the split; the
    rejected side concatenates the names of failed rules into
    ``error_details`` and stringifies the full row into ``record_data`` —
    observable parity with etl/validate.py:56-67 without the row loop.
    """
    all_ok = all_pass(rules)
    validated = df.filter(all_ok)

    errors = F.concat_ws(
        "; ",
        F.array_compact(
            F.array(
                *[F.when(~r.predicate, F.lit(r.name)) for r in rules]
            )
        ),
    )
    rejected = (
        df.filter(~all_ok)
        .withColumn("error_details", errors)
        .withColumn("record_data", F.to_json(F.struct(*df.columns)))
        .select("record_data", "error_details")
    )
    return ValidationResult(validated=validated, rejected=rejected)


# Rule sets mirroring the three Pydantic models (etl/validate.py:6-37) -----

def observation_rules() -> list[Rule]:
    # TimeDim passes if normalizable as a year: the Pydantic clean_year
    # pre-validator collapses "2019-2019" -> "2019" BEFORE the int coercion
    # (etl/validate.py:31-37), so range-years are valid here.
    year_ok = Rule(
        "TimeDim must be a year",
        F.col("TimeDim").isNull()
        | F.split(F.col("TimeDim").cast("string"), "-").getItem(0).try_cast("int").isNotNull(),
    )
    return required(["IndicatorCode", "SpatialDim", "SpatialDimType", "TimeDim", "TimeDimType"]) + [
        castable("NumericValue", "double"),
        year_ok,
    ]


def indicator_rules() -> list[Rule]:
    return required(["IndicatorCode"])


def country_rules() -> list[Rule]:
    return required(["Code", "Title"])
