"""Seeded WHO-shaped source for the ``etl_incremental`` workload.

Writes what the OData extract would land: API-shaped observation batches
(every field a string, plus ``ingested_at``), and the indicator and
country dimension feeds.  It also keeps the state the warehouse must hold
after each batch under the pipeline's last-write-wins upsert, so the
benchmark can check the load.

Batch mix (``write_batch``):

- 75% new Ids, 70% of them in the two latest years;
- 25% revisions of existing Ids, 80% of them from the last three years;
- 1% of the new rows with a null key column (the transform drops them);
- 1% of rows with an unparseable ``NumericValue`` (loaded as null);
- 1% exact duplicate rows (the transform keeps one).

``ingested_at`` is parquet TIMESTAMP(MICROS) adjusted to UTC, the type
Spark itself writes.  The same seed gives byte-identical files.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YEARS = list(range(2014, 2024))
LATEST_TWO = YEARS[-2:]
LAST_THREE_FROM = YEARS[-3]
N_INDICATORS = 40
N_COUNTRIES = 194
LIFE_EXPECTANCY = "WHOSIS_000001"
NAMED_COUNTRIES = {"JPN": "Japan", "USA": "United States of America",
                   "FRA": "France", "GBR": "United Kingdom", "DEU": "Germany"}
UNPARSEABLE = "No data"
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

OBS_SCHEMA = pa.schema(
    [pa.field(c, pa.string()) for c in (
        "Id", "IndicatorCode", "SpatialDim", "SpatialDimType", "TimeDim",
        "TimeDimType", "NumericValue", "Value")]
    + [pa.field("ingested_at", pa.timestamp("us", tz="UTC"))]
)


def indicator_codes() -> list[str]:
    return [f"WHOSIS_{i:06d}" for i in range(1, N_INDICATORS + 1)]


def country_codes(rng: np.random.Generator) -> list[str]:
    codes = list(NAMED_COUNTRIES)
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    while len(codes) < N_COUNTRIES:
        code = "".join(rng.choice(letters, 3))
        if code not in codes:
            codes.append(code)
    return codes


class WhoSource:
    """Seeded source files plus the warehouse state they must produce.

    ``expected`` maps observation Id to the fact row the warehouse must
    hold: ``(indicator_code, spatial_dim, time_dim, numeric_value, value)``.
    """

    def __init__(self, seed: int, src_dir: str, batch_rows: int):
        self.rng = np.random.default_rng(seed)
        self.src_dir = src_dir
        self.batch_rows = batch_rows
        self.indicators = indicator_codes()
        self.countries = country_codes(self.rng)
        self.next_id = 1
        self.expected: dict[str, tuple] = {}
        self.obs_dir = os.path.join(src_dir, "observations")
        os.makedirs(self.obs_dir, exist_ok=True)

    def write_dims(self) -> tuple[str, str]:
        """Indicator and country feeds, each with one duplicate record."""
        ind = [(c, "Life expectancy at birth (years)" if c == LIFE_EXPECTANCY
                else f"Indicator {c[-3:]} (rate per 1000)", "EN")
               for c in self.indicators]
        cty = [(c, NAMED_COUNTRIES.get(c, f"Country {c}")) for c in self.countries]
        ind.append(ind[0])
        cty.append(cty[0])
        ind_path = os.path.join(self.src_dir, "indicators.parquet")
        cty_path = os.path.join(self.src_dir, "countries.parquet")
        pq.write_table(pa.table({
            "IndicatorCode": [r[0] for r in ind],
            "IndicatorName": [r[1] for r in ind],
            "Language": [r[2] for r in ind],
        }), ind_path)
        pq.write_table(pa.table({
            "Code": [r[0] for r in cty],
            "Title": [r[1] for r in cty],
        }), cty_path)
        return ind_path, cty_path

    def _revision_ids(self, n: int) -> list[str]:
        ids = np.array(list(self.expected), dtype=object)
        if n == 0 or not len(ids):
            return []
        years = np.array([v[2] for v in self.expected.values()])
        recent, older = ids[years >= LAST_THREE_FROM], ids[years < LAST_THREE_FROM]
        k_recent = min(int(round(n * 0.8)), len(recent))
        k_older = min(n - k_recent, len(older))
        return (list(self.rng.choice(recent, k_recent, replace=False))
                + list(self.rng.choice(older, k_older, replace=False)))

    def write_batch(self, index: int, n_rows: int | None = None,
                    revisions: float = 0.25) -> tuple[str, int]:
        """Append batch ``index`` (its own ``ingested_at`` hour) to the
        observation feed; returns (file path, rows written)."""
        rng = self.rng
        n = self.batch_rows if n_rows is None else n_rows
        rev_ids = self._revision_ids(int(round(n * revisions)))
        n_new = n - len(rev_ids)

        new_ids = [str(i) for i in range(self.next_id, self.next_id + n_new)]
        self.next_id += n_new
        latest = rng.random(n_new) < 0.7
        new_years = np.where(latest, rng.choice(LATEST_TWO, n_new),
                             rng.choice(YEARS[:-2], n_new))
        ind = list(rng.choice(self.indicators, n_new))
        cty = list(rng.choice(self.countries, n_new))
        years = [int(y) for y in new_years]
        for rid in rev_ids:
            code, country, year, _, _ = self.expected[rid]
            ind.append(code)
            cty.append(country)
            years.append(year)
        ids = new_ids + rev_ids
        total = len(ids)

        numeric = [f"{v:.2f}" for v in rng.uniform(0.0, 100.0, total)]
        for i in np.flatnonzero(rng.random(total) < 0.01):
            numeric[i] = UNPARSEABLE
        time_dim = [f"{y}-{y}" if r < 0.05 else str(y)
                    for y, r in zip(years, rng.random(total))]
        null_key = np.flatnonzero(rng.random(n_new) < 0.01)
        key_cols = (ind, cty, time_dim)
        for i, col in zip(null_key, rng.integers(0, 3, len(null_key))):
            key_cols[col][i] = None
        hour = EPOCH + timedelta(hours=index)
        ingested = [hour + timedelta(microseconds=int(us))
                    for us in rng.integers(0, 3_600_000_000, total)]

        for i in range(total):
            if ind[i] is None or cty[i] is None or time_dim[i] is None:
                continue
            num = None if numeric[i] == UNPARSEABLE else float(numeric[i])
            self.expected[ids[i]] = (ind[i], cty[i], years[i], num, numeric[i])

        order = list(range(total)) + list(rng.choice(total, total // 100))
        order = [order[i] for i in rng.permutation(len(order))]
        table = pa.table({
            "Id": [ids[i] for i in order],
            "IndicatorCode": [ind[i] for i in order],
            "SpatialDim": [cty[i] for i in order],
            "SpatialDimType": ["COUNTRY"] * len(order),
            "TimeDim": [time_dim[i] for i in order],
            "TimeDimType": ["YEAR"] * len(order),
            "NumericValue": [numeric[i] for i in order],
            "Value": [numeric[i] for i in order],
            "ingested_at": [ingested[i] for i in order],
        }, schema=OBS_SCHEMA)
        path = os.path.join(self.obs_dir, f"batch-{index:05d}.parquet")
        pq.write_table(table, path)
        return path, len(order)
