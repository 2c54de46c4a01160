"""S1-S7: the paged record source, Spark-first.

Reference shape (``etl/extract.py``): a driver-side loop — per
(indicator, country) key pair, GET pages of 100 with retry/backoff,
checkpoint the next-page link after each page, resume from checkpoint.

Spark-first re-expression:

- The fetch *plan* is data: a DataFrame of fetch keys (the reference's
  ``indicator × country`` nested loop becomes ``crossJoin`` — S6).
- Executors fetch in parallel: ``mapInPandas`` over the key DataFrame,
  each task pulling all pages for its keys (S1/S3) with tenacity-style
  retry/backoff (S2) — at 1000 executors this is 1000-way parallel
  extraction vs the reference's single process.
- Predicate pushdown (S5) is the fetch-plan construction itself: each
  key row carries its filter; the "source" only ever produces matching
  records (same mechanism as the reference's ``$filter=`` URL).
- Checkpoint/resume (S4): per key-batch, not per page — Spark retries
  tasks wholesale, so page-grain checkpoints can't be trusted from
  executors; the observable guarantee (no loss, no dupes after the
  idempotent MERGE) matches the reference's. Completed batches are
  recorded in the etl_state repository and skipped on resume.
- Row limit (S7): ``df.limit(n)`` on the result.

The fetcher is injected (a picklable callable), so tests and local runs
read fixtures with zero network — the oracle path never touches HTTP.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

# pandas and the state table stay out of the DSv2 readers' Python
# workers, which import this module for fetch_page_with_retry
if TYPE_CHECKING:
    import pandas as pd

    from .state import EtlStateRepository

# fetch_page(key: str, page_index: int, page_size: int) -> list[dict]
# Empty list ⇒ no more pages (reference: page < $top stops, 404 ⇒ empty).
PageFetcher = Callable[[str, int, int], list[dict]]


def fetch_page_with_retry(
    fetcher: PageFetcher,
    key: str,
    page: int,
    page_size: int,
    max_retries: int = 3,
    backoff_s: float = 0.1,
) -> list[dict]:
    """S2 for one page: call the fetcher, retrying with exponential
    backoff (tenacity parity, etl/extract.py:30). Every page loop — this
    module's and the DSv2 readers' — fetches through it."""
    attempt = 0
    while True:
        try:
            return fetcher(key, page, page_size)
        except Exception:
            attempt += 1
            if attempt >= max_retries:
                raise
            time.sleep(backoff_s * (2 ** (attempt - 1)))


def fetch_all_pages(
    fetcher: PageFetcher,
    key: str,
    page_size: int,
    max_retries: int = 3,
    backoff_s: float = 0.1,
) -> Iterator[dict]:
    """S1+S2+S3 for one key: paginate until a short/empty page, each
    page fetched with retry."""
    page = 0
    while True:
        records = fetch_page_with_retry(
            fetcher, key, page, page_size, max_retries, backoff_s
        )
        yield from records
        if len(records) < page_size:
            return
        page += 1


def fetch_paged(
    spark: SparkSession,
    keys: DataFrame,
    fetcher: PageFetcher,
    schema: str,
    key_col: str = "key",
    page_size: int = 100,
    limit: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed paged extraction: one executor task per key partition.

    ``keys`` is the fetch plan (build it with crossJoin for S6 fan-out).
    Records stream out of ``mapInPandas`` in page-sized pandas batches —
    no driver materialization at any scale.

    The plan is re-partitioned to ``num_partitions`` (default: the
    cluster's defaultParallelism) before the fetch: a crossJoin-built
    plan otherwise carries left x right partitions (32 x 32 = 1024 in
    local tests — found by the scaling probe as ~20 s of empty
    Python-worker spin-up for a 10-key fetch), and the round-robin
    shuffle of the tiny key rows also evens out key skew so every
    executor fetches, not just the partitions the crossJoin landed
    keys in.
    """
    plan = keys.select(key_col)
    target = num_partitions or spark.sparkContext.defaultParallelism
    if plan.rdd.getNumPartitions() != target:
        plan = plan.repartition(target)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for batch in batches:
            for key in batch[key_col]:
                rows = []
                for rec in fetch_all_pages(fetcher, key, page_size):
                    rows.append(rec)
                    if len(rows) >= page_size:
                        yield pd.DataFrame(rows)
                        rows = []
                if rows:
                    yield pd.DataFrame(rows)

    out = plan.mapInPandas(run, schema)
    return out.limit(limit) if limit is not None else out


def fetch_with_checkpoint(
    spark: SparkSession,
    keys: list[str],
    fetcher: PageFetcher,
    schema: str,
    state: EtlStateRepository,
    process_name: str,
    page_size: int = 100,
    batch_size: int = 64,
    sink: Callable[[DataFrame, int], None] | None = None,
) -> int:
    """S4: checkpointed resume at key-batch granularity.

    Keys are processed in deterministic batches; after each batch lands
    (via ``sink``), the batch index is checkpointed. On restart, completed
    batches are skipped. Downstream idempotent MERGE makes re-runs of a
    half-finished batch harmless — the reference's observable guarantee
    (no loss, no dupes) at coarser grain (SURVEY §7 risk register).
    Returns the number of batches processed this run.
    """
    st = state.get_state(process_name)
    done = (st or {}).get("checkpoint_state") or {}
    start_batch = int(done.get("next_batch", 0))
    batches = [keys[i : i + batch_size] for i in range(0, len(keys), batch_size)]

    processed = 0
    for bi in range(start_batch, len(batches)):
        kdf = spark.createDataFrame([(k,) for k in batches[bi]], "key STRING")
        # r14 (guide §4.5/§2.6): cap fetch parallelism at the batch's key
        # count — the default spread to defaultParallelism spawned a
        # Python worker per partition, most of them EMPTY for small
        # batches (the fetch is one task per key at most). At scale
        # (keys >= cores) this is the same defaultParallelism as before.
        df = fetch_paged(
            spark,
            kdf,
            fetcher,
            schema,
            page_size=page_size,
            num_partitions=max(
                1,
                min(len(batches[bi]), spark.sparkContext.defaultParallelism),
            ),
        )
        if sink is not None:
            sink(df, bi)
        else:
            df.count()
        state.set_checkpoint_state(process_name, {"next_batch": bi + 1})
        processed += 1

    state.clear_checkpoint(process_name)
    state.set_last_successful_run_at(process_name)
    return processed
