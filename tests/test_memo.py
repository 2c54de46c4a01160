"""The plan memo (``caching.memo``) is keyed on input version: a memoized
artifact built before its input file was rewritten must not be served
after the rewrite, in the same session.  Each case builds once, rewrites
the input with half its rows, and asserts the next result equals the
result after ``clear_plan_caches()`` (and differs from the first, so the
rewrite is visible at all).  The last test pins the other half of the
contract: an unchanged input still hits."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_pipeline_who_gho_spark import caching
from data_pipeline_who_gho_spark.sources.catalog import DEFAULT_SF_DIR, load_table, table_path

SRC = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")


def _copy_tier(dst) -> str:
    os.makedirs(dst)
    for name in os.listdir(SRC):
        shutil.copyfile(os.path.join(SRC, name), os.path.join(dst, name))
    return str(dst)


def _halve(tier: str, table: str) -> None:
    path = table_path(tier, table)
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 2), path)


def _rank(spark, tier):
    from data_pipeline_who_gho_spark.operators.rank import global_rank

    docs = load_table(spark, tier, "documents").select("doc_id", "n_chars")
    return global_rank(docs, ["n_chars", "doc_id"], partitions=3)


def _running_sum(spark, tier):
    from data_pipeline_who_gho_spark.operators.rank import grouped_running_sum

    docs = load_table(spark, tier, "documents").select("doc_id", "source", "n_chars")
    return grouped_running_sum(docs, ["source"], ["doc_id"], "n_chars", partitions=3)


def _query(module: str, name: str):
    def run(spark, tier):
        import importlib

        mod = importlib.import_module(f"data_pipeline_who_gho_spark.plans.{module}")
        return getattr(mod, name)(spark, tier)

    return run


CASES = {
    "shingles": ("documents", _query("extensions", "dedup_ngram_jaccard")),
    "signatures+arrays": ("documents", _query("extensions", "dedup_minhash_lsh")),
    "bpe_learn": ("documents", _query("tokenizer", "bpe_vocab")),
    "blocked_pairs": ("embeddings", _query("curation", "embed_neardup_blocked")),
    "bucketed_pairs": ("embeddings", _query("curation", "embed_neardup_bucketed")),
    "pagerank_edges": ("orders", _query("analytics6", "pagerank_customer_supplier")),
    "global_rank": ("documents", _rank),
    "grouped_running_sum": ("documents", _running_sum),
    "etl_seams": ("orders", _query("etl_seams", "etl_reject_sink")),
    "stream_staging": ("events", _query("streaming_queries", "stream_dedup_events")),
    "feb_upsert": ("events", _query("streaming_queries", "stream_upsert_foreachbatch")),
}


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize("case", list(CASES))
def test_rewritten_input_is_not_served_stale(spark, tmp_path, case):
    table, run = CASES[case]
    tier = _copy_tier(tmp_path / "tier")
    caching.clear_plan_caches()
    first = _rows(run(spark, tier))
    _halve(tier, table)
    after_rewrite = _rows(run(spark, tier))
    caching.clear_plan_caches()
    spark.catalog.clearCache()
    rebuilt = _rows(run(spark, tier))
    assert rebuilt != first, "the rewrite must change the answer"
    assert after_rewrite == rebuilt


def test_id_probe_sees_rewritten_input(spark, tmp_path):
    from data_pipeline_who_gho_spark.operators.transform import _id_usable

    path = str(tmp_path / "obs.parquet")
    for ident, usable in ((None, False), ("1", True)):
        pq.write_table(pa.table({"Id": pa.array([ident], pa.string())}), path)
        assert _id_usable(spark.read.parquet(path)) is usable


def test_unchanged_input_hits_without_a_job(spark, tmp_path):
    from data_pipeline_who_gho_spark.plans.extensions import _shingle_table
    from data_pipeline_who_gho_spark.plans.tokenizer import _learn

    tier = _copy_tier(tmp_path / "tier")
    caching.clear_plan_caches()
    learned, shingles = _learn(spark, tier), _shingle_table(spark, tier)
    sc = spark.sparkContext
    sc.setJobGroup("memo-hit", "second build on unchanged input")
    try:
        assert _learn(spark, tier) is learned
        assert _shingle_table(spark, tier) is shingles
        assert list(sc.statusTracker().getJobIdsForGroup("memo-hit")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_concurrent_misses_share_one_value():
    """More threads than cores hammer a few keys with a slow build: every
    caller of a key gets the one value the memo holds, and no name grows
    past the bound."""
    import sys
    import threading
    import time
    from types import SimpleNamespace

    fake = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="stress"))
    seen: dict[int, set[int]] = {}
    seen_lock = threading.Lock()

    def build():
        time.sleep(0.001)
        return object()

    def worker(i: int) -> None:
        for j in range(50):
            plan = (i + j) % 4
            val = caching.memo(fake, "stress", [], build, plan)
            with seen_lock:
                seen.setdefault(plan, set()).add(id(val))

    caching.clear_plan_caches()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(2 * os.cpu_count())]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    held = {k[3]: id(v) for k, v in caching.PLAN_CACHES[0].items() if k[1] == "stress"}
    caching.clear_plan_caches()
    assert seen == {p: {held[p]} for p in range(4)}
