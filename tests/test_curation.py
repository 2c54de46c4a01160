"""Curation workflow ops: incremental dedup, filter funnel, table diff."""

from __future__ import annotations

from data_pipeline_who_gho_spark.plans.curation import (
    corpus_filter_funnel,
    dedup_incremental,
    semantic_dedup_reps,
    table_diff,
)

SF = "/root/testdata/sf0.001"


def test_incremental_admits_only_unseen(spark):
    """Batch docs sourced from EVEN doc_ids collide with the historical
    half and must be rejected; odd-sourced batch docs are admitted."""
    admitted = {r["doc_id"] for r in dedup_incremental(spark, SF).collect()}
    assert admitted, "fixture should admit some batch docs"
    for d in admitted:
        src = d - 1000000
        assert src % 7 == 0 and src % 2 == 1


def test_incremental_neardup_rejects_exact_recrawls(spark):
    """Every batch doc whose source is EVEN (hence an exact copy exists
    in the historical corpus) and long enough to shingle (≥ 5 tokens)
    must be rejected; the decision table covers the full batch."""
    from pyspark.sql import functions as F

    from data_pipeline_who_gho_spark.plans.curation import dedup_incremental_neardup

    rows = {r["doc_id"]: r["admitted"] for r in dedup_incremental_neardup(spark, SF).collect()}
    assert rows and any(rows.values()) and not all(rows.values())
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n_tok"))
        .collect()
    )
    n_tok = {r["doc_id"]: r["n_tok"] for r in docs}
    for d, admitted in rows.items():
        src = d - 1000000
        assert src % 7 == 0  # the batch is exactly the injected re-crawls
        if src % 2 == 0 and n_tok[src] >= 5:
            assert not admitted, f"exact historical copy {d} was admitted"


def test_admission_pipeline_monotone_and_consistent(spark):
    """Cumulative survivor counts must be monotone, end below the batch
    size, and the dedup stages must actually reject something (the
    fixture guarantees exact re-crawls of historical docs)."""
    from data_pipeline_who_gho_spark.plans.curation import corpus_admission_pipeline

    rows = {r["stage"]: r["n_docs"] for r in corpus_admission_pipeline(spark, SF).collect()}
    assert sorted(rows) == [0, 1, 2, 3, 4]
    assert rows[0] >= rows[1] >= rows[2] >= rows[3] >= rows[4] >= 0
    assert rows[3] < rows[2]  # exact dedup rejects the even-sourced copies
    assert rows[0] > rows[4]


def test_funnel_counts_are_monotone(spark):
    rows = {r["stage"]: r["n_docs"] for r in corpus_filter_funnel(spark, SF).collect()}
    assert list(rows) == [0, 1, 2, 3] or set(rows) == {0, 1, 2, 3}
    assert rows[0] >= rows[1] >= rows[2] >= rows[3]
    assert rows[0] > rows[3] >= 0  # the cascade actually filters


def test_table_diff_statuses(spark):
    rows = table_diff(spark, SF).collect()
    by_status: dict[str, set] = {}
    for r in rows:
        by_status.setdefault(r["status"], set()).add(r["o_orderkey"])
    assert set(by_status) == {"added", "removed", "changed"}
    for k in by_status["added"]:
        assert k % 97 == 0 and k % 89 != 0
    for k in by_status["removed"]:
        assert k % 89 == 0 and k % 97 != 0
    for k in by_status["changed"]:
        assert k % 101 == 0


def test_semantic_dedup_clusters_injected_vectors(spark):
    """Every injected duplicate vector (vec_id % 11 == 0 re-keyed
    +1_000_000) must land in its source's cluster with the source as
    canonical; canonical ids are cluster minima."""
    rows = semantic_dedup_reps(spark, SF).collect()
    canon = {r["vec_id"]: r["canonical_id"] for r in rows}
    assert canon, "fixture should produce clusters"
    for vid, c in canon.items():
        assert c <= vid
        assert canon[c] == c  # the canonical is its own representative
    dups = [v for v in canon if v >= 1000000]
    assert dups
    for d in dups:
        assert canon[d] == canon[d - 1000000]


def test_blocked_pairs_survive_cross_chunk_split(spark, monkeypatch):
    """Regression: a near-dup pair whose smaller vec_id hashes into a
    HIGHER-numbered chunk than its partner must still be emitted (the
    a.chunk <= b.chunk tiling plus a naive id_a < id_b filter silently
    dropped such pairs). One-hot synthetic vectors: only ids 3 (chunk 3)
    and 10 (chunk 2) are identical."""
    from data_pipeline_who_gho_spark import caching
    from data_pipeline_who_gho_spark.plans import curation, extras

    rows = [
        (i, [1.0 if d == (3 if i in (3, 10) else i) else 0.0 for d in range(16)])
        for i in range(16)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(extras, "_t", lambda s, d, n: df)
    caching.clear_plan_caches()
    try:
        out = curation.embed_neardup_blocked(spark, "synthetic://cross-chunk")
        pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
        # (0, 1000000) and (11, 1000011) are _vec_corpus's injected dups
        assert pairs == {(3, 10): 1.0, (0, 1000000): 1.0, (11, 1000011): 1.0}
    finally:
        caching.clear_plan_caches()


def test_blocked_equals_expression_baseline(spark):
    """The GEMM-tiled form and the expression-tree baseline must produce
    the identical pair set and (rounded) cosines at sf0.001."""
    from data_pipeline_who_gho_spark.plans.curation import embed_neardup_blocked
    from data_pipeline_who_gho_spark.plans.extras import embed_neardup_pairs

    blocked = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embed_neardup_blocked(spark, SF).collect()
    }
    baseline = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embed_neardup_pairs(spark, SF).collect()
    }
    assert blocked == baseline


def test_bucketed_equals_blocked_pair_set(spark):
    """The LSH-bucketed linear-tile generator must reproduce the exact
    blocked form's pair set and cosines on the fixture (exact-copy dups
    always share a 16-bit code — recall 1.0 by construction)."""
    from data_pipeline_who_gho_spark.plans.curation import (
        embed_neardup_blocked,
        embed_neardup_bucketed,
    )

    bucketed = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embed_neardup_bucketed(spark, SF).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embed_neardup_blocked(spark, SF).collect()
    }
    assert bucketed == blocked and bucketed


def _diverse_vec(i: int) -> list[float]:
    """64-dim vector whose hyperplane code varies with i (diverse sign
    patterns), with a deliberately HOT shared pattern for i % 16 == 7."""
    seed = 7 if i % 16 == 7 else i * 2654435761 % (1 << 31)
    return [
        float(1 + (seed + d) % 5) * (1.0 if (seed >> (d % 31)) & 1 else -1.0)
        for d in range(64)
    ]


def test_bucketed_tile_count_is_linear(spark, monkeypatch):
    """Tile count of the REAL intra-bucket join must scale linearly with
    corpus size at fixed tile width: doubling a diverse corpus must not
    quadruple tiles the way the all-pairs C² tiling does. Vectors are
    64-dim (the plane dimensionality — shorter inputs now raise), codes
    are diverse, and a constant-size hot pattern plus a tiny forced tile
    width exercises the hot-bucket sub-split."""
    from data_pipeline_who_gho_spark import caching
    from data_pipeline_who_gho_spark.plans import curation, extras

    def run(n: int) -> int:
        rows = [(i, _diverse_vec(i)) for i in range(n)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        monkeypatch.setattr(extras, "_t", lambda s, d, name: df)
        tiles = curation._bucketed_tiles(
            spark, f"synthetic://linear-{n}", tile_rows=4
        )
        n_tiles = tiles.count()
        # the hot pattern (4+ vectors, width 4) must actually sub-split:
        # at least one cross-sub tile exists
        assert tiles.filter("NOT diag").count() >= 1
        return n_tiles

    t_small, t_large = run(64), run(128)
    # linear (not quadratic) growth: 2x corpus => <= ~2.5x tiles (slack
    # for hash-uneven sub-chunking), where C^2 tiling would give ~4x
    assert t_small >= 32, t_small  # diverse codes: most buckets tiny
    assert t_large <= 2.5 * t_small, (t_small, t_large)


def test_lsh_code_rejects_wrong_dimensionality(spark):
    """A vector shorter than the 64-dim plane matrix must raise, not
    silently collapse every code to bucket 0."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_who_gho_spark.plans.extensions import lsh_code_column

    df = spark.createDataFrame(
        [(1, [1.0] * 16)], "vec_id long, v array<double>"
    ).select(lsh_code_column("v").alias("code"))
    with pytest.raises(Exception, match="64-dim"):
        df.collect()


def test_weighted_sample_deterministic_and_biased(spark):
    """Same draw every run (md5-seeded); long documents must be
    overrepresented relative to their population share."""
    from data_pipeline_who_gho_spark.plans.curation import (
        WSAMPLE_K,
        weighted_sample_docs,
    )

    s1 = [r["doc_id"] for r in weighted_sample_docs(spark, SF).collect()]
    s2 = [r["doc_id"] for r in weighted_sample_docs(spark, SF).collect()]
    assert s1 == s2 and len(s1) == WSAMPLE_K
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "n_chars")
    pop_mean = docs.agg({"n_chars": "avg"}).collect()[0][0]
    sample_mean = (
        docs.filter(docs.doc_id.isin(s1)).agg({"n_chars": "avg"}).collect()[0][0]
    )
    assert sample_mean > pop_mean  # length-weighted draw skews long
