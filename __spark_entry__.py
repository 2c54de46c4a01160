"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 for the DuckDB-oracle correctness gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_pipeline_who_gho_spark.plans.analytics import (  # noqa: E402
    ANALYTICS_ORACLE_SQL,
    ANALYTICS_QUERIES,
)
from data_pipeline_who_gho_spark.plans.analytics2 import (  # noqa: E402
    ANALYTICS2_ORACLE_SQL,
    ANALYTICS2_QUERIES,
)
from data_pipeline_who_gho_spark.plans.etl_ops import (  # noqa: E402
    ETL_ORACLE_SQL,
    ETL_QUERIES,
)
from data_pipeline_who_gho_spark.plans.extensions import (  # noqa: E402
    EXTENSION_ORACLE_SQL,
    EXTENSION_QUERIES,
)
from data_pipeline_who_gho_spark.plans.extras import (  # noqa: E402
    EXTRAS_ORACLE_SQL,
    EXTRAS_QUERIES,
)
from data_pipeline_who_gho_spark.plans.streaming_queries import (  # noqa: E402
    STREAMING_ORACLE_SQL,
    STREAMING_QUERIES,
)
from data_pipeline_who_gho_spark.plans.tpch import (  # noqa: E402
    TPCH_ORACLE_SQL,
    TPCH_QUERIES,
)
from data_pipeline_who_gho_spark.plans.behavior import (  # noqa: E402
    BEHAVIOR_ORACLE_SQL,
    BEHAVIOR_QUERIES,
)
from data_pipeline_who_gho_spark.plans.tpch2 import (  # noqa: E402
    TPCH2_ORACLE_SQL,
    TPCH2_QUERIES,
)
from data_pipeline_who_gho_spark.plans.training import (  # noqa: E402
    TRAINING_ORACLE_SQL,
    TRAINING_QUERIES,
)
from data_pipeline_who_gho_spark.plans.analytics3 import (  # noqa: E402
    ANALYTICS3_ORACLE_SQL,
    ANALYTICS3_QUERIES,
)
from data_pipeline_who_gho_spark.plans.vector_analytics import (  # noqa: E402
    VECTOR_ANALYTICS_ORACLE_SQL,
    VECTOR_ANALYTICS_QUERIES,
)
from data_pipeline_who_gho_spark.plans.analytics4 import (  # noqa: E402
    ANALYTICS4_ORACLE_SQL,
    ANALYTICS4_QUERIES,
)
from data_pipeline_who_gho_spark.plans.tpch3 import (  # noqa: E402
    TPCH3_ORACLE_SQL,
    TPCH3_QUERIES,
)
from data_pipeline_who_gho_spark.plans.analytics5 import (  # noqa: E402
    ANALYTICS5_ORACLE_SQL,
    ANALYTICS5_QUERIES,
)
from data_pipeline_who_gho_spark.plans.tpch4 import (  # noqa: E402
    TPCH4_ORACLE_SQL,
    TPCH4_QUERIES,
)
from data_pipeline_who_gho_spark.plans.analytics6 import (  # noqa: E402
    ANALYTICS6_ORACLE_SQL,
    ANALYTICS6_QUERIES,
)
from data_pipeline_who_gho_spark.plans.training2 import (  # noqa: E402
    TRAINING2_ORACLE_SQL,
    TRAINING2_QUERIES,
)
from data_pipeline_who_gho_spark.plans.extensions2 import (  # noqa: E402
    EXTENSION2_ORACLE_SQL,
    EXTENSION2_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation import (  # noqa: E402
    CURATION_ORACLE_SQL,
    CURATION_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation2 import (  # noqa: E402
    CURATION2_ORACLE_SQL,
    CURATION2_QUERIES,
)
from data_pipeline_who_gho_spark.plans.tokenizer import (  # noqa: E402
    TOKENIZER_ORACLE_SQL,
    TOKENIZER_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation3 import (  # noqa: E402
    CURATION3_ORACLE_SQL,
    CURATION3_QUERIES,
)
from data_pipeline_who_gho_spark.plans.etl_seams import (  # noqa: E402
    ETL_SEAMS_ORACLE_SQL,
    ETL_SEAMS_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation4 import (  # noqa: E402
    CURATION4_ORACLE_SQL,
    CURATION4_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation5 import (  # noqa: E402
    CURATION5_ORACLE_SQL,
    CURATION5_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation6 import (  # noqa: E402
    CURATION6_ORACLE_SQL,
    CURATION6_QUERIES,
)
from data_pipeline_who_gho_spark.plans.sketches import (  # noqa: E402
    SKETCH_ORACLE_SQL,
    SKETCH_QUERIES,
)
from data_pipeline_who_gho_spark.plans.scale_ops import (  # noqa: E402
    SCALE_OPS_ORACLE_SQL,
    SCALE_OPS_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation7 import (  # noqa: E402
    CURATION7_ORACLE_SQL,
    CURATION7_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation8 import (  # noqa: E402
    CURATION8_ORACLE_SQL,
    CURATION8_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation9 import (  # noqa: E402
    CURATION9_ORACLE_SQL,
    CURATION9_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation10 import (  # noqa: E402
    CURATION10_ORACLE_SQL,
    CURATION10_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation11 import (  # noqa: E402
    CURATION11_ORACLE_SQL,
    CURATION11_QUERIES,
)
from data_pipeline_who_gho_spark.plans.unigram import (  # noqa: E402
    UNIGRAM_ORACLE_SQL,
    UNIGRAM_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation12 import (  # noqa: E402
    CURATION12_ORACLE_SQL,
    CURATION12_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation13 import (  # noqa: E402
    CURATION13_ORACLE_SQL,
    CURATION13_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation14 import (  # noqa: E402
    CURATION14_ORACLE_SQL,
    CURATION14_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation15 import (  # noqa: E402
    CURATION15_ORACLE_SQL,
    CURATION15_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation16 import (  # noqa: E402
    CURATION16_ORACLE_SQL,
    CURATION16_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation17 import (  # noqa: E402
    CURATION17_ORACLE_SQL,
    CURATION17_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation18 import (  # noqa: E402
    CURATION18_ORACLE_SQL,
    CURATION18_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation19 import (  # noqa: E402
    CURATION19_ORACLE_SQL,
    CURATION19_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation21 import (  # noqa: E402
    CURATION21_ORACLE_SQL,
    CURATION21_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation20 import (  # noqa: E402
    CURATION20_ORACLE_SQL,
    CURATION20_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation22 import (  # noqa: E402
    CURATION22_ORACLE_SQL,
    CURATION22_QUERIES,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the A1 star-join revenue rollup on sf0.001."""
    return ANALYTICS_QUERIES["a1_star_join_revenue"](spark, "/root/testdata/sf0.001")


# The external correctness gate checks the FIRST ~50 entries of queries()
# in dict insertion order.  To accrue a hard-signal row for every family,
# order the registry each round: never-green queries first (ranked by
# _PRIORITY below), then green ones stalest-round first.  Ground truth is
# the CORRECTNESS_r*.json files the driver leaves in the repo root.
_PRIORITY = [
    # r13 head: the new Layer III spectral decode and protobuf wire
    # scan, then the three r13 re-stales (PDF simple-font/hybrid
    # layouts; funnel sharing the changed reader; Avro snappy shards),
    # which rank next by being never-effective-green
    "mpeg1_layer3_spectral_stats", "proto_scan_stats",
    "mpeg1_layer3_reservoir_stats",
    # r12 head: the two new registrations (Avro non-scalar types; XML
    # rowTag reject split) ahead of the four r12 re-stales, which rank
    # next by being never-effective-green
    "avro_complex_scan_stats", "xml_scan_reject_split",
    # r11 head: file-format ingestion (messy CSV + reject split,
    # multiline CSV, ORC round-trip)
    "csv_scan_stats", "csv_reject_split", "csv_multiline_stats",
    "orc_roundtrip_stats",
    # r11 head: PDF text extraction + WARC content-type dispatch funnel
    "pdf_text_extract_stats", "crawl_pdf_funnel",
    # r11 head: statistical (char n-gram) language-ID
    "lang_id_ngram_stats", "lang_id_recall_by_lang",
    # r11 head: MPEG-1 Layer II bitstream decode; Avro container scan
    "mpeg1_layer2_bitstream_stats", "avro_scan_stats",
    "json_scan_reject_split",
    # Live never-green ranking only (ties in the green sort break on
    # this order; first occurrence wins).  Per-round narrative of WHY
    # each block was head-of-window lives in COVERAGE.md's
    # registry-status blocks (r05-r11), not here.
    "jpeg420_decode_stats", "audio_fingerprint_neardup", "flac_decode_stats",
    "audio_spectral_features", "jpeg_progressive_decode_stats",
    "mp4_container_stats", "mp3_frame_stats", "multi_codec_roundtrip_stats",
    "mojibake_repair_stats", "parquet_footer_probe", "blocklist_match_stats",
    "warc_record_stats", "html_extract_stats", "html_boilerplate_extract",
    "video_fingerprint_neardup", "url_canonical_dedup", "robots_gate_stats",
    "sitemap_frontier_stats", "srt_cue_stats", "crawl_ingest_e2e",
    "exif_gps_strip_stats", "id3_metadata_stats", "archive_member_stats",
    "jsonl_shard_explode", "exif_orientation_neardup", "audio_quality_gates",
    "image_quality_gates", "video_scene_cut_stats", "cdc_chunk_stats",
    "cdc_shared_chunks", "crossmodal_dedup_union",
    "mpeg1_layer1_subband_stats", "media_resize_checksum",
    "maxmatch_segment_stats", "intradoc_line_dedup",
    "media_decode_png_stats", "boilerplate_strip_newline",
    "unigram_encode_stats", "audio_decode_stats", "video_frame_stats",
    "row_group_layout_plan", "gzip_roundtrip_stats", "media_decode_stats",
    "boilerplate_strip_audit", "token_budget_sample", "corpus_build_e2e",
    "ann_lsh_multitable", "compact_shards", "rrf_hybrid_search",
    "quantile_normalize_scores", "triangle_cosupply", "ann_recall_report",
    "hll_distinct_per_source", "hll_union_total", "media_byte_features",
    "json_extraction", "sessionize_events", "array_agg_sorted",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_prefix_filter", "dedup_simhash", "dedup_clusters",
    "ann_cosine_topk", "ann_lsh_buckets", "ann_ivf_search", "ann_ivf_nprobe",
    "embed_neardup_pairs", "multimodal_meta", "etl_safe_cast",
    "etl_upsert_merge", "etl_upsert_cdc", "etl_scd2_merge", "etl_dq_summary",
    "q2_min_cost_supplier", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier", "q6_forecast_revenue", "q7_volume_shipping",
    "q8_market_share", "q9_part_revenue", "q10_returned_items",
    "q11_important_parts", "q12_shipmode_priority", "q13_order_distribution",
    "q14_promo_effect", "q15_top_supplier", "q16_supplier_part_counts",
    "q17_small_quantity", "q18_large_orders", "q19_disjunctive",
    "q20_dominant_suppliers", "q21_waiting_suppliers",
    "q22_dormant_customers", "train_split_assign", "contamination_check",
    "doc_chunking", "doc_chunking_strided", "pii_redaction",
    "vocab_top_tokens", "tfidf_top_term", "stream_tumbling_counts",
    "text_stats", "simhash_neardup_pairs", "dedup_containment",
    "dedup_sorted_neighborhood", "bm25_search", "bigram_lm_score",
    "byte_entropy_stats", "pmi_collocations", "dedup_incremental",
    "dedup_incremental_neardup", "corpus_admission_pipeline",
    "corpus_filter_funnel", "table_diff", "semantic_dedup_reps",
    "embed_neardup_blocked", "embed_neardup_bucketed",
    "recursive_trade_reach", "stream_paged_fetch", "etl_checkpoint_resume",
    "trending_users_decayed", "stream_stateful_totals",
    "weighted_sample_docs", "stream_dedup_within_watermark",
    "dataset_card_stats", "doc_repetition_stats", "domain_quota_sample",
    "seq_packing", "source_mix_weights", "curriculum_phases",
    "dedup_passages", "duplicate_spans", "ann_ivf_pq", "shard_manifest",
    "bpe_learn_merges", "bpe_token_counts", "train_order_shuffle",
    "hashed_doc_vectors", "remove_duplicate_spans", "stratified_split_exact",
    "cluster_prototypes", "quality_classifier_score", "ngram_novelty",
    "asof_nearest_events", "bpe_encode_fingerprint", "bpe_vocab",
    "etl_paged_fetch", "asof_join_events", "asof_tolerance_events",
    "asof_forward_events", "embed_with_model", "model_ann_topk",
    "url_normalize_dedup", "domain_stats", "bpe_decode_roundtrip",
    "gopher_repetition_flags", "source_overlap_matrix",
    "tokenizer_fertility", "bloom_prune_incremental", "oov_rate_per_source",
    "ann_pq_rerank", "stream_hopping_counts", "bucketed_colocated_join",
    "stream_upsert_foreachbatch", "kmv_user_day_overlap",
    "quantile_sketch_by_flag", "stream_sessions", "stream_dedup_events",
    "stream_stream_join", "stream_static_enrich", "zscore_anomalies",
    "funnel_conversion", "cohort_retention", "window_rank_family",
    "exact_percentiles", "mode_per_group", "corr_exact", "gap_fill_daily",
    "rolling_hour_window", "label_centroids", "vector_norms", "knn_classify",
    "kmeans_assign", "scd2_user_status", "max_concurrent_events",
    "sample_hash_stratified", "heavy_hitters", "quantize_embeddings",
    "text_normalize", "robust_stats", "incremental_rollup_monthly",
    "event_transitions", "fuzzy_match_docs", "linreg_exact", "table_profile",
    "twap_user_value", "interval_overlap_events", "ewma_user_value",
    "pagerank_customer_supplier", "locf_gap_fill", "zorder_event_cells",
    "join_null_safe", "ohlc_hourly", "etl_retry_fetch", "etl_fetch_limit",
    "etl_migration_rebuild", "etl_reject_sink", "etl_state_bootstrap",
    "etl_records_to_table", "etl_indicator_projection",
    "etl_json_interchange", "etl_pipeline_e2e", "perplexity_buckets",
    "dedup_cluster_best", "corpus_dedup_report",
]


# Staleness ledger: queries whose registered implementation or output
# contract materially changed DURING the noted round, after their last
# driver-green row.  A green row only counts if its round >= the noted
# round (the driver runs after the round's code is committed, so a
# same-round row does verify the new code).  Entries self-clear once the
# driver re-greens them; prune cleared entries when convenient.
# MAINTENANCE: `python tools/stale_check.py` diffs every query's
# normalized plan hash against the committed PLAN_HASHES.json baseline
# and prints the queries that belong here; run it before each round's
# final commit, annotate, then `--update` the baseline.
_STALE_SINCE: dict[str, int] = {
    # (The 29 r13-optimization entries and the three r13 codec/fixture
    # entries all SELF-CLEARED: CORRECTNESS_r13's 50-query window
    # re-greened every one at round >= its annotation, so the green
    # rows vouch for the current code — pruned at round-14 close per
    # the round_close.py ledger-liveness rule.  The six entries below
    # are the round-14 optimization drifts; each must re-earn a
    # driver-green row.)
    #
    # r14 (ADVICE r13 high): gopher's fraction divisions are now
    # when(t > 0)-guarded — under the ANSI default a too-short doc's
    # t = 0 raised DIVIDE_BY_ZERO (latent crash; the fixture has no
    # such docs, so every value is identical and the oracle unchanged)
    "gopher_repetition_flags": 14,
    # r14: the PQ assign/distance-table squared-L2 moved from the
    # interpreted zip_with/aggregate fold to an unrolled 16-term sum
    # (same left-associated IEEE order — bit-equality test-pinned in
    # tests/test_curation2_opt.py; try_element_at keeps NULL-on-short).
    # A/B: ann_ivf_pq 2.54 -> 2.11 s, ann_pq_rerank 2.61 -> 2.49 s.
    "ann_ivf_pq": 14,
    "ann_pq_rerank": 14,
    # r14: kmv's union-sketch eager checkpoint is gone — its three
    # consumers live in ONE job whose identical window exchanges dedupe
    # via ReusedExchange, so the materialization only serialized an
    # extra job (A/B 2.75 -> 2.2-2.4 s). Values identical.
    "kmv_user_day_overlap": 14,
    # r14: remove_duplicate_spans drops the r13 token-table checkpoint
    # (single consumer — the eager materialization only serialized an
    # extra job; A/B 3.06 -> 2.54 s). Values identical.
    "remove_duplicate_spans": 14,
    # r14: etl_checkpoint_resume's fetch parallelism is capped at the
    # batch's key count (was defaultParallelism empty-worker spin-up)
    # and the etl_state repository moved to driver-local pyarrow IO
    # (same parquet layout; ~10 cluster jobs gone). Values identical.
    "etl_checkpoint_resume": 14,
}


def _ledger_split(
    greens: dict[str, int], stale: dict[str, int]
) -> tuple[list[str], list[str]]:
    """Partition ``stale`` into (self-cleared, still-stale) given the
    latest driver-green round per query.  An entry is self-cleared —
    i.e. the driver re-greened the query at or after the round its code
    changed, so the green row vouches for the current code — when
    ``greens[name] >= stale[name]``.  Pure so tests can exercise the
    post-driver-lands state without a real CORRECTNESS file."""
    cleared = sorted(n for n, rnd in stale.items() if greens.get(n, -1) >= rnd)
    live = sorted(n for n, rnd in stale.items() if greens.get(n, -1) < rnd)
    return cleared, live


def _green_rounds() -> dict[str, int]:
    """Latest round in which each query got a fully-green driver row."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict) or row.get("err"):
                continue
            rows_ok = row.get("rows_match")
            if rows_ok is None:  # rows-only query: weaker gate, no match cols
                rows_ok = row.get("spark_rows") is not None
            if rows_ok and row.get("hash_match") is not False:
                last[name] = max(last.get(name, rnd), rnd)
    return last


def _effective_green() -> dict[str, int]:
    """Green rounds that still vouch for the CURRENT code of each query."""
    return {
        n: r
        for n, r in _green_rounds().items()
        if r >= _STALE_SINCE.get(n, -1)
    }


def _rotated(names: list[str]) -> list[str]:
    green = _effective_green()
    # FIRST occurrence wins: a query re-listed in a later round's block
    # (for narrative grouping) must not silently demote its head-of-list
    # rank — the list reads top-down as the effective priority
    pri: dict[str, int] = {}
    for i, n in enumerate(_PRIORITY):
        pri.setdefault(n, i)
    fallback = len(_PRIORITY)
    return sorted(
        names,
        key=lambda n: (green.get(n, -1), pri.get(n, fallback), names.index(n)),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    out.update(ANALYTICS_QUERIES)
    out.update(ANALYTICS2_QUERIES)
    out.update(ETL_QUERIES)
    out.update(EXTENSION_QUERIES)
    out.update(EXTRAS_QUERIES)
    out.update(STREAMING_QUERIES)
    out.update(TPCH_QUERIES)
    out.update(BEHAVIOR_QUERIES)
    out.update(TPCH2_QUERIES)
    out.update(TRAINING_QUERIES)
    out.update(ANALYTICS3_QUERIES)
    out.update(VECTOR_ANALYTICS_QUERIES)
    out.update(ANALYTICS4_QUERIES)
    out.update(TPCH3_QUERIES)
    out.update(ANALYTICS5_QUERIES)
    out.update(TPCH4_QUERIES)
    out.update(ANALYTICS6_QUERIES)
    out.update(TRAINING2_QUERIES)
    out.update(EXTENSION2_QUERIES)
    out.update(CURATION_QUERIES)
    out.update(CURATION2_QUERIES)
    out.update(TOKENIZER_QUERIES)
    out.update(CURATION3_QUERIES)
    out.update(ETL_SEAMS_QUERIES)
    out.update(CURATION4_QUERIES)
    out.update(CURATION5_QUERIES)
    out.update(CURATION6_QUERIES)
    out.update(SKETCH_QUERIES)
    out.update(SCALE_OPS_QUERIES)
    out.update(CURATION7_QUERIES)
    out.update(CURATION8_QUERIES)
    out.update(CURATION9_QUERIES)
    out.update(CURATION10_QUERIES)
    out.update(CURATION11_QUERIES)
    out.update(UNIGRAM_QUERIES)
    out.update(CURATION12_QUERIES)
    out.update(CURATION13_QUERIES)
    out.update(CURATION14_QUERIES)
    out.update(CURATION15_QUERIES)
    out.update(CURATION16_QUERIES)
    out.update(CURATION17_QUERIES)
    out.update(CURATION18_QUERIES)
    out.update(CURATION19_QUERIES)
    out.update(CURATION20_QUERIES)
    out.update(CURATION21_QUERIES)
    out.update(CURATION22_QUERIES)
    order = _rotated(list(out))
    return {name: out[name] for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted ⇒ rows-only)."""
    out: dict[str, str] = {}
    for d in (ANALYTICS_ORACLE_SQL, ANALYTICS2_ORACLE_SQL, ETL_ORACLE_SQL, EXTENSION_ORACLE_SQL, EXTRAS_ORACLE_SQL, STREAMING_ORACLE_SQL, TPCH_ORACLE_SQL, BEHAVIOR_ORACLE_SQL, TPCH2_ORACLE_SQL, TRAINING_ORACLE_SQL, ANALYTICS3_ORACLE_SQL, VECTOR_ANALYTICS_ORACLE_SQL, ANALYTICS4_ORACLE_SQL, TPCH3_ORACLE_SQL, ANALYTICS5_ORACLE_SQL, TPCH4_ORACLE_SQL, ANALYTICS6_ORACLE_SQL, TRAINING2_ORACLE_SQL, EXTENSION2_ORACLE_SQL, CURATION_ORACLE_SQL, CURATION2_ORACLE_SQL, TOKENIZER_ORACLE_SQL, CURATION3_ORACLE_SQL, ETL_SEAMS_ORACLE_SQL, CURATION4_ORACLE_SQL, CURATION5_ORACLE_SQL, CURATION6_ORACLE_SQL, SKETCH_ORACLE_SQL, SCALE_OPS_ORACLE_SQL, CURATION7_ORACLE_SQL, CURATION8_ORACLE_SQL, CURATION9_ORACLE_SQL, CURATION10_ORACLE_SQL, CURATION11_ORACLE_SQL, UNIGRAM_ORACLE_SQL, CURATION12_ORACLE_SQL, CURATION13_ORACLE_SQL, CURATION14_ORACLE_SQL, CURATION15_ORACLE_SQL, CURATION16_ORACLE_SQL, CURATION17_ORACLE_SQL, CURATION18_ORACLE_SQL, CURATION19_ORACLE_SQL, CURATION20_ORACLE_SQL, CURATION21_ORACLE_SQL, CURATION22_ORACLE_SQL):
        out.update({k: v for k, v in d.items() if v})
    return out
