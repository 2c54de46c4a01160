"""Scaling probe for UNREGISTERED (queued) queries.

Same protocol as tools/scaling_probe.py (warm session, best-of-2,
noop-sink force) but resolves callables from plan modules instead of
the registry, and prints a markdown row per query without touching
SCALING.json (queued queries enter the json when registered).

The round-9 queue this was written for drained fully in round 10 (all
24 registered; their post-registration rows live in SCALING.json via
tools/scaling_probe.py).  The tool remains for any future queue — pass
query names explicitly.

Usage: python tools/queue_scaling_probe.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from data_pipeline_who_gho_spark.plans import curation12, curation13
from data_pipeline_who_gho_spark.session import get_spark

SF_DIRS = {
    "0.001": "/root/testdata/sf0.001",
    "0.01": "/root/testdata/sf0.01",
    "0.1": "/root/testdata/sf0.1",
    "1": os.path.join(REPO, ".scratch", "sf1"),
}

QUEUE = [
    "jpeg420_decode_stats",
    "audio_fingerprint_neardup",
    "flac_decode_stats",
    "audio_spectral_features",
    "jpeg_progressive_decode_stats",
    "mp4_container_stats",
    "mp3_frame_stats",
    "multi_codec_roundtrip_stats",
    "mojibake_repair_stats",
    "parquet_footer_probe",
    "blocklist_match_stats",
    "warc_record_stats",
    "html_extract_stats",
    "html_boilerplate_extract",
    "video_fingerprint_neardup",
    "url_canonical_dedup",
    "robots_gate_stats",
    "sitemap_frontier_stats",
    "srt_cue_stats",
    "crawl_ingest_e2e",
    "exif_gps_strip_stats",
    "id3_metadata_stats",
    "archive_member_stats",
    "jsonl_shard_explode",
]


def _resolve(name: str):
    for mod in (curation12, curation13):
        if hasattr(mod, name):
            return getattr(mod, name)
    raise AttributeError(f"{name} not found in curation12/curation13")


def main() -> None:
    spark = get_spark(app_name="queue-scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    sfs = [sf for sf, d in SF_DIRS.items() if os.path.exists(d)]
    names = sys.argv[1:] or QUEUE
    rows = {}
    for name in names:
        fn = _resolve(name)
        rows[name] = {}
        for sf in sfs:
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                fn(spark, SF_DIRS[sf]).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.time() - t0)
            rows[name][sf] = round(best, 2)
    print("| query | " + " | ".join(f"sf{sf}" for sf in sfs) + " | sf1/sf0.001 |")
    for name, r in rows.items():
        ratio = round(r.get("1", r[sfs[-1]]) / r["0.001"], 1)
        cells = " | ".join(str(r[sf]) for sf in sfs)
        print(f"| {name} | {cells} | {ratio} |")


if __name__ == "__main__":
    main()
