"""Round-12 ingestion additions: the two remaining file-format gaps
from the r11 VERDICT list.

``avro_complex_scan_stats`` — Avro NON-SCALAR types (VERDICT task 6):
one Object Container File per 50-doc shard whose schema nests an
ENUM (zigzag-varint symbol index), a FIXED(8) digest, a MAP of longs,
and an ARRAY OF RECORDS, encoded and decoded by the pure-stdlib wire
codec in ``operators/avro.py`` (this environment ships no spark-avro
jar — see that module's header).  The block codec rotates by shard
mod 3 (r13: ``deflate`` / ``null`` / ``snappy`` — the pure-stdlib
snappy codec in ``operators/snappy.py`` with the Avro spec's per-block
CRC32 trailer) so all three implemented codecs stay covered.  Every
output column is read from the DECODE, so a one-byte drift anywhere
in the nested layout breaks the row.  Zstandard stays out (no stdlib
binding) — boundary stated in the codec module.

``xml_scan_reject_split`` — XML ingestion (VERDICT task 8, the last
common format with zero coverage; no spark-xml in this environment).
The dataset is LINE-DELIMITED XML FRAGMENTS (one ``<url>`` element
per line — the streamable "XML lines" form a sitemap/RSS feed
producer ships), written once per documents version to scratch with
Spark-native column expressions and read back through
``spark.read.format("binaryFile")`` + an Arrow-batched rowTag scan:
fragments are delimited by the ``<url …</url>`` rowTag (exactly
spark-xml's recovery unit) and each parses independently through
stdlib ``xml.etree`` — entity unescaping included — with the same
typed reject posture as the CSV/JSON scans (``plans/curation18.py``):
rows with ``doc_id % 13 == 5`` carry a mismatched inner close tag,
fail the fragment parse, and land in the reject lane WITH diagnostics
(id + raw-fragment md5), never silently dropped.

Scale notes: the Avro pass is one applyInPandas per shard (the shape
of a real per-file writer/reader, same as ``avro_scan_stats``); the
XML scan's split unit is the FILE (binaryFile is not splittable —
spark-xml has the same record-boundary constraint), so at 100 TB this
path wants many medium files from the producer; fragments never span
files by construction.  Parsing itself is a map-only Arrow pass.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table, spread_for_python
from .etl_seams import _memo, _scratch

CURATION21_QUERIES: dict = {}
CURATION21_ORACLE_SQL: dict = {}


# ---------------------------------------------------------------------------
# avro_complex_scan_stats
# ---------------------------------------------------------------------------

_AVROC_SHARD = 50
_AVROC_BLOCK = 16
_AVROC_QUALITY = ["LOW", "MED", "HIGH"]
_AVROC_SCHEMA = {
    "type": "record",
    "name": "doc",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "quality",
         "type": {"type": "enum", "name": "Quality",
                  "symbols": _AVROC_QUALITY}},
        {"name": "digest",
         "type": {"type": "fixed", "name": "Digest8", "size": 8}},
        {"name": "tags", "type": {"type": "map", "values": "long"}},
        {"name": "spans",
         "type": {"type": "array",
                  "items": {"type": "record", "name": "Span",
                            "fields": [{"name": "start", "type": "long"},
                                       {"name": "len", "type": "long"}]}}},
    ],
}


def avro_complex_scan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.avro import build_avro, read_avro

    def per_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import hashlib

        shard = int(pdf["shard"].iloc[0])
        codec = ("deflate", "null", "snappy")[shard % 3]
        recs = []
        for r in pdf.sort_values("doc_id").itertuples():
            d = int(r.doc_id)
            recs.append({
                "doc_id": d,
                "quality": _AVROC_QUALITY[d % 3],
                "digest": hashlib.md5(
                    str(r.text).encode("utf-8")
                ).digest()[:8],
                "tags": {"len": int(r.n_chars), "mod": d % 7},
                "spans": [
                    {"start": i * 7, "len": i + 1} for i in range(d % 4)
                ],
            })
        payload = build_avro(
            _AVROC_SCHEMA, recs, codec=codec, block_records=_AVROC_BLOCK
        )
        got = read_avro(payload)
        rows = [
            (
                rec["doc_id"],
                rec["quality"],
                rec["digest"].hex(),
                rec["tags"]["len"],
                rec["tags"]["mod"],
                len(rec["spans"]),
                sum(s["start"] + s["len"] for s in rec["spans"]),
                got["codec"],
                len(got["records"]),
                got["n_blocks"],
            )
            for rec in got["records"]
        ]
        return pd.DataFrame(
            rows,
            columns=["doc_id", "quality", "digest_hex", "tag_len",
                     "tag_mod", "n_spans", "span_sum", "codec",
                     "shard_docs", "shard_blocks"],
        )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars",
        (F.col("doc_id") / _AVROC_SHARD).cast("long").alias("shard"),
    )
    return docs.groupBy("shard").applyInPandas(
        per_shard,
        "doc_id BIGINT, quality STRING, digest_hex STRING, tag_len BIGINT, "
        "tag_mod BIGINT, n_spans BIGINT, span_sum BIGINT, codec STRING, "
        "shard_docs BIGINT, shard_blocks BIGINT",
    )


# span_sum closed form: sum_{i=0}^{n-1} (7i + i + 1) = 4n(n-1) + n
AVRO_COMPLEX_SCAN_STATS_SQL = f"""
WITH s AS (
  SELECT doc_id, text, n_chars,
         CAST(floor(doc_id / {_AVROC_SHARD}) AS BIGINT) AS shard
  FROM documents
),
per AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY shard)
SELECT d.doc_id,
       CASE d.doc_id % 3 WHEN 0 THEN 'LOW' WHEN 1 THEN 'MED'
            ELSE 'HIGH' END AS quality,
       substr(md5(d.text), 1, 16) AS digest_hex,
       CAST(d.n_chars AS BIGINT) AS tag_len,
       CAST(d.doc_id % 7 AS BIGINT) AS tag_mod,
       CAST(d.doc_id % 4 AS BIGINT) AS n_spans,
       CAST(4 * (d.doc_id % 4) * ((d.doc_id % 4) - 1)
            + (d.doc_id % 4) AS BIGINT) AS span_sum,
       CASE d.shard % 3 WHEN 0 THEN 'deflate' WHEN 1 THEN 'null'
            ELSE 'snappy' END AS codec,
       p.n AS shard_docs,
       CAST(ceil(p.n / {_AVROC_BLOCK}.0) AS BIGINT) AS shard_blocks
FROM s d JOIN per p USING (shard)
"""

CURATION21_QUERIES["avro_complex_scan_stats"] = avro_complex_scan_stats
CURATION21_ORACLE_SQL["avro_complex_scan_stats"] = (
    AVRO_COMPLEX_SCAN_STATS_SQL
)


# ---------------------------------------------------------------------------
# xml_scan_reject_split
# ---------------------------------------------------------------------------

# the <note> payload: a hex digest prefix (XML-safe, pins identity),
# then a CONSTANT specials run that must survive escape -> unescape,
# then the lang code.  Variable parts are XML-safe by construction, so
# the writer's escaping is exactly this constant swap.
_XML_NOTE_RAW_SQL = "substr(md5(text), 1, 16) || ' <&> ' || lang"
_XML_NOTE_ESC_SQL = "substr(md5(text), 1, 16) || ' &lt;&amp;&gt; ' || lang"


def _write_xml_dataset(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the fragment lines once per documents version: one
    ``<url>`` element per physical line; rows with doc_id % 13 == 5
    carry ``</lo>`` for ``</loc>`` (a mismatched close tag — the
    fragment boundary stays findable, the inner parse fails)."""
    path = os.path.join(
        _scratch(spark), "xml-" + sf_dir.strip("/").replace("/", "_")
    )

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
        did = F.col("doc_id").cast("string")
        loc = F.concat(
            F.lit("https://site"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".example/doc"), did,
        )
        note_esc = F.concat(
            F.substring(F.md5(F.col("text").cast("binary")), 1, 16),
            F.lit(" &lt;&amp;&gt; "), F.col("lang"),
        )
        close = F.when(
            F.col("doc_id") % 13 == 5, F.lit("</lo>")
        ).otherwise(F.lit("</loc>"))
        frag = F.concat(
            F.lit('<url id="'), did, F.lit('"><loc>'), loc, close,
            F.lit("<lang>"), F.col("lang"), F.lit("</lang><note>"),
            note_esc, F.lit("</note></url>"),
        )
        docs.select(frag.alias("value")).write.mode("overwrite").text(path)
        return spark.range(1)  # memo sentinel: the side effect ran

    _memo(spark, sf_dir, "xmlwrite", ["documents"], build)
    return path


def xml_scan_reject_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _write_xml_dataset(spark, sf_dir)
    # binaryFile packs small files into few partitions (measured: 32
    # files -> 2 tasks at sf1), capping the parse stage; spread the
    # per-FILE rows so every core parses (no-op at production file
    # sizes, same trap/fix as the codec family — catalog.py:122)
    files = spread_for_python(
        spark.read.format("binaryFile").load(path).select("content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import re
        import xml.etree.ElementTree as ET

        frag_re = re.compile(rb"<url\b.*?</url>", re.S)
        id_re = re.compile(rb'id="(\d+)"')
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                for frag in frag_re.findall(bytes(content)):
                    m = id_re.search(frag)
                    if m is None:  # rowTag without an id: still quarantined
                        rows.append((None, "rejected", None, None,
                                     hashlib.md5(frag).hexdigest()))
                        continue
                    d = int(m.group(1))
                    digest = hashlib.md5(frag).hexdigest()
                    try:
                        el = ET.fromstring(frag.decode("utf-8"))
                        rows.append((d, "ok", el.findtext("loc"),
                                     el.findtext("note"), digest))
                    except ET.ParseError:
                        rows.append((d, "rejected", None, None, digest))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "status", "loc", "note", "frag_md5"],
            )

    return files.mapInPandas(
        run,
        "doc_id BIGINT, status STRING, loc STRING, note STRING, "
        "frag_md5 STRING",
    )


XML_SCAN_REJECT_SPLIT_SQL = f"""
WITH base AS (
  SELECT doc_id, lang,
         {_XML_NOTE_ESC_SQL} AS note_esc,
         {_XML_NOTE_RAW_SQL} AS note_raw,
         'https://site' || CAST(doc_id % 50 AS VARCHAR) || '.example/doc'
             || CAST(doc_id AS VARCHAR) AS loc,
         doc_id % 13 = 5 AS bad
  FROM documents
),
frags AS (
  SELECT doc_id, loc, note_raw, bad,
         '<url id="' || CAST(doc_id AS VARCHAR) || '"><loc>' || loc
         || CASE WHEN bad THEN '</lo>' ELSE '</loc>' END
         || '<lang>' || lang || '</lang><note>' || note_esc
         || '</note></url>' AS frag
  FROM base
)
SELECT doc_id,
       CASE WHEN bad THEN 'rejected' ELSE 'ok' END AS status,
       CASE WHEN bad THEN NULL ELSE loc END AS loc,
       CASE WHEN bad THEN NULL ELSE note_raw END AS note,
       md5(frag) AS frag_md5
FROM frags
"""

CURATION21_QUERIES["xml_scan_reject_split"] = xml_scan_reject_split
CURATION21_ORACLE_SQL["xml_scan_reject_split"] = XML_SCAN_REJECT_SPLIT_SQL
