"""Round-11 ingestion additions: FILE-FORMAT SCANS — the messy-CSV
ingest the r10 VERDICT named as the registry's biggest real-world gap
(the reference's only interchange format is JSON,
``dags/who_gho_etl_dag.py:94-96``; CSV is what users actually ship),
plus an ORC round-trip proving the columnar path beyond parquet.

All three CSV/ORC datasets are synthesized deterministically from the
``documents`` fixture with Spark-native column expressions, written
once per documents version to scratch (the ``etl_seams`` memo pattern), and
read back through Spark's REAL readers — ``spark.read.csv`` /
``spark.read.orc`` — so the JVM parser, not a Python re-implementation,
is what the oracle checks.

``csv_scan_stats`` — RFC 4180 single-line records with embedded
commas, quotes, and doubled-quote escapes in a quoted field; rows with
``doc_id % 13 == 5`` are corrupted (non-numeric id) and must be
EXCLUDED by the typed PERMISSIVE scan.  Splittable (no embedded
newlines, ``multiLine=false``) — the 100 TB fast path.

``csv_reject_split`` — the V2 validate/reject posture on the same
dataset: corrupt rows land in ``_corrupt_record`` CARRYING THE WHOLE
RAW LINE (quarantine with diagnostics, reference
``etl/validate.py:36-67``'s reject split re-expressed on a file scan);
the query re-extracts the id from the raw line and pins the full
record bytes by md5.

``csv_multiline_stats`` — quoted fields spanning physical lines
(``multiLine=true``).  Scale note, stated honestly: multiLine CSV is
NOT splittable (one file = one task), so at 100 TB this path demands
many small-ish files from the upstream producer; the splittable
single-line variant above is the default recommendation.

``orc_roundtrip_stats`` — documents written to ORC and re-read with a
filter + narrow projection; the pytest pins predicate pushdown into
the ORC scan (``PushedFilters``), mirroring the parquet plan tests.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .etl_seams import _memo, _scratch

CURATION18_QUERIES: dict = {}
CURATION18_ORACLE_SQL: dict = {}

# The payload injected into the quoted CSV field: embedded comma,
# embedded (escaped) quotes, and a trailing tail — one character of
# parser drift anywhere breaks the md5 parity with the oracle.
_CSV_TAIL = '" tail'


def _csv_payload_col() -> F.Column:
    """text || ', "' || lang || '" tail' — the messy quoted field."""
    return F.concat(
        F.col("text"), F.lit(', "'), F.col("lang"), F.lit(_CSV_TAIL)
    )


_CSV_PAYLOAD_SQL = """text || ', "' || lang || '" tail'"""

# multiline variant: the same idea with embedded NEWLINES
_ML_TAIL = ', "x"\n end'


def _ml_payload_col() -> F.Column:
    return F.concat(
        F.col("text"), F.lit("\n"), F.col("lang"), F.lit(_ML_TAIL)
    )


_ML_PAYLOAD_SQL = (
    "text || chr(10) || lang || ', \"x\"' || chr(10) || ' end'"
)


def _quote(col: F.Column) -> F.Column:
    """RFC 4180 quoting: wrap in quotes, double embedded quotes."""
    return F.concat(
        F.lit('"'), F.replace(col, F.lit('"'), F.lit('""')), F.lit('"')
    )


def _write_csv_dataset(spark: SparkSession, sf_dir: str, name: str,
                       payload: F.Column) -> str:
    """Materialize the messy CSV once per documents version: one physical text
    line per CSV row (multiline payloads span lines naturally), rows
    with doc_id % 13 == 5 corrupted with a non-numeric id."""
    path = os.path.join(
        _scratch(spark), f"{name}-" + sf_dir.strip("/").replace("/", "_")
    )

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
        good_id = F.col("doc_id").cast("string")
        bad_id = F.concat(F.lit("x"), good_id)
        line = F.concat(
            F.when(F.col("doc_id") % 13 == 5, bad_id).otherwise(good_id),
            F.lit(","), F.col("lang"), F.lit(","), _quote(payload),
        )
        docs.select(line.alias("value")).write.mode("overwrite").text(path)
        return spark.range(1)  # memo sentinel: the side effect ran

    _memo(spark, sf_dir, f"csvwrite-{name}", ["documents"], build)
    return path


def _read_csv(spark: SparkSession, path: str, multiline: bool) -> DataFrame:
    return (
        spark.read.schema(
            "doc_id BIGINT, lang STRING, payload STRING, "
            "_corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("quote", '"')
        .option("escape", '"')  # RFC 4180 doubled-quote escaping
        .option("multiLine", "true" if multiline else "false")
        .csv(path)
    )


def _parsed_csv(spark: SparkSession, sf_dir: str, name: str,
                payload: F.Column, multiline: bool) -> DataFrame:
    """The parsed dataset, MATERIALIZED once per (documents version, variant).
    Required, not an optimization: Spark disallows queries whose
    column pruning leaves only `_corrupt_record` referenced from a raw
    CSV scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) —
    a driver-side `.count()` on the reject filter is exactly that
    shape.  Caching/saving the parse first is the documented contract
    (found live by the vanilla-session drive, not the oracle gate,
    which always references every output column)."""
    path = _write_csv_dataset(spark, sf_dir, name, payload)

    def build() -> DataFrame:
        return _read_csv(spark, path, multiline).localCheckpoint(
            eager=True
        )

    return _memo(spark, sf_dir, f"csvparse-{name}", ["documents"], build)


def csv_scan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _parsed_csv(
        spark, sf_dir, "singleline", _csv_payload_col(), multiline=False
    )
    return (
        df.filter(F.col("_corrupt_record").isNull())
        .select(
            "doc_id",
            "lang",
            F.md5(F.col("payload")).alias("text_md5"),
        )
    )


CSV_SCAN_STATS_SQL = f"""
SELECT doc_id, lang, md5({_CSV_PAYLOAD_SQL}) AS text_md5
FROM documents
WHERE doc_id % 13 <> 5
"""


def csv_reject_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _parsed_csv(
        spark, sf_dir, "singleline", _csv_payload_col(), multiline=False
    )
    return (
        df.filter(F.col("_corrupt_record").isNotNull()
                  & F.col("doc_id").isNull())
        .select(
            F.regexp_extract(F.col("_corrupt_record"), r"^x(\d+),", 1)
            .cast("bigint").alias("doc_id"),
            F.md5(F.col("_corrupt_record")).alias("raw_md5"),
            F.lit("non_numeric_id").alias("reason"),
        )
    )


CSV_REJECT_SPLIT_SQL = f"""
SELECT doc_id,
       md5('x' || CAST(doc_id AS VARCHAR) || ',' || lang || ',"' ||
           replace({_CSV_PAYLOAD_SQL}, '"', '""') || '"') AS raw_md5,
       'non_numeric_id' AS reason
FROM documents
WHERE doc_id % 13 = 5
"""


def csv_multiline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _parsed_csv(
        spark, sf_dir, "multiline", _ml_payload_col(), multiline=True
    )
    return (
        df.filter(F.col("_corrupt_record").isNull())
        .select(
            "doc_id",
            F.size(F.split(F.col("payload"), "\n", -1)).alias("n_lines"),
            F.md5(F.col("payload")).alias("text_md5"),
        )
    )


CSV_MULTILINE_STATS_SQL = f"""
SELECT doc_id,
       CAST(length({_ML_PAYLOAD_SQL})
            - length(replace({_ML_PAYLOAD_SQL}, chr(10), '')) + 1
            AS INT) AS n_lines,
       md5({_ML_PAYLOAD_SQL}) AS text_md5
FROM documents
WHERE doc_id % 13 <> 5
"""


def _orc_path(spark: SparkSession, sf_dir: str) -> str:
    path = os.path.join(_scratch(spark), "orc-" + sf_dir.strip("/").replace("/", "_"))

    def build() -> DataFrame:
        load_table(spark, sf_dir, "documents").write.mode(
            "overwrite"
        ).orc(path)
        return spark.range(1)

    _memo(spark, sf_dir, "orcwrite", ["documents"], build)
    return path


def orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + narrow projection over the ORC copy: the filter reaches
    the scan (PushedFilters — pinned in tests/test_curation18.py) and
    only 3 of 5 columns are read."""
    df = spark.read.orc(_orc_path(spark, sf_dir))
    return (
        df.filter((F.col("n_chars") >= 100) & (F.col("lang") != "zh"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


ORC_ROUNDTRIP_STATS_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
WHERE n_chars >= 100 AND lang <> 'zh'
GROUP BY lang
"""


CURATION18_QUERIES["csv_scan_stats"] = csv_scan_stats
CURATION18_ORACLE_SQL["csv_scan_stats"] = CSV_SCAN_STATS_SQL
CURATION18_QUERIES["csv_reject_split"] = csv_reject_split
CURATION18_ORACLE_SQL["csv_reject_split"] = CSV_REJECT_SPLIT_SQL
CURATION18_QUERIES["csv_multiline_stats"] = csv_multiline_stats
CURATION18_ORACLE_SQL["csv_multiline_stats"] = CSV_MULTILINE_STATS_SQL
CURATION18_QUERIES["orc_roundtrip_stats"] = orc_roundtrip_stats
CURATION18_ORACLE_SQL["orc_roundtrip_stats"] = ORC_ROUNDTRIP_STATS_SQL


# ---------------------------------------------------------------------------
# avro_scan_stats (r11 stretch) — Avro ingestion WITHOUT spark-avro
# (this environment ships no external spark-avro jar): one Avro Object
# Container File per 50-doc shard, built and decoded by the real
# wire-format codec in operators/avro.py (zigzag varints, deflate
# blocks, sync markers, null-union score field), inside a grouped
# Arrow pass — the one shuffle is the shard grouping, exactly the
# shape of a real per-file Avro writer/reader.
# ---------------------------------------------------------------------------

_AVRO_SHARD = 50
_AVRO_BLOCK = 16
_AVRO_SCHEMA = {
    "type": "record",
    "name": "doc",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "lang", "type": "string"},
        {"name": "text", "type": "string"},
        {"name": "n_chars", "type": "long"},
        {"name": "score", "type": ["null", "double"]},
    ],
}


def avro_scan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..operators.avro import build_avro, read_avro

    def per_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import hashlib

        recs = [
            {
                "doc_id": int(r.doc_id),
                "lang": str(r.lang),
                "text": str(r.text),
                "n_chars": int(r.n_chars),
                "score": None if r.doc_id % 3 == 0 else r.n_chars * 0.5,
            }
            for r in pdf.sort_values("doc_id").itertuples()
        ]
        payload = build_avro(
            _AVRO_SCHEMA, recs, codec="deflate", block_records=_AVRO_BLOCK
        )
        got = read_avro(payload)
        rows = [
            (
                rec["doc_id"],
                rec["lang"],
                hashlib.md5(rec["text"].encode("utf-8")).hexdigest(),
                rec["score"],
                len(got["records"]),
                got["n_blocks"],
            )
            for rec in got["records"]
        ]
        return pd.DataFrame(
            rows,
            columns=["doc_id", "lang", "text_md5", "score",
                     "shard_docs", "shard_blocks"],
        )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars",
        (F.col("doc_id") / _AVRO_SHARD).cast("long").alias("shard"),
    )
    return docs.groupBy("shard").applyInPandas(
        per_shard,
        "doc_id BIGINT, lang STRING, text_md5 STRING, score DOUBLE, "
        "shard_docs BIGINT, shard_blocks BIGINT",
    )


AVRO_SCAN_STATS_SQL = f"""
WITH s AS (
  SELECT doc_id, lang, text, n_chars,
         CAST(floor(doc_id / {_AVRO_SHARD}) AS BIGINT) AS shard
  FROM documents
),
per AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY shard)
SELECT d.doc_id, d.lang, md5(d.text) AS text_md5,
       CASE WHEN d.doc_id % 3 = 0 THEN NULL
            ELSE d.n_chars * 0.5 END AS score,
       p.n AS shard_docs,
       CAST(ceil(p.n / {_AVRO_BLOCK}.0) AS BIGINT) AS shard_blocks
FROM s d JOIN per p USING (shard)
"""


CURATION18_QUERIES["avro_scan_stats"] = avro_scan_stats
CURATION18_ORACLE_SQL["avro_scan_stats"] = AVRO_SCAN_STATS_SQL


# ---------------------------------------------------------------------------
# json_scan_reject_split (r11) — the same typed-PERMISSIVE reject
# posture on spark.read.json, the reference's actual interchange
# format (dags/who_gho_etl_dag.py:94-96 exchanges JSON between tasks).
# Rows with doc_id % 13 == 5 are corrupted with a truncated object
# (unbalanced brace); good rows carry an escaped-specials payload that
# must round-trip byte-exactly.  The parse is localCheckpointed like
# the CSV variant (same QUERY_ONLY_CORRUPT_RECORD_COLUMN contract).
# Output fuses both sides of the split with a status column — the V2
# validated/rejected union in one relation.
# ---------------------------------------------------------------------------


def _json_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(
        _scratch(spark), "jsonl-" + sf_dir.strip("/").replace("/", "_")
    )

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
        payload = F.concat(
            F.col("text"), F.lit(' "quoted" \\ tail '), F.col("lang")
        )
        # to_json wraps in {"p": ...}: extract just the JSON-escaped
        # string literal so the payload's quotes/backslashes are
        # encoded by Spark's own writer, not hand-rolled
        good = F.concat(
            F.lit('{"doc_id": '), F.col("doc_id").cast("string"),
            F.lit(', "lang": "'), F.col("lang"), F.lit('", "payload": '),
            F.regexp_extract(
                F.to_json(F.struct(payload.alias("p"))),
                r'^\{"p":(.*)\}$', 1,
            ),
            F.lit("}"),
        )
        bad = F.concat(  # truncated object: unbalanced brace
            F.lit('{"doc_id": '), F.col("doc_id").cast("string"),
            F.lit(', "lang": "'), F.col("lang"),
        )
        line = F.when(F.col("doc_id") % 13 == 5, bad).otherwise(good)
        docs.select(line.alias("value")).write.mode("overwrite").text(path)
        return spark.range(1)

    _memo(spark, sf_dir, "jsonlwrite", ["documents"], build)

    def parse() -> DataFrame:
        return (
            spark.read.schema(
                "doc_id BIGINT, lang STRING, payload STRING, "
                "_corrupt_record STRING"
            )
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(path)
            .localCheckpoint(eager=True)
        )

    return _memo(spark, sf_dir, "jsonlparse", ["documents"], parse)


def json_scan_reject_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _json_dataset(spark, sf_dir)
    good = df.filter(F.col("_corrupt_record").isNull()).select(
        "doc_id",
        "lang",
        F.md5(F.col("payload")).alias("payload_md5"),
        F.lit("ok").alias("status"),
    )
    bad = df.filter(
        F.col("_corrupt_record").isNotNull() & F.col("doc_id").isNull()
    ).select(
        F.regexp_extract(F.col("_corrupt_record"), r'"doc_id": (\d+),', 1)
        .cast("bigint").alias("doc_id"),
        F.regexp_extract(F.col("_corrupt_record"), r'"lang": "(\w*)$', 1)
        .alias("lang"),
        F.md5(F.col("_corrupt_record")).alias("payload_md5"),
        F.lit("rejected").alias("status"),
    )
    return good.unionByName(bad)


JSON_SCAN_REJECT_SPLIT_SQL = """
SELECT doc_id, lang,
       md5(text || ' "quoted" \\ tail ' || lang) AS payload_md5,
       'ok' AS status
FROM documents
WHERE doc_id % 13 <> 5
UNION ALL
SELECT doc_id, lang,
       md5('{"doc_id": ' || CAST(doc_id AS VARCHAR) || ', "lang": "'
           || lang) AS payload_md5,
       'rejected' AS status
FROM documents
WHERE doc_id % 13 = 5
"""


CURATION18_QUERIES["json_scan_reject_split"] = json_scan_reject_split
CURATION18_ORACLE_SQL["json_scan_reject_split"] = JSON_SCAN_REJECT_SPLIT_SQL
