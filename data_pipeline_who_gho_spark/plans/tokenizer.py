"""Tokenizer-training operators: BPE merge learning on Spark.

``bpe_learn_merges`` runs the first K iterations of byte-pair-encoding
vocabulary learning (Sennrich et al., 2016) — the tokenizer-training
step of an LLM data pipeline — as a pure DataFrame plan:

1. ONE corpus-scale shuffle builds the word-frequency table (map-side
   combined groupBy — the same plan as ``vocab_top_tokens``). This is
   the only stage that touches corpus-sized data; everything after
   operates on the compact (vocab-bounded) symbol table, which is the
   actual architecture of BPE trainers at 100 TB: you never re-scan the
   corpus per merge.
2. Each word becomes (word, freq, pos, sym) single-character symbol
   rows; per iteration the plan counts adjacent symbol pairs weighted
   by word frequency, picks the arg-max pair (ties by pair
   lexicographic order — deterministic), and applies the merge with
   LEFT-TO-RIGHT greedy non-overlapping semantics.

The greedy overlap rule (e.g. merging ('a','a') in "aaaa" produces
"aa","aa", not three overlapping pairs) is implemented without any
sequential fold: pair-start rows that overlap are by construction
CONSECUTIVE row numbers within a word (a chain requires sym[p+1] to
start a pair too), so islands of consecutive starts (rn − row_number)
with even in-island offset are exactly the greedily selected merges.
Window state never leaves the word partition.

The DuckDB oracle unrolls the same K iterations as CTE blocks from the
same constants — both engines execute the identical algorithm text.

Output: one row per learned merge (step, left, right, merged,
pair_freq) — the merge table a BPE tokenizer ships with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import memo
from ..functions import text as TX
from ..sources.catalog import load_table, table_path

BPE_STEPS = 6

_CHARS_EXPR = "transform(sequence(1, length(word)), i -> substring(word, i, 1))"


def _word_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, pos, sym): corpus word frequencies exploded to
    single-character symbol rows (the BPE initial state)."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return _symbols_from_wf(wf)


def _symbols_from_wf(wf: DataFrame) -> DataFrame:
    """Explode a (word, freq) table to the BPE initial symbol state —
    injectable seam so pathological vocabularies (self-overlapping
    pairs like 'aaaa') can drive ``_merge_step`` directly in tests."""
    return wf.select(
        "word", "freq", F.posexplode(F.expr(_CHARS_EXPR)).alias("pos", "sym")
    )


def _merge_step(state: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One BPE iteration: returns (best-merge row, merged symbol state)."""
    w = Window.partitionBy("word").orderBy("pos")
    st = state.withColumn("nxt", F.lead("sym").over(w)).withColumn(
        "rn", F.row_number().over(w)
    )
    best = (
        st.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("left"), F.col("nxt").alias("right"))
        .agg(F.sum("freq").alias("pair_freq"))
        .orderBy(F.desc("pair_freq"), "left", "right")
        .limit(1)
    )
    marked = st.crossJoin(
        F.broadcast(
            best.select(
                F.col("left").alias("best_a"), F.col("right").alias("best_b")
            )
        )
    ).withColumn(
        "pair_start",
        (F.col("sym") == F.col("best_a")) & (F.col("nxt") == F.col("best_b")),
    )
    # greedy L→R non-overlap: islands of consecutive pair-start rows,
    # keep even in-island offsets
    w_rn = Window.partitionBy("word").orderBy("rn")
    starts = (
        marked.filter("pair_start")
        .withColumn("isl", F.col("rn") - F.row_number().over(w_rn))
        .withColumn(
            "off",
            F.row_number().over(Window.partitionBy("word", "isl").orderBy("rn")) - 1,
        )
        .filter(F.col("off") % 2 == 0)
        .select("word", "rn", F.lit(True).alias("sel"))
    )
    st2 = marked.join(starts, ["word", "rn"], "left")
    st2 = st2.withColumn(
        "consumed", F.coalesce(F.lag("sel").over(w_rn), F.lit(False))
    )
    new_state = st2.filter(~F.col("consumed")).select(
        "word",
        "freq",
        F.col("rn").alias("pos"),
        F.when(F.col("sel"), F.concat("best_a", "best_b"))
        .otherwise(F.col("sym"))
        .alias("sym"),
    )
    return best, new_state


def _learn(spark: SparkSession, sf_dir: str) -> tuple[list[DataFrame], DataFrame]:
    """Learned (merge DataFrames, final symbol state), memoized on the
    corpus version: both registered queries consume the same K
    checkpointed iterations."""

    def build() -> tuple[list[DataFrame], DataFrame]:
        state = _word_symbols(spark, sf_dir)
        merges: list[DataFrame] = []
        for _ in range(BPE_STEPS):
            best, state = _merge_step(state)
            # truncate the iterative lineage: state_k references both
            # best_k and state_{k-1}, so the unrolled logical plan
            # doubles per step (2^K subtrees by step K). The
            # vocab-bounded state is tiny — materialize it per
            # iteration, exactly like the connected-components loop
            # (operators/components.py). best's checkpoint is lazy: it
            # materializes as a side effect of state's eager job (one
            # job per iteration instead of two) and is then served from
            # blocks to downstream consumers.
            best = best.localCheckpoint(eager=False)
            state = state.localCheckpoint(eager=True)
            merges.append(best)
        return merges, state

    return memo(spark, "bpe_learn", [table_path(sf_dir, "documents")], build, sf_dir)


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First K=6 BPE merges learned from the corpus word-frequency
    table. See module docstring for the plan shape; the corpus is
    scanned exactly once."""
    merges, _ = _learn(spark, sf_dir)
    rows = [
        best.select(
            F.lit(k).alias("step"),
            "left",
            "right",
            F.concat("left", "right").alias("merged"),
            "pair_freq",
        )
        for k, best in enumerate(merges, start=1)
    ]
    out = rows[0]
    for m in rows[1:]:
        out = out.unionByName(m)
    return out.orderBy("step")


def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus under the learned BPE vocabulary: per-doc
    word and BPE-token counts (the sequence-length accounting a packing
    / curriculum stage consumes). ALL merge application happens on the
    vocab-bounded symbol table — a word's token count under the merge
    table is a property of the word, so the corpus-scale stage is just
    a broadcast join of (word → symbol count) onto exploded doc words
    plus one partial-agg'd doc_id aggregate. No document text is ever
    re-processed per merge; that is the production shape of distributed
    tokenization under a trained tokenizer."""
    _, state = _learn(spark, sf_dir)
    word_len = state.groupBy("word").agg(F.count(F.lit(1)).alias("n_bpe"))
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("word")
    ).filter(F.length("word") > 0)
    return (
        words.join(F.broadcast(word_len), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_bpe").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document to its BPE token SEQUENCE under the
    learned merges: rows (doc_id, seq_pos, token), ordered by word
    position then symbol position within the word — the actual trainer
    input surface. Merge application stays on the vocab-bounded symbol
    table (a word's symbol sequence is a property of the word); the
    corpus-scale stage is one broadcast join of word → ordered symbols
    onto position-exploded doc words plus a PER-DOC sequence window
    (bounded by document length — never a corpus-global sort)."""
    _, state = _learn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("wpos", "word")
    ).filter(F.length("word") > 0)
    enc = words.join(
        F.broadcast(state.select("word", F.col("pos").alias("spos"), "sym")),
        "word",
    )
    w = Window.partitionBy("doc_id").orderBy("wpos", "spos")
    return enc.select(
        "doc_id",
        F.row_number().over(w).alias("seq_pos"),
        F.col("sym").alias("token"),
    ).orderBy("doc_id", "seq_pos")


def bpe_encode_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-registerable form of ``bpe_encode``: per-doc token count
    + md5 of the space-joined token sequence — compact, hashable proof
    of the exact encoding (the clean_fp pattern of
    remove_duplicate_spans) instead of corpus-sized sequence rows
    through the harness."""
    _, state = _learn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("wpos", "word")
    ).filter(F.length("word") > 0)
    enc = words.join(
        F.broadcast(state.select("word", F.col("pos").alias("spos"), "sym")),
        "word",
    )
    per_doc = enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("wpos", "spos", "sym"))),
                    lambda s: s["sym"],
                ),
                " ",
            )
        ).alias("encoding_fp"),
    )
    # every-doc contract: token-less docs (empty text) report 0 + the
    # empty-sequence fingerprint
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("encoding_fp", F.md5(F.lit(""))).alias("encoding_fp"),
        )
        .orderBy("doc_id")
    )


def bpe_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the encode/decode loop a training pipeline ships: decode
    every document's BPE token sequence back to text and pin it against
    the pre-tokenization normalized text (trim+lower+whitespace
    collapse — exactly what the tokenizer saw).

    Decoding consumes only the FLAT encoded stream — (seq order, token,
    word_end flag) — not the word table: tokens concatenate within a
    word and a space is emitted after each word-final token, which is
    the ``</w>``-marker convention of shipped BPE decoders. word_end is
    derived in-stream (next token belongs to a different word), so the
    corpus-scale stage stays one broadcast join + one per-doc bounded
    window + one doc-grain aggregate. Every doc reports: empty docs
    decode to '' and trivially round-trip."""
    _, state = _learn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("wpos", "word")
    ).filter(F.length("word") > 0)
    enc = words.join(
        F.broadcast(state.select("word", F.col("pos").alias("spos"), "sym")),
        "word",
    )
    w = Window.partitionBy("doc_id").orderBy("wpos", "spos")
    flagged = enc.withColumn("nwpos", F.lead("wpos").over(w)).withColumn(
        "piece",
        F.concat(
            F.col("sym"),
            F.when(
                F.col("nwpos").isNull() | (F.col("nwpos") != F.col("wpos")),
                F.lit(" "),
            ).otherwise(F.lit("")),
        ),
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.md5(
            F.rtrim(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("wpos", "spos", "piece"))
                        ),
                        lambda s: s["piece"],
                    ),
                    "",
                )
            )
        ).alias("decoded_fp"),
    )
    norm_fp = F.md5(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "))
    return (
        docs.select("doc_id", norm_fp.alias("norm_fp"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("decoded_fp", F.md5(F.lit(""))).alias("decoded_fp"),
            (F.coalesce("decoded_fp", F.md5(F.lit(""))) == F.col("norm_fp")).alias(
                "roundtrip_ok"
            ),
        )
        .orderBy("doc_id")
    )


def bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's third shipped artifact (merges → encode →
    VOCAB): every symbol in the post-merge state with its corpus
    occurrence count (Σ word_freq over occurrences) and a
    DETERMINISTIC integer token_id — rank by (count desc, symbol), the
    conventional frequency-ordered id assignment, computed with the
    scale-safe global rank (the vocab is bounded, but the shape stays
    window-free on principle). Registration queued with
    ``bpe_encode_fingerprint`` for the next driver window."""
    from ..operators.rank import global_rank

    _, state = _learn(spark, sf_dir)
    counts = state.groupBy("sym").agg(
        F.sum("freq").cast("long").alias("n_occurrences")
    )
    neg = counts.select(
        "sym", "n_occurrences", (-F.col("n_occurrences")).alias("neg")
    )
    ranked = global_rank(neg, ["neg", "sym"], rank_col="token_id")
    return ranked.select(
        "token_id", F.col("sym").alias("token"), "n_occurrences"
    ).orderBy("token_id")


def _bpe_blocks() -> str:
    """The shared WITH-chain: K unrolled iterations as DuckDB CTEs."""
    blocks = [
        f"""wf AS MATERIALIZED (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
    FROM documents
  ) WHERE length(word) > 0 GROUP BY word
),
state0 AS MATERIALIZED (
  SELECT word, freq,
         generate_subscripts(list_transform(range(1, length(word) + 1),
                                            i -> substr(word, i, 1)), 1) - 1 AS pos,
         unnest(list_transform(range(1, length(word) + 1),
                               i -> substr(word, i, 1))) AS sym
  FROM wf
)"""
    ]
    for k in range(1, BPE_STEPS + 1):
        p = k - 1
        blocks.append(f"""st{k} AS MATERIALIZED (
  SELECT word, freq, pos, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt,
         row_number() OVER (PARTITION BY word ORDER BY pos) AS rn
  FROM state{p}
),
best{k} AS MATERIALIZED (
  SELECT sym AS left_s, nxt AS right_s, CAST(SUM(freq) AS BIGINT) AS pair_freq
  FROM st{k} WHERE nxt IS NOT NULL
  GROUP BY sym, nxt
  ORDER BY pair_freq DESC, left_s, right_s LIMIT 1
),
marked{k} AS MATERIALIZED (
  SELECT s.*, b.left_s AS best_a, b.right_s AS best_b,
         s.sym = b.left_s AND s.nxt = b.right_s AS pair_start
  FROM st{k} s CROSS JOIN best{k} b
),
starts{k} AS MATERIALIZED (
  SELECT word, rn, TRUE AS sel FROM (
    SELECT word, rn,
           row_number() OVER (PARTITION BY word, isl ORDER BY rn) - 1 AS off
    FROM (
      SELECT word, rn,
             rn - row_number() OVER (PARTITION BY word ORDER BY rn) AS isl
      FROM marked{k} WHERE pair_start
    )
  ) WHERE off % 2 = 0
),
state{k} AS MATERIALIZED (
  SELECT word, freq, rn AS pos,
         CASE WHEN sel THEN best_a || best_b ELSE sym END AS sym
  FROM (
    SELECT m.word, m.freq, m.rn, m.sym, m.best_a, m.best_b, s.sel,
           coalesce(lag(s.sel) OVER (PARTITION BY m.word ORDER BY m.rn),
                    FALSE) AS consumed
    FROM marked{k} m LEFT JOIN starts{k} s ON m.word = s.word AND m.rn = s.rn
  ) WHERE NOT consumed
)""")
    return "WITH " + ",\n".join(blocks)


def _bpe_merges_sql() -> str:
    finals = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, left_s AS \"left\", right_s AS \"right\", "
        f"left_s || right_s AS merged, pair_freq FROM best{k}"
        for k in range(1, BPE_STEPS + 1)
    )
    return _bpe_blocks() + "\nSELECT * FROM (\n" + finals + "\n) ORDER BY step"


def _bpe_token_counts_sql() -> str:
    return f"""{_bpe_blocks()},
word_len AS MATERIALIZED (
  SELECT word, COUNT(*) AS n_bpe FROM state{BPE_STEPS} GROUP BY word
),
doc_words AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
  FROM documents
)
SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens
FROM doc_words JOIN word_len USING (word)
WHERE length(word) > 0
GROUP BY doc_id ORDER BY doc_id
"""


def _bpe_encode_fp_sql() -> str:
    """Oracle twin of ``bpe_encode_fingerprint`` (registration queued
    for the next driver window — the current one is full)."""
    return f"""{_bpe_blocks()},
doc_words AS (
  SELECT doc_id,
         generate_subscripts(regexp_split_to_array(trim(lower(text)), '\\s+'), 1) AS wpos,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
  FROM documents
),
enc AS (
  SELECT d.doc_id, d.wpos, s.pos AS spos, s.sym
  FROM doc_words d JOIN state{BPE_STEPS} s USING (word)
  WHERE length(d.word) > 0
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         md5(string_agg(sym, ' ' ORDER BY wpos, spos)) AS encoding_fp
  FROM enc GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.encoding_fp, md5('')) AS encoding_fp
FROM (SELECT doc_id FROM documents) d
LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


def _bpe_decode_roundtrip_sql() -> str:
    return f"""{_bpe_blocks()},
doc_words AS (
  SELECT doc_id,
         generate_subscripts(regexp_split_to_array(trim(lower(text)), '\\s+'), 1) AS wpos,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
  FROM documents
),
enc AS (
  SELECT d.doc_id, d.wpos, s.pos AS spos, s.sym
  FROM doc_words d JOIN state{BPE_STEPS} s USING (word)
  WHERE length(d.word) > 0
),
flagged AS (
  SELECT doc_id, wpos, spos,
         sym || CASE WHEN lead(wpos) OVER (PARTITION BY doc_id
                                           ORDER BY wpos, spos) IS DISTINCT FROM wpos
                     THEN ' ' ELSE '' END AS piece
  FROM enc
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         md5(rtrim(string_agg(piece, '' ORDER BY wpos, spos))) AS decoded_fp
  FROM flagged GROUP BY doc_id
),
norm AS (
  SELECT doc_id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS norm_fp
  FROM documents
)
SELECT n.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.decoded_fp, md5('')) AS decoded_fp,
       COALESCE(p.decoded_fp, md5('')) = n.norm_fp AS roundtrip_ok
FROM norm n
LEFT JOIN per_doc p USING (doc_id)
ORDER BY n.doc_id
"""


def _bpe_vocab_sql() -> str:
    return f"""{_bpe_blocks()},
vocab AS (
  SELECT sym, CAST(SUM(freq) AS BIGINT) AS n_occurrences
  FROM state{BPE_STEPS} GROUP BY sym
)
SELECT row_number() OVER (ORDER BY n_occurrences DESC, sym) AS token_id,
       sym AS token, n_occurrences
FROM vocab ORDER BY token_id
"""


BPE_LEARN_MERGES_SQL = _bpe_merges_sql()
BPE_TOKEN_COUNTS_SQL = _bpe_token_counts_sql()
BPE_ENCODE_FINGERPRINT_SQL = _bpe_encode_fp_sql()
BPE_VOCAB_SQL = _bpe_vocab_sql()
BPE_DECODE_ROUNDTRIP_SQL = _bpe_decode_roundtrip_sql()


TOKENIZER_QUERIES = {
    "bpe_learn_merges": bpe_learn_merges,
    "bpe_token_counts": bpe_token_counts,
    "bpe_encode_fingerprint": bpe_encode_fingerprint,
    "bpe_vocab": bpe_vocab,
    "bpe_decode_roundtrip": bpe_decode_roundtrip,
}

TOKENIZER_ORACLE_SQL = {
    "bpe_learn_merges": BPE_LEARN_MERGES_SQL,
    "bpe_token_counts": BPE_TOKEN_COUNTS_SQL,
    "bpe_encode_fingerprint": BPE_ENCODE_FINGERPRINT_SQL,
    "bpe_vocab": BPE_VOCAB_SQL,
    "bpe_decode_roundtrip": BPE_DECODE_ROUNDTRIP_SQL,
}
