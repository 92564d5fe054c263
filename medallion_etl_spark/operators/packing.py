"""Sequence packing: map documents to fixed-budget training chunks —
the batch-construction step a pretraining run applies after curation.

Semantics implemented: CONCAT-AND-CUT (the GPT-2/3 recipe): per pack
key, documents are concatenated in deterministic (doc_id) order into
one token stream that is cut every ``TOKEN_BUDGET`` tokens; a document
belongs to the chunk where its first token lands (long docs simply
straddle into the following chunks — nothing is dropped or padded).
This has an exact closed form over a running prefix sum:

    chunk_seq = floor(tokens_before_doc / budget)

so the whole operator is ONE window pass (hash exchange on the pack
key + per-key sort), JVM-only expressions, no UDF and no driver state
— the same plan shape as sessionization, with the same 100-TB
survival argument. The alternative semantics — greedy FIRST-FIT
packing without splitting docs — is a sequential recurrence with
resets (bin totals restart when a doc would overflow) that has NO
prefix-sum closed form; expressing it would need a per-partition
stateful scan (row-at-a-time state), which this engine deliberately
reserves for Arrow-batched paths (see CLAUDE.md's no-per-row-Python
invariant). Concat-and-cut is what the published pipelines run at
scale precisely because it is shuffle+window-shaped and wastes no
tokens to padding.

Outputs a per-chunk rollup: docs starting in the chunk, their token
mass, and the straddle diagnostic (tokens a chunk's docs carry beyond
its own boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table as T
from .util import spread

TOKEN_BUDGET = 256  # tokens per packed sequence (sized so the small-SF corpora actually split)

# token-count proxy over the synthetic corpus: whitespace tokens
_N_TOK_DUCK = "len(string_split(lower(text), ' '))"


def chunk_assign(
    df: DataFrame, key_cols: list[str], order_col: str, n_tok_col: str, budget: int
) -> DataFrame:
    """Concat-and-cut chunk assignment: adds ``chunk_seq`` (0-based per
    key) and ``tok_before`` (the doc's start offset in its key's
    concatenated stream)."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before = F.sum(n_tok_col).over(w) - F.col(n_tok_col)
    return df.withColumn("tok_before", before).withColumn(
        "chunk_seq", F.floor(F.col("tok_before") / budget)
    )


def packed_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Per-chunk rollup of concat-and-cut packing over documents
    (whitespace-token proxy, per-source streams): how many docs start
    in each chunk, their token mass, and how far the last doc straddles
    past the chunk boundary."""
    docs = T(spark, sf, "documents").select(
        "doc_id", "source", F.size(F.split(F.lower("text"), " ")).alias("n_tok")
    )
    packed = chunk_assign(docs, ["source"], "doc_id", "n_tok", TOKEN_BUDGET)
    end_beyond = F.col("tok_before") + F.col("n_tok") - (F.col("chunk_seq") + 1) * TOKEN_BUDGET
    return (
        packed.groupBy("source", "chunk_seq")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("doc_tokens"),
            F.max(F.greatest(end_beyond, F.lit(0))).alias("straddle_tokens"),
        )
        .orderBy("source", "chunk_seq")
    )


PACKED_SEQUENCES_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, {_N_TOK_DUCK} AS n_tok FROM documents
), packed AS (
  SELECT source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok AS tok_before
  FROM toks
), chunks AS (
  SELECT source, n_tok, tok_before,
         CAST(FLOOR(tok_before / {TOKEN_BUDGET}) AS BIGINT) AS chunk_seq
  FROM packed
)
SELECT source, chunk_seq,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS doc_tokens,
       CAST(max(GREATEST(tok_before + n_tok - (chunk_seq + 1) * {TOKEN_BUDGET}, 0))
            AS BIGINT) AS straddle_tokens
FROM chunks
GROUP BY source, chunk_seq
ORDER BY source, chunk_seq
"""


# --------------------------------------------------------------------------
# Packed-batch MATERIALIZATION: the step after chunk assignment — emit
# the actual fixed-length token-id payload of every pack (what a
# pretraining run writes to its training shards), as an md5 digest per
# pack so the driver can value-gate it. Composes the hash-vocab
# tokenizer (repetition.py) with concat-and-cut: each doc's token
# stream is sliced across the packs it straddles, and each pack's
# payload is the tok_before-ordered concatenation of its slices. Every
# pack except a source's last carries exactly TOKEN_BUDGET tokens.
#
# Scale shape: ONE hash exchange (the per-source prefix-sum window;
# the pack group-by is clustered by a superset of the same key, so
# Catalyst reuses the partitioning — plan-pinned). Token ids ride that
# single exchange, which is the irreducible payload of batch
# materialization. The explode fan-out per doc is 1 + straddled packs
# (ceil(n_tok/budget) worst case), never quadratic. A pathologically
# hot source is sharded by generalizing the pack key to (source,
# doc_id % n_shards) — chunk_assign already takes arbitrary key_cols;
# per-source keys match the per-source shard streams published
# pipelines cut anyway.


def packed_batch_payloads(spark: SparkSession, sf: str) -> DataFrame:
    from .repetition import _token_id

    budget = TOKEN_BUDGET
    # spread: per-word md5 tokenization is the dominant compute and the
    # tiny documents table is one input split (root CLAUDE.md rule)
    docs = spread(spark, T(spark, sf, "documents"))
    words = F.filter(F.split(F.lower("text"), " "), lambda w: F.length(w) > 0)
    ids = F.transform(words, _token_id)
    # one tokenization per row: n_tok reads the projected ids, and the
    # empty-doc filter sits above the window (an empty doc adds 0 to the
    # prefix sum) so it is not pushed down onto a second tokenization
    toks = docs.select("doc_id", "source", ids.alias("ids")).select(
        "doc_id", "source", "ids", F.size("ids").alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = toks.withColumn("tok_before", F.sum("n_tok").over(w) - F.col("n_tok")).filter(
        F.col("n_tok") > 0
    )
    first_p = F.floor(F.col("tok_before") / budget)
    last_p = F.floor((F.col("tok_before") + F.col("n_tok") - 1) / budget)
    spans = pre.select(
        "source",
        "ids",
        "n_tok",
        "tok_before",
        F.explode(F.sequence(first_p, last_p)).alias("pack_id"),
    )
    lo = F.greatest(F.col("pack_id") * budget - F.col("tok_before"), F.lit(0))
    hi = F.least(
        (F.col("pack_id") + 1) * budget - F.col("tok_before"), F.col("n_tok")
    )
    piece = F.concat_ws(
        ",",
        F.transform(
            F.slice("ids", (lo + 1).cast("int"), (hi - lo).cast("int")),
            lambda x: x.cast("string"),
        ),
    )
    sliced = spans.select(
        "source",
        "pack_id",
        "tok_before",
        (hi - lo).alias("n_in_pack"),
        piece.alias("piece"),
    )
    payload = F.md5(
        F.encode(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("tok_before", "piece"))),
                    lambda x: x["piece"],
                ),
            ),
            "UTF-8",
        )
    )
    return (
        sliced.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_in_pack").alias("n_tokens"),
            payload.alias("payload_md5"),
        )
        .orderBy("source", "pack_id")
    )


def _payloads_sql() -> str:
    from .repetition import VOCAB_SIZE

    from ..functions.exprs import md5_bucket_sql

    tid = md5_bucket_sql("w", VOCAB_SIZE)
    b = TOKEN_BUDGET
    return f"""
WITH toks AS (
  SELECT doc_id, source,
         list_transform(list_filter(string_split(lower(text), ' '),
                                    w -> length(w) > 0),
                        w -> {tid}) AS ids
  FROM documents
), sized AS (
  SELECT doc_id, source, ids, len(ids) AS n_tok FROM toks WHERE len(ids) > 0
), pre AS (
  SELECT doc_id, source, ids, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok AS tok_before
  FROM sized
), spans AS (
  SELECT source, ids, n_tok, tok_before, t.p AS pack_id
  FROM pre, unnest(range(CAST(FLOOR(tok_before / {b}) AS BIGINT),
                         CAST(FLOOR((tok_before + n_tok - 1) / {b}) AS BIGINT) + 1))
       AS t(p)
), pieces AS (
  SELECT source, pack_id, tok_before,
         LEAST((pack_id + 1) * {b} - tok_before, n_tok)
           - GREATEST(pack_id * {b} - tok_before, 0) AS n_in_pack,
         array_to_string(
           ids[CAST(GREATEST(pack_id * {b} - tok_before, 0) + 1 AS BIGINT)
               :CAST(LEAST((pack_id + 1) * {b} - tok_before, n_tok) AS BIGINT)],
           ',') AS piece
  FROM spans
)
SELECT source, CAST(pack_id AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_in_pack) AS BIGINT) AS n_tokens,
       md5(string_agg(piece, ',' ORDER BY tok_before)) AS payload_md5
FROM pieces
GROUP BY source, pack_id
ORDER BY source, pack_id
"""


PACKED_BATCH_PAYLOADS_SQL = _payloads_sql()


QUERIES = {
    "packed_sequences": (packed_sequences, PACKED_SEQUENCES_SQL),
    "packed_batch_payloads": (packed_batch_payloads, PACKED_BATCH_PAYLOADS_SQL),
}
