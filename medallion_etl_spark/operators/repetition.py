"""Gopher-style intra-document repetition filters and corpus
vocabulary extraction — the two remaining standard pre-training
curation steps (Rae et al. 2021 "Scaling Language Models" repetition
rules; word-count tables are step one of training any BPE/unigram
vocab).

Reference parity: the reference pipeline has no text-curation layer;
these extend the training-data operator family (SURVEY.md §2 extras)
alongside operators/textops.py and curation.py.

Scale shape:

- ``doc_repetition_stats`` is pure per-row expressions (split /
  array_distinct / element_at inside whole-stage codegen) — scan
  speed, zero shuffle except the oracle-stable orderBy. The top-word
  fraction is O(V·n) per row (V = distinct words in the doc), the
  right trade at corpus scale: no explode, no groupBy, the document
  text never leaves its input split.
- ``vocab_top_words`` explodes words (small tokens, never the full
  text) into one hash aggregate with map-side partial aggregation,
  then a global top-k that plans as TakeOrderedAndProject — at 100 TB
  the shuffle carries only (word, partial-count) pairs, and the k-row
  result is the only thing that reaches the driver.

Cross-engine determinism: ratios rounded to 6 decimals; top-k ordering
is total (count desc, word asc — word is unique after the group-by).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exprs import let, md5_bucket_sql, md5_fold, md5_hex
from ..sources.readers import load_table as T
from .util import spread

# Gopher-rule thresholds (tuned for the synthetic corpus's tiny
# vocabulary — real corpora use 0.2/0.2/0.3 per the paper; the
# *contract* is the deterministic flag, not the constant).
MAX_DUP_WORD_FRAC = 0.80
MAX_DUP_2GRAM_FRAC = 0.55
MAX_TOP_WORD_FRAC = 0.12

TOP_K_WORDS = 50


def doc_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread(spark, T(spark, sf, "documents"))
    # empty tokens from repeated/leading whitespace are NOT words —
    # counting them would inflate every fraction (and '' can become the
    # "top word"); same filter the sibling operators apply
    words = F.filter(F.split(F.lower("text"), " "), lambda w: F.length(w) > 0)

    def fracs(w: F.Column) -> F.Column:
        n = F.size(w)
        dup_word_frac = F.lit(1.0) - F.size(F.array_distinct(w)) / n

        # word 2-grams via 1-based element_at over an index sequence
        grams = F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
        )
        dup_2gram_frac = F.when(
            n >= 2, F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams)
        ).otherwise(F.lit(0.0))

        # fraction of tokens equal to the doc's most frequent token:
        # count occurrences of each DISTINCT word, take the max
        top_count = F.array_max(
            F.transform(
                F.array_distinct(w),
                lambda d: F.size(F.filter(w, lambda x: x == d)),
            )
        )
        return F.struct(
            n.alias("n_words"),
            dup_word_frac.alias("dup_word_frac"),
            dup_2gram_frac.alias("dup_2gram_frac"),
            (top_count / n).alias("top_word_frac"),
        )

    # words bound once: the 2-gram and top-word lambdas read the bound
    # array, not a re-split of the text per position
    r = docs.select("doc_id", let(words, fracs).alias("r")).select("doc_id", "r.*")
    keep = (
        (F.col("dup_word_frac") <= MAX_DUP_WORD_FRAC)
        & (F.col("dup_2gram_frac") <= MAX_DUP_2GRAM_FRAC)
        & (F.col("top_word_frac") <= MAX_TOP_WORD_FRAC)
    )
    return r.select(
        "doc_id",
        "n_words",
        *[F.round(c, 6).alias(c) for c in ("dup_word_frac", "dup_2gram_frac", "top_word_frac")],
        keep.cast("boolean").alias("keep"),
    ).orderBy("doc_id")


DOC_REPETITION_STATS_SQL = f"""
WITH feats AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), w -> length(w) > 0) AS words
  FROM documents
), g AS (
  SELECT doc_id, words, len(words) AS n,
         CASE WHEN len(words) >= 2
              THEN list_transform(range(1, len(words)),
                                  i -> words[i] || ' ' || words[i+1])
              ELSE [] END AS grams
  FROM feats
), r AS (
  SELECT doc_id, n,
         1.0 - len(list_distinct(words)) / n AS dup_word_frac,
         CASE WHEN n >= 2
              THEN 1.0 - len(list_distinct(grams)) / len(grams)
              ELSE 0.0 END AS dup_2gram_frac,
         list_max(list_transform(list_distinct(words),
                                 w -> len(list_filter(words, x -> x = w)))) / n
           AS top_word_frac
  FROM g
)
SELECT doc_id, n AS n_words,
       round(dup_word_frac, 6) AS dup_word_frac,
       round(dup_2gram_frac, 6) AS dup_2gram_frac,
       round(top_word_frac, 6) AS top_word_frac,
       (dup_word_frac <= {MAX_DUP_WORD_FRAC}
        AND dup_2gram_frac <= {MAX_DUP_2GRAM_FRAC}
        AND top_word_frac <= {MAX_TOP_WORD_FRAC}) AS keep
FROM r
ORDER BY doc_id
"""


def vocab_top_words(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread(spark, T(spark, sf, "documents"))
    words = F.explode(F.split(F.lower("text"), " ")).alias("word")
    return (
        docs.select("doc_id", words)
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("word"))
        .limit(TOP_K_WORDS)
    )


VOCAB_TOP_WORDS_SQL = f"""
SELECT word,
       count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
  FROM documents
)
WHERE length(word) > 0
GROUP BY word
ORDER BY n_occurrences DESC, word ASC
LIMIT {TOP_K_WORDS}
"""


QUERIES = {
    "doc_repetition_stats": (doc_repetition_stats, DOC_REPETITION_STATS_SQL),
    "vocab_top_words": (vocab_top_words, VOCAB_TOP_WORDS_SQL),
}


# --------------------------------------------------------------------------
# Deterministic hash-vocab tokenizer: documents.text -> the engine's
# token-sequence shape (doc_id, tokens array<int>, n_tok) from
# BASELINE.json's input_hint. Real pipelines plug a learned BPE here
# (as an Arrow-batched mapInPandas, operators/multimodal.py shows the
# plumbing); the hash vocab keeps the operator pure-JVM and
# cross-engine checkable: token id = ascii arithmetic over the word's
# md5 hex (the exact trick training_mix_sample uses for its keep
# bucket), so Spark and DuckDB produce bit-identical ids.
#
# Scale shape: per-row expressions only — tokenization runs at scan
# speed inside whole-stage codegen, no shuffle, no Python. At 100 TB
# the cost is the read itself, which is the property that matters:
# tokenization is the widest fan-in stage of a training-data build.

VOCAB_SIZE = 32768


def _token_id(w: F.Column) -> F.Column:
    # md5_bucket with its digest bound once: this runs inside transform's
    # lambda, where each of the fold's five reads would hash the word again
    return let(md5_hex(w), lambda h: md5_fold(h, VOCAB_SIZE))


def tokenize_documents_raw(spark: SparkSession, sf: str) -> DataFrame:
    """The engine-shape output: raw ``tokens array<int>``. Pinned by
    tests/test_repetition.py::test_tokenize_raw_ids_are_bit_exact
    (token ids bit-equal to an independent Python md5 fold — the
    north_star invariant); the driver-paired query below emits the
    same ids joined to a string because the driver's pandas
    canonicalizer cannot sort a raw list column (r03's one red row)."""
    docs = spread(spark, T(spark, sf, "documents"))
    words = F.filter(F.split(F.lower("text"), " "), lambda w: F.length(w) > 0)
    tokens = F.transform(words, _token_id)
    # n_tok reads the projected array: one tokenization per row (plan-pinned).
    # Unsorted: callers that return rows sort their own output, and a
    # global sort here would range-shuffle every document for the
    # consumers that only count tokens (source_token_drift).
    return docs.select("doc_id", tokens.alias("tokens"), "source").select(
        "doc_id", "tokens", F.size("tokens").cast("int").alias("n_tok"), "source"
    )


def tokenize_documents(spark: SparkSession, sf: str) -> DataFrame:
    raw = tokenize_documents_raw(spark, sf)
    return raw.select(
        "doc_id",
        F.array_join("tokens", " ").alias("tokens_str"),
        "n_tok",
        "source",
    ).orderBy("doc_id")


_TOKEN_ID_SQL = md5_bucket_sql("w", VOCAB_SIZE)

TOKENIZE_DOCUMENTS_SQL = f"""
SELECT doc_id,
       array_to_string(list_transform(list_filter(string_split(lower(text), ' '),
                                                  w -> length(w) > 0),
                                      w -> {_TOKEN_ID_SQL}), ' ') AS tokens_str,
       CAST(len(list_filter(string_split(lower(text), ' '),
                            w -> length(w) > 0)) AS INT) AS n_tok,
       source
FROM documents
ORDER BY doc_id
"""

QUERIES["tokenize_documents"] = (tokenize_documents, TOKENIZE_DOCUMENTS_SQL)


# --------------------------------------------------------------------------
# Token-level n-gram decontamination: the benchmark-leak check run on
# the TOKEN-ID sequences a trainer actually consumes (the engine's
# payload shape, BASELINE.json input_hint) rather than on words. The
# distinction matters in production: tokenizer-level n-gram matching is
# what the published decontamination pipelines (GPT-3 appx C, PaLM,
# Llama) specify, because post-tokenization is the representation the
# model memorizes. Eval membership is the same deterministic 1-in-20
# rule the word-level operator uses, so the two stages are comparable.
#
# Scale shape: token n-gram windows are md5'd BEFORE the explode, so
# the shuffle carries (doc_id, fixed-width digest) pairs and the token
# arrays never move; the benchmark's distinct digest set is
# eval-suite-sized and broadcast, so the corpus side never shuffles
# for the probe — only the per-doc count aggregation exchanges, with
# map-side partial aggregation. Unlike the word-level operator this
# one emits EVERY corpus doc (left join), so zero-contamination docs
# get an explicit keep row — what a curation funnel joins against.

TOKEN_DECON_K = 8  # n-gram length in tokens (GPT-3 used 13; corpus is tiny)
TOKEN_DECON_KEEP_MAX = 0.2


def token_ngram_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark import StorageLevel

    from .util import persist_replacing

    raw = tokenize_documents_raw(spark, sf)
    n = F.col("n_tok")
    wins = F.transform(
        F.sequence(F.lit(1), n - (TOKEN_DECON_K - 1)),
        lambda i: F.md5(
            F.encode(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("tokens"), i, TOKEN_DECON_K),
                        lambda t: t.cast("string"),
                    ),
                ),
                "UTF-8",
            )
        ),
    )
    # persisted: the benchmark distinct-set and the corpus probe are
    # both built from this explode (same reason as dup_span_stats). The
    # short-doc cut sits inside an explode_outer with a NULL filter
    # above: Catalyst pushes a filter on n_tok, or the non-empty filter
    # it infers from a plain explode, below the spread, onto a second
    # tokenization (plan-pinned)
    flat = persist_replacing(
        "token_decon_ngrams",
        sf,
        raw.select("doc_id", F.explode_outer(F.when(n >= TOKEN_DECON_K, wins)).alias("g"))
        .filter(F.col("g").isNotNull()),
        StorageLevel.MEMORY_AND_DISK,
    )
    is_bench = F.col("doc_id") % 20 == 0
    bench = (
        flat.filter(is_bench).select("g").distinct().withColumn("_hit", F.lit(1))
    )
    per_doc = (
        flat.filter(~is_bench)
        .join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.count("_hit").alias("n_contaminated"),
        )
    )
    # the every-doc contract: docs shorter than K tokens carry no
    # n-gram (per_doc misses them) but the funnel still needs their
    # explicit keep row — left join from the full non-bench corpus
    base = raw.filter(~is_bench).select("doc_id")
    return (
        base.join(per_doc, "doc_id", "left")
        .withColumn("n_ngrams", F.coalesce("n_ngrams", F.lit(0).cast("long")))
        .withColumn(
            "n_contaminated", F.coalesce("n_contaminated", F.lit(0).cast("long"))
        )
        .withColumn(
            "contam_frac",
            F.when(
                F.col("n_ngrams") > 0,
                F.round(F.col("n_contaminated") / F.col("n_ngrams"), 6),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("keep", F.col("contam_frac") <= TOKEN_DECON_KEEP_MAX)
        .orderBy("doc_id")
    )


TOKEN_NGRAM_DECONTAMINATE_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split(lower(text), ' '),
                                    w -> length(w) > 0),
                        w -> {_TOKEN_ID_SQL}) AS tokens
  FROM documents
),
flat AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(tokens) - {TOKEN_DECON_K - 1}),
                               i -> md5(array_to_string(tokens[i:i+{TOKEN_DECON_K - 1}], ',')))) AS g
  FROM toks
  WHERE len(tokens) >= {TOKEN_DECON_K}
),
bench AS (SELECT DISTINCT g FROM flat WHERE doc_id % 20 = 0),
per_doc AS (
  SELECT f.doc_id,
         count(*) AS n_ngrams,
         count(b.g) AS n_contaminated
  FROM flat f LEFT JOIN bench b USING (g)
  WHERE f.doc_id % 20 <> 0
  GROUP BY f.doc_id
),
out AS (
  SELECT d.doc_id,
         CAST(COALESCE(p.n_ngrams, 0) AS BIGINT) AS n_ngrams,
         CAST(COALESCE(p.n_contaminated, 0) AS BIGINT) AS n_contaminated,
         CASE WHEN COALESCE(p.n_ngrams, 0) > 0
              THEN round(p.n_contaminated * 1.0 / p.n_ngrams, 6)
              ELSE 0.0 END AS contam_frac
  FROM documents d LEFT JOIN per_doc p USING (doc_id)
  WHERE d.doc_id % 20 <> 0
)
SELECT doc_id, n_ngrams, n_contaminated, contam_frac,
       contam_frac <= {TOKEN_DECON_KEEP_MAX} AS keep
FROM out
ORDER BY doc_id
"""

QUERIES["token_ngram_decontaminate"] = (
    token_ngram_decontaminate,
    TOKEN_NGRAM_DECONTAMINATE_SQL,
)
