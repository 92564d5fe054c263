"""Token-budget corpus selection: keep the highest-quality documents
until an N-token budget is filled.

The standard final step of a pre-training data build ("take the best
documents up to 2T tokens"). The naive formulation is a global sort by
quality score with a running token total — a single-partition window
over the whole corpus, which is exactly the plan that dies at 100 TB.
This operator computes the same selection with NO global row sort:

1. per-doc features: whitespace token count + the corpus quality score
   (bit-identical to ``doc_quality_scores``), quantized into a quality
   bucket at 1e-4 granularity → at most 10,001 buckets at ANY corpus
   size;
2. per-bucket token totals (one narrow hash agg), then a running total
   over the BUCKET table ordered by quality descending — a
   single-partition window over ≤10k rows, bounded state forever;
3. that tiny plan table (full / boundary / remaining-tokens per
   bucket) broadcasts back onto the docs: full buckets are selected
   outright; the ONE boundary bucket takes the maximal doc_id-ordered
   prefix whose token total fits the remaining budget (deterministic
   tiebreak, same rule in both engines).

Scale shape (100 TB audit): the wide ``text`` column never leaves the
scan (features project doc_id/source/counts); the only corpus-sized
shuffle is the per-bucket window's hash partition on qbucket carrying
(doc_id, source, n_tok, score) — fixed-width rows. The boundary
bucket's prefix sort is bounded by one quality quantum; if a corpus
degenerates into one bucket, refine the quantum (finer multiplier),
which this formulation makes a constant, not a redesign. The budget is
a fraction of total tokens so the operator is scale-free across SFs.

Cross-engine determinism: score rounded to 6 BEFORE bucketing; all
DuckDB integer sums (plain and windowed) cast to BIGINT (HUGEINT
rule); floor-then-cast for the bucket id; doc_id (unique) as the only
window ordering key so RANGE-vs-ROWS framing cannot diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import load_table as T
from .textops import _STOP_SQL, quality_features
from .util import persist_replacing, spread

# Budget as a fraction of the corpus's total whitespace-token count.
BUDGET_FRAC = 0.5
# Quality quantum: score (already rounded to 6) is bucketed at 1e-4,
# bounding the bucket table at 10,001 rows regardless of corpus size.
QUANTUM = 10000


def token_budget_selection(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread(spark, T(spark, sf, "documents"))
    n_tok = F.size(F.split(F.lower("text"), " "))
    feats = docs.select(
        "doc_id",
        "source",
        n_tok.alias("n_tok"),
        F.round(quality_features()["quality_score"], 6).alias("quality_score"),
    ).withColumn("qbucket", F.floor(F.col("quality_score") * QUANTUM).cast("int"))
    # reused by the bucket rollup, the budget total, and the final join
    feats = persist_replacing("budget_feats", sf, feats)

    buckets = feats.groupBy("qbucket").agg(F.sum("n_tok").alias("bucket_toks"))
    total = feats.agg(
        F.floor(F.sum("n_tok") * F.lit(BUDGET_FRAC)).alias("budget")
    )
    cum = F.sum("bucket_toks").over(Window.orderBy(F.desc("qbucket")))
    plan = (
        buckets.select(
            "qbucket", "bucket_toks", (cum - F.col("bucket_toks")).alias("cum_before")
        )
        .crossJoin(F.broadcast(total))
        .select(
            "qbucket",
            (F.col("cum_before") + F.col("bucket_toks") <= F.col("budget")).alias(
                "full_bucket"
            ),
            (
                (F.col("cum_before") < F.col("budget"))
                & (F.col("cum_before") + F.col("bucket_toks") > F.col("budget"))
            ).alias("boundary_bucket"),
            (F.col("budget") - F.col("cum_before")).alias("remaining"),
        )
    )

    within = F.sum("n_tok").over(
        Window.partitionBy("qbucket").orderBy("doc_id")
    )
    selected = F.col("full_bucket") | (
        F.col("boundary_bucket") & (within <= F.col("remaining"))
    )
    return (
        feats.join(F.broadcast(plan), "qbucket")
        .select(
            "doc_id",
            "source",
            "n_tok",
            "quality_score",
            selected.alias("selected"),
        )
        .orderBy("doc_id")
    )


TOKEN_BUDGET_SELECTION_SQL = f"""
WITH f0 AS (
  SELECT doc_id, source,
         string_split(lower(text), ' ') AS words,
         len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS n_punct,
         length(text) AS n_chars
  FROM documents
), fb AS (
  SELECT doc_id, source,
         len(words) AS n_tok,
         quality_score,
         CAST(floor(quality_score * {QUANTUM}) AS INT) AS qbucket
  FROM (
    SELECT *,
           round(least(len(words) / 100.0, 1.0) * 0.4
                 + (len(list_filter(words, w -> list_contains({_STOP_SQL}, w)))
                    / len(words)) * 0.4
                 + (1.0 - n_punct / n_chars) * 0.2, 6) AS quality_score
    FROM f0
  )
), buckets AS (
  SELECT qbucket, CAST(sum(n_tok) AS BIGINT) AS bucket_toks
  FROM fb GROUP BY qbucket
), tot AS (
  SELECT CAST(floor(CAST(sum(n_tok) AS BIGINT) * {BUDGET_FRAC}) AS BIGINT) AS budget
  FROM fb
), plan AS (
  SELECT qbucket,
         (cum_before + bucket_toks <= budget) AS full_bucket,
         (cum_before < budget AND cum_before + bucket_toks > budget)
           AS boundary_bucket,
         budget - cum_before AS remaining
  FROM (
    SELECT qbucket, bucket_toks,
           CAST(SUM(bucket_toks) OVER (ORDER BY qbucket DESC) AS BIGINT)
             - bucket_toks AS cum_before
    FROM buckets
  ) CROSS JOIN tot
)
SELECT fb.doc_id, fb.source, fb.n_tok, fb.quality_score,
       (p.full_bucket OR (p.boundary_bucket AND
          CAST(SUM(fb.n_tok) OVER (PARTITION BY fb.qbucket ORDER BY fb.doc_id)
               AS BIGINT) <= p.remaining)) AS selected
FROM fb JOIN plan p USING (qbucket)
ORDER BY doc_id
"""

# --------------------------------------------------------------------------
# Deterministic corpus shuffle + fixed-token-budget shard cutting: the
# LAST step of a training-data build — randomize document order
# (deterministically, so retries/engines/partitionings agree) and cut
# the stream into training shards of SHARD_TOKENS whitespace tokens
# (concat-and-cut: a doc belongs to the shard its first token lands
# in). The naive formulation is a global sort by the shuffle hash with
# a running token total — a single-partition window over the whole
# corpus. This computes the same assignment with NO global row sort,
# by the same decomposition as token_budget_selection:
#
# 1. shuffle key h = md5('shuffle|' || doc_id) (change the salt string
#    to reshuffle); hash bucket = h's first SHARD_PREFIX_CHARS hex
#    chars — 16**k ORDER-PRESERVING buckets (h starts with its bucket,
#    so bucket-asc then (h, doc_id)-asc IS the global (h, doc_id)
#    order);
# 2. within-bucket running token totals (hash exchange on hbucket,
#    parallel); per-bucket totals roll up to a 256-row table whose
#    running sum is the bucket's global offset — the only
#    single-partition window, bounded state forever (at 100 TB widen
#    the prefix to 4-5 hex chars: 64k-1M rows, still tiny);
# 3. offsets broadcast back: global_before = bucket_before +
#    within_before; shard = floor(global_before / SHARD_TOKENS).
#
# Scale shape: text is pruned at the scan (only doc_id/source/n_tok/h
# move); the doc-bearing exchanges are the hbucket window and the
# shard rollup — both plain hash shuffles of fixed-width rows. The
# oracle runs the NAIVE global-window formulation in DuckDB, so the
# driver gate is exactly the bucketed-decomposition ≡ global-sort
# equivalence proof.

SHARD_TOKENS = 4096
_SHUFFLE_SALT = "shuffle|"


# Width of the order-preserving hash-prefix, in hex chars: bucket
# count = 16**prefix_chars (the power-of-16 grid is what makes the
# prefix ORDER-PRESERVING over the md5 hex string — a non-power-of-16
# bucket count would need a range partitioner instead). 2 (256
# buckets) is right for the sandbox; at 100 TB widen to 4-5 (64k-1M
# offset rows — still one tiny single-partition window). The
# shard-assignment OUTPUT is invariant in this knob (pinned by
# tests/test_selection.py at widths 1 and 3 against the naive
# global-window oracle), so re-tuning it never reshuffles a corpus.
SHARD_PREFIX_CHARS = 2


def shuffle_shard_assign(
    docs: DataFrame,
    shard_tokens: int = SHARD_TOKENS,
    slot: str = "shuffle_feats",
    prefix_chars: int = SHARD_PREFIX_CHARS,
) -> DataFrame:
    """(doc_id, text, source?) -> per-doc (doc_id, n_tok, h,
    global_before, shard). Deterministic in doc_id alone."""
    if not 1 <= prefix_chars <= 8:
        raise ValueError(f"prefix_chars must be in [1, 8], got {prefix_chars}")
    h = F.md5(
        F.encode(F.concat(F.lit(_SHUFFLE_SALT), F.col("doc_id").cast("string")), "UTF-8")
    )
    n_tok = F.size(F.split(F.lower("text"), " "))
    feats = docs.select(
        "doc_id", n_tok.alias("n_tok"), h.alias("h")
    ).withColumn("hbucket", F.substring("h", 1, prefix_chars))
    within = (
        F.sum("n_tok").over(Window.partitionBy("hbucket").orderBy("h", "doc_id"))
        - F.col("n_tok")
    )
    feats = persist_replacing(slot, "generic", feats.withColumn("within_before", within))
    buckets = feats.groupBy("hbucket").agg(F.sum("n_tok").alias("bucket_toks"))
    cum = F.sum("bucket_toks").over(Window.orderBy("hbucket"))
    offs = buckets.select(
        "hbucket", (cum - F.col("bucket_toks")).alias("bucket_before")
    )
    gb = F.col("bucket_before") + F.col("within_before")
    return feats.join(F.broadcast(offs), "hbucket").select(
        "doc_id",
        "n_tok",
        "h",
        gb.alias("global_before"),
        F.floor(gb / shard_tokens).alias("shard"),
    )


def shuffled_shards(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread(spark, T(spark, sf, "documents"))
    per_doc = shuffle_shard_assign(docs, SHARD_TOKENS, slot=f"shuffle_feats:{sf}")
    docs_md5 = F.md5(
        F.encode(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("h", "doc_id"))),
                    lambda x: x["doc_id"].cast("string"),
                ),
            ),
            "UTF-8",
        )
    )
    return (
        per_doc.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            docs_md5.alias("docs_md5"),
        )
        .orderBy("shard")
    )


SHUFFLED_SHARDS_SQL = f"""
WITH f AS (
  SELECT doc_id,
         len(string_split(lower(text), ' ')) AS n_tok,
         md5('{_SHUFFLE_SALT}' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), g AS (
  SELECT doc_id, n_tok, h,
         CAST(SUM(n_tok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) - n_tok AS global_before
  FROM f
)
SELECT CAST(FLOOR(global_before / {SHARD_TOKENS}) AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY h, doc_id)) AS docs_md5
FROM g
GROUP BY 1
ORDER BY 1
"""


QUERIES = {
    "token_budget_selection": (token_budget_selection, TOKEN_BUDGET_SELECTION_SQL),
    "shuffled_shards": (shuffled_shards, SHUFFLED_SHARDS_SQL),
}
