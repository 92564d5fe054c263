"""End-to-end training-corpus curation funnel — the composition proof
that the individual training-data ops (quality scoring, exact dedup,
benchmark decontamination, mix sampling) chain into ONE Catalyst plan
a real pretraining-data pipeline would run:

    quality filter        (drop low-score docs)
 -> exact dedup           (keep min doc_id per content digest)
 -> eval-set exclusion    (benchmark slice never trains)
 -> decontamination       (drop docs whose shingle containment in the
                           eval set reaches CONTAM_NUM/CONTAM_DEN)
 -> mix sampling          (deterministic per-source keep rate)
 -> per-source summary    (docs, chars, summed quality)

Scale shape, stage by stage: the quality filter is a per-row codegen
expression evaluated AT THE SCAN, so everything downstream sees only
survivors; exact dedup shuffles (digest, doc_id) pairs — never text —
then rejoins by id; the benchmark shingle set is small by nature (a
held-out eval set) so decontamination is a broadcast semi/anti join
against the survivors' exploded shingles; mix sampling is another
per-row expression; the final rollup is an ordinary partial-agg. The
document text is read once and never shuffled anywhere in the funnel.

Every stage reuses the EXACT expressions of its standalone oracle-
paired operator (textops.doc_quality_scores, dedup_text
.exact_dedup_docs / decontaminate_against_benchmark,
textops.training_mix_sample), so this query is also a regression lock:
if any component drifts from its oracle the composition goes red too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table as T
from .dedup_text import _shingles, _words, _SHINGLES_SQL
from .textops import _MIX_BUCKET_SQL, _MIX_RATE_SQL, _STOP_SQL, quality_features
from .util import scratch_table, spread

QUALITY_MIN = 0.4  # keeps ~2/3 of the synthetic corpus (median 0.45)
# a doc is contaminated when >= 80% of its DISTINCT shingles appear in
# the benchmark (containment ratio, GPT-3-appendix-C style). A RATIO,
# not an absolute hit count, because incidental trigram overlap grows
# with eval-set size — an absolute threshold that works at one corpus
# scale degenerates at 10x. Compared as n_hits*5 >= n_sh*4: integer
# arithmetic, so no float knife-edge can split the two engines.
CONTAM_NUM, CONTAM_DEN = 4, 5  # ratio >= 4/5


def _quality(col: str = "text") -> F.Column:
    """The doc_quality_scores composite, rounded to 6 so the threshold
    comparison is knife-edge-free in both engines."""
    return F.round(quality_features(col)["quality_score"], 6)


def curated_training_mix(spark: SparkSession, sf: str) -> DataFrame:
    return _curate(spread(spark, T(spark, sf, "documents")))


def _curate(docs: DataFrame, sem_pruned: DataFrame | None = None) -> DataFrame:
    """The funnel over any docs-shaped frame (doc_id:int, text,
    n_chars, source) — raw parquet for the standalone query, a
    MOR-merged LakeTable read for the composition flagship below.
    ``sem_pruned`` (a vec_id frame, keyed like doc_id) inserts the
    SemDeDup semantic-dedup stage between decontamination and mix
    sampling."""
    is_bench = F.col("doc_id") % 20 == 0

    # 1. quality gate (scan-level expression filter)
    qual = docs.withColumn("q", _quality()).filter(F.col("q") >= QUALITY_MIN)

    # 2. exact dedup among survivors: shuffle only (digest, id) pairs,
    #    keep the min doc_id of each content group, rejoin by id
    digest = F.md5(F.encode(F.lower(F.trim("text")), "UTF-8"))
    canon = (
        qual.select(digest.alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped = qual.join(canon, "doc_id", "left_semi")

    # 3. benchmark shingles come from the FULL corpus eval slice (the
    #    eval set is external to the funnel, quality-filtering it would
    #    weaken the contamination check); training docs sharing any
    #    shingle are dropped, and the eval slice itself never trains
    flat_all = docs.select("doc_id", F.explode(_shingles(_words())).alias("shingle"))
    bench = flat_all.filter(is_bench).select("shingle").distinct()
    sizes = flat_all.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    hits = (
        flat_all.filter(~is_bench)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    contaminated = (
        hits.join(sizes, "doc_id")
        .filter(F.col("n_hits") * CONTAM_DEN >= F.col("n_sh") * CONTAM_NUM)
        .select("doc_id")
    )
    clean = (
        deduped.filter(~is_bench)
        .join(F.broadcast(contaminated), "doc_id", "left_anti")
    )

    # 3b. optional semantic-dedup stage: drop docs whose embedding the
    #     SemDeDup pass pruned. The drop set is a pruned FRACTION of
    #     the embedding table (small by construction), so this is a
    #     broadcast anti-join — the surviving documents never shuffle;
    #     docs without an embedding row pass through (partial embedding
    #     coverage is the normal production state).
    if sem_pruned is not None:
        drop = sem_pruned.select(F.col("vec_id").cast("long").alias("doc_id"))
        clean = clean.join(F.broadcast(drop), "doc_id", "left_anti")

    # 4. deterministic mix sampling (pure row expression, no rand())
    sampled = clean.filter(F.expr(f"{_MIX_BUCKET_SQL} < {_MIX_RATE_SQL}"))

    # 5. per-source summary. Quality is reported as the decimal-exact
    #    SUM (dsum convention), not a mean: sum/count can land exactly
    #    on a .5e-6 half-point where Spark and DuckDB round() disagree,
    #    while the 6-decimal sum has one canonical double.
    return (
        sampled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.col("q").cast("decimal(38,6)")).cast("double").alias("sum_quality"),
        )
        .orderBy("source")
    )


_MIX_BUCKET_DUCK = _MIX_BUCKET_SQL.replace("AS STRING", "AS VARCHAR")


def _curated_sql(sem: bool = False) -> str:
    """One template for the funnel oracle and its semantic-stage
    variant: ``sem`` splices in similarity.SEM_PRUNED_CTES (verbatim —
    the twins cannot drift) and the corresponding NOT IN filter."""
    from .similarity import SEM_PRUNED_CTES

    sem_ctes = f""",
{SEM_PRUNED_CTES}""" if sem else ""
    sem_pred = (
        "\n    AND q.doc_id NOT IN (SELECT vec_id FROM pruned)" if sem else ""
    )
    return f"""
WITH feats AS (
  SELECT doc_id, source, n_chars, text,
         string_split(lower(text), ' ') AS words
  FROM documents
), scored AS (
  SELECT doc_id, source, n_chars, text,
         round(
           least(len(words) / 100.0, 1.0) * 0.4
           + (len(list_filter(words, w -> list_contains({_STOP_SQL}, w))) * 1.0
              / len(words)) * 0.4
           + (1.0 - len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) * 1.0
              / length(text)) * 0.2,
         6) AS q
  FROM feats
), qual AS (
  SELECT * FROM scored WHERE q >= {QUALITY_MIN}
), canon AS (
  SELECT min(doc_id) AS doc_id FROM qual GROUP BY md5(lower(trim(text)))
), sh AS ({_SHINGLES_SQL}),
flat AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
bench AS (SELECT DISTINCT shingle FROM flat WHERE doc_id % 20 = 0),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM flat GROUP BY 1),
hits AS (
  SELECT f.doc_id, count(*) AS n_hits FROM flat f JOIN bench USING (shingle)
  WHERE f.doc_id % 20 <> 0 GROUP BY 1
),
contaminated AS (
  SELECT h.doc_id FROM hits h JOIN sizes s USING (doc_id)
  WHERE h.n_hits * {CONTAM_DEN} >= s.n_sh * {CONTAM_NUM}
){sem_ctes}, final AS (
  SELECT q.source, q.n_chars, q.q
  FROM qual q
  JOIN canon USING (doc_id)
  WHERE q.doc_id % 20 <> 0
    AND q.doc_id NOT IN (SELECT doc_id FROM contaminated){sem_pred}
    AND ({_MIX_BUCKET_DUCK}) < ({_MIX_RATE_SQL})
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CAST(q AS DECIMAL(38,6))) AS DOUBLE) AS sum_quality
FROM final
GROUP BY source
ORDER BY source
"""


CURATED_TRAINING_MIX_SQL = _curated_sql()


# --------------------------------------------------------------------------
# Composition flagship: the SAME funnel over a corpus that lives in the
# engine's own table format and was maintained MERGE-ON-READ — two CDC
# batches (an insert wave of placeholder rows, then an update wave
# rewriting EVERY row to its real content) applied with
# write_mode='mor' and compaction disabled, so the read path must
# LWW-merge base + delta files per bucket to see the right text. Every
# row's funnel fate depends on that merge: if MOR reads leaked
# placeholder rows the quality gate, dedup digests, shingles and mix
# buckets would all diverge from the oracle (which reads the raw
# parquet). Green here = the table-format layer and the training-data
# ops compose.


def curated_mix_over_mor_corpus(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import types as T_

    from ..cdc.apply import apply_batch
    from ..cdc.table import LakeTable

    schema = T_.StructType(
        [
            T_.StructField("doc_id", T_.StringType(), False),
            T_.StructField("orig_id", T_.LongType(), True),
            T_.StructField("text", T_.StringType(), True),
            T_.StructField("lang", T_.StringType(), True),
            T_.StructField("source", T_.StringType(), True),
            T_.StructField("n_chars", T_.LongType(), True),
        ]
    )

    def build(tmp: str) -> str:
        docs = T(spark, sf, "documents")
        n = int(docs.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
        root = f"{tmp}/docs"
        table = LakeTable.create(root, n_buckets=8, schemas={1: schema})

        def wave(lsn_base: int, placeholder: bool) -> DataFrame:
            return docs.select(
                (F.col("doc_id") + F.lit(lsn_base)).cast("long").alias("lsn"),
                F.lit("U").alias("op"),
                F.concat(F.lit("d"), F.col("doc_id")).alias("doc_id"),
                F.col("doc_id").cast("long").alias("orig_id"),
                (
                    F.lit("zz placeholder zz") if placeholder else F.col("text")
                ).alias("text"),
                "lang",
                (F.lit("bogus") if placeholder else F.col("source")).alias("source"),
                (
                    F.lit(17).cast("long") if placeholder else F.col("n_chars")
                ).alias("n_chars"),
                F.lit(1).alias("schema_version"),
            )

        apply_batch(
            spark, table, wave(1, True), batch_id=1, lsn_lo=1, lsn_hi=n,
            write_mode="mor", mor_max_deltas=1_000_000,
        )
        apply_batch(
            spark, LakeTable.load(root), wave(n + 1, False),
            batch_id=2, lsn_lo=n + 1, lsn_hi=2 * n,
            write_mode="mor", mor_max_deltas=1_000_000,
        )
        return root

    merged = LakeTable.load(scratch_table("curation_mor", sf, build)).read(spark)
    docs_shaped = merged.select(
        F.col("orig_id").alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return _curate(spread(spark, docs_shaped))


# --------------------------------------------------------------------------
# Cross-table composition flagship: the funnel with a SEMANTIC dedup
# stage — documents (text ops) x embeddings (vector ops) in one plan.
# The SemDeDup drop set (similarity.sem_pruned_ids, the same
# cell-bounded pass the standalone semdedup_prune query runs) anti-
# joins the decontaminated survivors by doc_id = vec_id; documents
# without an embedding pass through (partial embedding coverage is the
# normal production state — at sf0.1 only 2000 of 5000 docs carry
# one). Scale shape: the drop set is a pruned fraction of the
# embedding table, so the stage is a broadcast anti-join — surviving
# documents never shuffle, same as the decontamination stage.


def semantic_curated_mix(spark: SparkSession, sf: str) -> DataFrame:
    from .similarity import _sem_assigned, sem_pruned_ids

    pruned = sem_pruned_ids(_sem_assigned(spark, sf))
    return _curate(spread(spark, T(spark, sf, "documents")), sem_pruned=pruned)


SEMANTIC_CURATED_MIX_SQL = _curated_sql(sem=True)


QUERIES = {
    "curated_training_mix": (curated_training_mix, CURATED_TRAINING_MIX_SQL),
    "semantic_curated_mix": (semantic_curated_mix, SEMANTIC_CURATED_MIX_SQL),
    # identical oracle on purpose: the MOR-maintained corpus must read
    # back as exactly the raw documents table
    "curated_mix_over_mor_corpus": (
        curated_mix_over_mor_corpus,
        CURATED_TRAINING_MIX_SQL,
    ),
}
