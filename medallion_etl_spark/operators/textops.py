"""Text analysis operators for a large-scale training-data pipeline:
token counting, quality scoring, n-gram language ID, and document
fingerprinting — all JVM-side expressions (zero Python in the row
path), each paired with a DuckDB oracle computing the identical
deterministic function.

Scale shape: every query here is a narrow projection + per-row
expression over ``documents`` (no shuffle except the final orderBy for
oracle-stable output, and a single hash agg for fingerprint grouping).
At 100 TB these run at scan speed inside whole-stage codegen; filters/
projections push into the parquet scan.

Cross-engine determinism rules used throughout this module (and
dedup_text / similarity): only md5 for hashing (identical in Spark and
DuckDB over utf-8), only left-to-right list folds, and ratios rounded
to 6 decimals before output so double formatting noise can't break the
driver's value-hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exprs import let
from ..sources.readers import load_table as T
from .dedup_text import _grams
from .util import persist_replacing, spread

# Markers for the n-gram/stopword language-ID heuristic. The synthetic
# corpus is English-like for every label, so accuracy is not the point —
# the operator contract is a deterministic, vectorized scoring +
# argmax, the same shape a real fastText-style scorer plugs into.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in"],
    "es": ["el", "la", "de", "que", "los", "una"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "une"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3", "he2"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

# "BPE-ish" tokenization regex: letter runs, single digits, or single
# non-alphanumeric marks — a crude stand-in for a byte-pair vocab that
# both regex engines (Java util.regex / DuckDB RE2) agree on.
BPE_RE = "[a-z]+|[0-9]|[^a-z0-9 ]"

# --------------------------------------------------------------------------
# Token counting: whitespace tokens + BPE-ish regex tokens.


def doc_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread(spark, T(spark, sf, "documents"))
    lowered = F.lower("text")
    words = F.split(lowered, " ")
    return docs.select(
        "doc_id",
        F.size(words).alias("n_ws_tokens"),
        F.regexp_count(lowered, F.lit(BPE_RE)).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_text"),
        "n_chars",
    ).orderBy("doc_id")


DOC_TOKEN_STATS_SQL = f"""
SELECT doc_id,
       len(string_split(lower(text), ' ')) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '{BPE_RE}')) AS n_bpe_tokens,
       length(text) AS n_chars_text,
       n_chars
FROM documents
ORDER BY doc_id
"""

# --------------------------------------------------------------------------
# Quality scoring: length / punctuation / stopword-ratio features and a
# weighted composite, the standard pre-training corpus filter shape.


def quality_features(col: str = "text") -> dict[str, F.Column]:
    """The quality composite over the text column ``col``, unrounded:
    ``n_words``, ``mean_word_len``, ``stopword_ratio``, ``punct_ratio``
    and their weighted ``quality_score``. The one definition every
    quality filter uses (doc_quality_scores, the curation funnel,
    token-budget selection); the oracle SQL spells the same formula."""
    lowered = F.lower(col)
    words = F.split(lowered, " ")
    n_words = F.size(words)
    len_nospace = F.length(F.replace(lowered, F.lit(" "), F.lit("")))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))) / n_words
    punct_ratio = F.regexp_count(lowered, F.lit("[^a-z0-9 ]")) / F.length(col)
    score = (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
        + stop_ratio * 0.4
        + (F.lit(1.0) - punct_ratio) * 0.2
    )
    return {
        "n_words": n_words,
        "mean_word_len": len_nospace / n_words,
        "stopword_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "quality_score": score,
    }


def doc_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread(spark, T(spark, sf, "documents"))
    feats = quality_features()
    n_words = feats.pop("n_words")
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        *[F.round(c, 6).alias(name) for name, c in feats.items()],
    ).orderBy("doc_id")


_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

DOC_QUALITY_SCORES_SQL = f"""
WITH feats AS (
  SELECT doc_id,
         string_split(lower(text), ' ') AS words,
         length(replace(lower(text), ' ', '')) AS len_nospace,
         len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS n_punct,
         length(text) AS n_chars
  FROM documents
), r AS (
  SELECT doc_id,
         len(words) AS n_words,
         len_nospace / len(words) AS mean_word_len,
         len(list_filter(words, w -> list_contains({_STOP_SQL}, w))) / len(words) AS stop_ratio,
         n_punct / n_chars AS punct_ratio
  FROM feats
)
SELECT doc_id, n_words,
       round(mean_word_len, 6) AS mean_word_len,
       round(stop_ratio, 6) AS stopword_ratio,
       round(punct_ratio, 6) AS punct_ratio,
       round(least(n_words / 100.0, 1.0) * 0.4 + stop_ratio * 0.4
             + (1.0 - punct_ratio) * 0.2, 6) AS quality_score
FROM r
ORDER BY doc_id
"""

# --------------------------------------------------------------------------
# Language ID: marker-hit scores per language, argmax with a
# deterministic tiebreak (score desc, then language name asc).


def lang_id_ngram(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread(spark, T(spark, sf, "documents"))
    words = F.split(F.lower("text"), " ")

    def marker_score(w: F.Column, markers: list[str]) -> F.Column:
        arr = F.array(*[F.lit(x) for x in markers])
        return F.size(F.filter(w, lambda x: F.array_contains(arr, x)))

    # one split per doc: the five marker filters read the bound words,
    # and the argmax below reads the projected score columns
    scores = let(
        words,
        lambda w: F.struct(
            *[
                marker_score(w, LANG_MARKERS[lang]).alias(f"score_{lang}")
                for lang in sorted(LANG_MARKERS)
            ]
        ),
    )
    scored = docs.select("doc_id", "lang", scores.alias("sc")).select("doc_id", "lang", "sc.*")
    # argmax via max over (score, reversed-lang) structs so ties break
    # toward the alphabetically-first language
    pairs = F.array(
        *[
            F.struct(
                F.col(f"score_{lang}").alias("s"),
                F.lit(-ord(lang[0]) * 256 - ord(lang[1])).alias("tie"),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(LANG_MARKERS)
        ]
    )
    best = F.array_max(pairs)
    out = scored.select(
        "doc_id",
        *[f"score_{lang}" for lang in sorted(LANG_MARKERS)],
        best.getField("lang").alias("lang_pred"),
        F.col("lang").alias("lang_true"),
    )
    return out.withColumn(
        "correct", (F.col("lang_pred") == F.col("lang_true")).cast("boolean")
    ).orderBy("doc_id")


def _lang_score_sql(markers: list[str]) -> str:
    lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    return f"len(list_filter(words, w -> list_contains({lst}, w)))"


_LANGS_SORTED = sorted(LANG_MARKERS)
_SCORE_COLS = ",\n         ".join(
    f"{_lang_score_sql(LANG_MARKERS[lang])} AS score_{lang}" for lang in _LANGS_SORTED
)
# DuckDB argmax with the same tiebreak: pick lexicographically-greatest
# (score, -langrank) pair; langs sorted asc -> earlier lang wins ties.
_PRED_SQL = "CASE " + " ".join(
    f"WHEN {' AND '.join(f'score_{lang} >= score_{o}' for o in _LANGS_SORTED if o != lang)} THEN '{lang}'"
    for lang in _LANGS_SORTED
) + " END"

LANG_ID_NGRAM_SQL = f"""
WITH feats AS (
  SELECT doc_id, lang, string_split(lower(text), ' ') AS words FROM documents
), s AS (
  SELECT doc_id, lang,
         {_SCORE_COLS}
  FROM feats
)
SELECT doc_id, {', '.join(f'score_{lang}' for lang in _LANGS_SORTED)},
       {_PRED_SQL} AS lang_pred,
       lang AS lang_true,
       ({_PRED_SQL}) = lang AS correct
FROM s
ORDER BY doc_id
"""

# --------------------------------------------------------------------------
# Document fingerprinting: md5 of the normalized text plus a
# winnowing-style rolling fingerprint — min/max md5 over word 4-gram
# shingles. Robust to shingle *order*, content-sensitive, and cheap
# (per-row expressions, no shuffle).

SHINGLE = 4


def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread(spark, T(spark, sf, "documents"))
    words = F.split(F.lower("text"), " ")
    # words bound once for the shingle lambda, shingles once for the
    # three reductions
    fp = let(
        words,
        lambda w: let(
            _grams(w, SHINGLE),
            lambda s: F.struct(
                F.array_min(s).alias("fp_min"),
                F.array_max(s).alias("fp_max"),
                F.size(s).alias("n_shingles"),
            ),
        ),
    )
    return (
        docs.select(
            "doc_id",
            F.md5(F.encode(F.lower("text"), "UTF-8")).alias("fp_full"),
            fp.alias("fp"),
        )
        .select("doc_id", "fp_full", "fp.*")
        .orderBy("doc_id")
    )


DOC_FINGERPRINT_SQL = f"""
WITH feats AS (
  SELECT doc_id, lower(text) AS t, string_split(lower(text), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id, t,
         CASE WHEN len(words) >= {SHINGLE}
              THEN list_transform(range(1, len(words) - {SHINGLE - 1} + 1),
                                  i -> md5(array_to_string(words[i:i+{SHINGLE - 1}], ' ')))
              ELSE [md5(array_to_string(words, ' '))]
         END AS shingles
  FROM feats
)
SELECT doc_id,
       md5(t) AS fp_full,
       list_min(shingles) AS fp_min,
       list_max(shingles) AS fp_max,
       len(shingles) AS n_shingles
FROM sh
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Training-mix sampling: per-source deterministic downsampling toward a
# token budget (the published data-mixing step every large pretraining
# corpus applies — per-source rates, e.g. upsample books, downsample
# crawl). The keep decision is a pure function of (source, doc_id) via
# md5 — NOT rand(): deterministic across engines (oracle-checkable),
# across retries (a re-run keeps the same docs — exactly-once pipelines
# need this), and across partitionings (no seed-per-partition drift).
#
# Scale shape: one scan, a per-row expression filter, one partial-agg
# rollup — no shuffle of document text, no driver involvement; the
# sampling filter pushes into the scan's projection so at 100 TB the
# cost is the read itself.

# per-source keep-rate in percent: sources rotate through 25/50/75/100
_MIX_RATE_SQL = "(CAST(substring(source, 4) AS INT) % 4 + 1) * 25"
# deterministic 0..99 bucket from the md5 hex of source|doc_id: ascii
# arithmetic (not hex parsing) because Spark and DuckDB share ascii()/
# substring()/md5() semantics exactly
_MIX_BUCKET_SQL = (
    "(ascii(substring(md5(concat(source, '|', CAST(doc_id AS STRING))), 1, 1)) * 31"
    " + ascii(substring(md5(concat(source, '|', CAST(doc_id AS STRING))), 2, 1))) % 100"
)


def training_mix_sample(spark: SparkSession, sf: str) -> DataFrame:
    docs = T(spark, sf, "documents")
    kept = docs.filter(F.expr(f"{_MIX_BUCKET_SQL} < {_MIX_RATE_SQL}"))
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_chars").alias("chars_kept"),
            F.expr(f"any_value({_MIX_RATE_SQL})").alias("rate_pct"),
        )
        .orderBy("source")
    )


TRAINING_MIX_SAMPLE_SQL = f"""
SELECT source,
       count(*) AS n_docs_kept,
       CAST(sum(n_chars) AS BIGINT) AS chars_kept,
       CAST({_MIX_RATE_SQL.replace("AS STRING", "AS VARCHAR")} AS INT) AS rate_pct
FROM documents
WHERE ({_MIX_BUCKET_SQL.replace("AS STRING", "AS VARCHAR")}) < ({_MIX_RATE_SQL})
GROUP BY source, 4
ORDER BY source
"""


# --------------------------------------------------------------------------
# Corpus length-distribution percentiles: the standard pre-training
# diagnostic (sequence-length budgeting, truncation-rate estimation,
# outlier triage) — exact interpolated percentiles per source.
#
# Scale shape: Spark's exact `percentile` buffers each group's values
# in the aggregation state, which is fine for per-SOURCE groups (the
# group count is tiny and fixed) but the honest 100-TB default for
# high-cardinality groups is `approx_percentile` (KLL-style mergeable
# sketch, bounded state) — same plan, swap the function;
# tests/test_percentiles.py pins approx-vs-exact agreement. The exact
# variant is the oracle-paired one because DuckDB's quantile_cont uses
# the identical (n-1)*p linear interpolation.

PCTS = [0.5, 0.9, 0.99]


def doc_length_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    docs = T(spark, sf, "documents")
    pct = F.percentile(F.col("n_chars"), F.array(*[F.lit(p) for p in PCTS]))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(pct[0], 6).alias("p50_chars"),
            F.round(pct[1], 6).alias("p90_chars"),
            F.round(pct[2], 6).alias("p99_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("source")
    )


DOC_LENGTH_PERCENTILES_SQL = """
SELECT source,
       count(*) AS n_docs,
       round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
       round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
       round(quantile_cont(n_chars, 0.99), 6) AS p99_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------------------
# The BOUNDED-STATE percentile path, driver-gated (VERDICT r4 task 3):
# `approx_percentile` (KLL-style mergeable sketch — fixed memory per
# group regardless of corpus size) is the honest 100-TB formulation,
# but its output is engine-specific, so it can't be value-hashed
# against DuckDB directly. The tolerance-banded oracle trick: the
# sketch guarantees the returned value is a corpus ELEMENT whose rank
# is within N/accuracy ranks of the target, so the Spark side ALSO
# computes the exact interpolated percentiles at (p ± APPROX_BAND) and
# emits `BETWEEN`-band booleans; the DuckDB oracle emits literal TRUE.
# The driver's value-hash then passes iff the sketch met a 0.02
# rank-fraction band — 200× looser than the accuracy-10000 guarantee
# (N/10000 ranks), yet a real gate: a broken sketch, a fraction/rank
# confusion, or a accuracy regression all flip a flag to false and
# hash-mismatch.
#
# Corpus-global (one row), not per-source: at the 25-docs-per-source
# test scale a per-group rank band of 0.02 is sub-one-rank, where
# interpolation-vs-element effects could flap the flag; the global
# N≥500 keeps ≥10 ranks of margin on every flag at every sf. At scale
# the same aggregate is the one you'd run (the sketch state is O(1);
# the exact band columns are the TEST harness, dropped in production).

APPROX_ACC = 10_000
APPROX_BAND = 0.02


def doc_length_percentiles_approx(spark: SparkSession, sf: str) -> DataFrame:
    docs = T(spark, sf, "documents")
    ap = F.percentile_approx(
        F.col("n_chars"), F.array(*[F.lit(p) for p in PCTS]), F.lit(APPROX_ACC)
    )
    lo = F.percentile(
        F.col("n_chars"),
        F.array(*[F.lit(round(max(p - APPROX_BAND, 0.0), 6)) for p in PCTS]),
    )
    hi = F.percentile(
        F.col("n_chars"),
        F.array(*[F.lit(round(min(p + APPROX_BAND, 1.0), 6)) for p in PCTS]),
    )
    exact = F.percentile(F.col("n_chars"), F.array(*[F.lit(p) for p in PCTS]))
    row = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(exact[0], 6).alias("p50_chars"),
        F.round(exact[1], 6).alias("p90_chars"),
        F.round(exact[2], 6).alias("p99_chars"),
        F.max("n_chars").alias("max_chars"),
        ap.alias("_ap"),
        lo.alias("_lo"),
        hi.alias("_hi"),
    )

    def in_band(i: int):
        return (F.col("_ap")[i] >= F.col("_lo")[i]) & (
            F.col("_ap")[i] <= F.col("_hi")[i]
        )

    return row.select(
        "n_docs",
        "p50_chars",
        "p90_chars",
        "p99_chars",
        "max_chars",
        in_band(0).alias("p50_in_band"),
        in_band(1).alias("p90_in_band"),
        in_band(2).alias("p99_in_band"),
    )


DOC_LENGTH_PERCENTILES_APPROX_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
       round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
       round(quantile_cont(n_chars, 0.99), 6) AS p99_chars,
       max(n_chars) AS max_chars,
       TRUE AS p50_in_band,
       TRUE AS p90_in_band,
       TRUE AS p99_in_band
FROM documents
"""


# --------------------------------------------------------------------------
# PII detection + redaction: the scrub pass every pre-training corpus
# runs before tokenization (emails, phone numbers, IP addresses →
# typed placeholder tokens). The synthetic corpus carries no natural
# PII, so the query first derives a deterministic PII-bearing variant
# of each document (a closed-form function of doc_id, identical in
# both engines) and then detects + redacts it — the oracle therefore
# exercises the real contract: detection counts AND byte-for-byte
# equality of the redacted text (compared as md5).
#
# Scale shape: pure per-row regex expressions inside whole-stage
# codegen — one scan, no shuffle except the oracle-stability orderBy.
# Redaction happens where the text already is; nothing wide moves. The
# regexes are chosen to mean the same thing in Java util.regex (Spark)
# and RE2 (DuckDB): no lookaround, no backreferences.

PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\+1-555-[0-9]{4}"
PII_IP_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"

# deterministic injection: every 3rd doc gains an email, every 5th a
# phone, every 7th an IPv4 — written once as SQL shared by both plans
_PII_AUG_SQL = (
    "concat(text,"
    " CASE WHEN doc_id % 3 = 0 THEN concat(' contact user',"
    "   CAST(doc_id AS STRING), '@example.com') ELSE '' END,"
    " CASE WHEN doc_id % 5 = 0 THEN concat(' call +1-555-',"
    "   lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) ELSE '' END,"
    " CASE WHEN doc_id % 7 = 0 THEN concat(' host 10.',"
    "   CAST(doc_id % 256 AS STRING), '.0.',"
    "   CAST((doc_id * 7) % 256 AS STRING)) ELSE '' END)"
)


def pii_scrub_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread(spark, T(spark, sf, "documents"))
    aug = F.expr(_PII_AUG_SQL)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IP_RE,
        "<IP>",
    )
    n_emails = F.regexp_count(aug, F.lit(PII_EMAIL_RE))
    n_phones = F.regexp_count(aug, F.lit(PII_PHONE_RE))
    n_ips = F.regexp_count(aug, F.lit(PII_IP_RE))
    return docs.select(
        "doc_id",
        "source",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
        (n_emails + n_phones + n_ips).alias("n_redactions"),
        F.md5(F.encode(redacted, "UTF-8")).alias("redacted_fp"),
    ).orderBy("doc_id")


_PII_AUG_DUCK = _PII_AUG_SQL.replace("AS STRING", "AS VARCHAR")

PII_SCRUB_STATS_SQL = f"""
WITH a AS (
  SELECT doc_id, source, {_PII_AUG_DUCK} AS aug FROM documents
), c AS (
  SELECT doc_id, source, aug,
         len(regexp_extract_all(aug, '{PII_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(aug, '{PII_PHONE_RE}')) AS n_phones,
         len(regexp_extract_all(aug, '{PII_IP_RE}')) AS n_ips,
         regexp_replace(regexp_replace(regexp_replace(aug,
             '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{PII_PHONE_RE}', '<PHONE>', 'g'),
             '{PII_IP_RE}', '<IP>', 'g') AS redacted
  FROM a
)
SELECT doc_id, source, n_emails, n_phones, n_ips,
       n_emails + n_phones + n_ips AS n_redactions,
       md5(redacted) AS redacted_fp
FROM c
ORDER BY doc_id
"""


QUERIES = {
    "doc_token_stats": (doc_token_stats, DOC_TOKEN_STATS_SQL),
    "pii_scrub_stats": (pii_scrub_stats, PII_SCRUB_STATS_SQL),
    "doc_length_percentiles": (doc_length_percentiles, DOC_LENGTH_PERCENTILES_SQL),
    "doc_length_percentiles_approx": (
        doc_length_percentiles_approx,
        DOC_LENGTH_PERCENTILES_APPROX_SQL,
    ),
    "training_mix_sample": (training_mix_sample, TRAINING_MIX_SAMPLE_SQL),
    "doc_quality_scores": (doc_quality_scores, DOC_QUALITY_SCORES_SQL),
    "lang_id_ngram": (lang_id_ngram, LANG_ID_NGRAM_SQL),
    "doc_fingerprint": (doc_fingerprint, DOC_FINGERPRINT_SQL),
}


# --------------------------------------------------------------------------
# Per-source token-distribution drift: KL(source ‖ corpus) over a
# bucketed token-id histogram — the standing QA check that catches a
# source whose content shifted under the pipeline (a scraper picking
# up boilerplate, a dedup pass gutting one domain) without reading any
# text downstream of the tokenizer.
#
# Scale shape: the only wide operation is groupBy(source, bucket) over
# exploded token ids, which partial-aggregates map-side to at most
# |sources|·B rows — at 100 TB the shuffle carries counts, never
# tokens. Everything after (corpus mixture, smoothing, the KL fold)
# operates on that tiny frame. Cross-engine: Laplace-smoothed shares,
# per-bucket KL terms cast to decimal(38,6) before summing (the module
# parity rule — term order can't move the sum), ln is correctly
# rounded to well below the 6th decimal in both engines.

DRIFT_BUCKETS = 64


def source_token_drift(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.exprs import dsum
    from .repetition import tokenize_documents_raw

    raw = tokenize_documents_raw(spark, sf)
    # four consumers below (source totals, bucket totals, grand total,
    # the grid join): persisted, the documents are scanned and
    # tokenized once instead of once per consumer. explode_outer plus a
    # NULL filter: Catalyst pushes the non-empty filter it infers from a
    # plain explode below the spread, onto a second tokenization
    counts = persist_replacing(
        "drift_counts",
        sf,
        raw.select("source", F.explode_outer("tokens").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("source", (F.col("tok") % DRIFT_BUCKETS).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n")),
    )
    src_tot = counts.groupBy("source").agg(F.sum("n").alias("tot_s"))
    all_tot = counts.groupBy("bucket").agg(F.sum("n").alias("n_all"))
    grand = counts.agg(F.sum("n").alias("tot")).select("tot")
    b = DRIFT_BUCKETS
    # the KL fold needs the DENSE source x bucket grid: smoothing gives
    # zero-count buckets positive mass, and summing only the present
    # rows would drop those (possibly positive) terms — observed as
    # negative "KL" before the spine was added. |sources| x B rows,
    # driver-trivial.
    spine = spark.range(b).select(F.col("id").cast("int").alias("bucket"))
    grid = src_tot.crossJoin(F.broadcast(spine))
    joined = (
        grid.join(counts, ["source", "bucket"], "left")
        .join(all_tot, "bucket", "left")
        .crossJoin(F.broadcast(grand))
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
        .withColumn("n_all", F.coalesce(F.col("n_all"), F.lit(0)))
    )
    p = (F.col("n") + 1) / (F.col("tot_s") + b)
    q = (F.col("n_all") + 1) / (F.col("tot") + b)
    term = p * F.log(p / q)
    return (
        joined.groupBy("source")
        .agg(
            F.max("tot_s").cast("long").alias("n_tokens"),
            F.round(dsum(term), 6).alias("kl_to_corpus"),
        )
        .orderBy("source")
    )


SOURCE_TOKEN_DRIFT_SQL = f"""
WITH toks AS (
  SELECT source,
         unnest(list_transform(list_filter(string_split(lower(text), ' '),
                                           w -> length(w) > 0),
                               w -> {{tok_id}})) AS tok
  FROM documents
),
counts AS (
  SELECT source, tok % {DRIFT_BUCKETS} AS bucket, count(*) AS n
  FROM toks GROUP BY 1, 2
),
src_tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot_s FROM counts GROUP BY 1),
all_tot AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS n_all FROM counts GROUP BY 1),
grand AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM counts),
spine AS (SELECT CAST(range AS INTEGER) AS bucket FROM range({DRIFT_BUCKETS})),
grid AS (SELECT s.source, s.tot_s, b.bucket FROM src_tot s CROSS JOIN spine b),
terms AS (
  SELECT g.source, g.tot_s,
         ((COALESCE(c.n, 0) + 1) * 1.0 / (g.tot_s + {DRIFT_BUCKETS}))
           * ln(((COALESCE(c.n, 0) + 1) * 1.0 / (g.tot_s + {DRIFT_BUCKETS}))
                / ((COALESCE(a.n_all, 0) + 1) * 1.0 / (t.tot + {DRIFT_BUCKETS}))) AS term
  FROM grid g LEFT JOIN counts c ON c.source = g.source AND c.bucket = g.bucket
              LEFT JOIN all_tot a ON a.bucket = g.bucket, grand t
)
SELECT source,
       CAST(max(tot_s) AS BIGINT) AS n_tokens,
       round(CAST(sum(CAST(term AS DECIMAL(38,6))) AS DOUBLE), 6) AS kl_to_corpus
FROM terms
GROUP BY source
ORDER BY source
"""

from .repetition import _TOKEN_ID_SQL as _DRIFT_TOKEN_ID_SQL  # noqa: E402

SOURCE_TOKEN_DRIFT_SQL = SOURCE_TOKEN_DRIFT_SQL.format(tok_id=_DRIFT_TOKEN_ID_SQL)

QUERIES["source_token_drift"] = (
    source_token_drift,
    SOURCE_TOKEN_DRIFT_SQL,
)
