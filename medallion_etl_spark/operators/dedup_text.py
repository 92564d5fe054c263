"""Deduplication operators for a training-data pipeline: exact
(hash-groupBy), n-gram Jaccard, MinHash+LSH banding, SimHash, and
embedding-cosine near-dup — each as a (DataFrame fn, DuckDB oracle)
pair computing the identical deterministic function (md5 everywhere,
left-to-right folds, similarity values rounded to 6 decimals).

Scale shapes (the part that matters at 100 TB):
- exact dedup: one hash aggregate on a 32-char digest — shuffle carries
  (digest, doc_id, n_chars) only, never the text.
- per-document cost is linear in its words: every array a lambda
  reads (the word split, the shingle digests) is bound once per row
  with functions/exprs.let, so a shingle, window or hash lambda reads a
  lambda variable, never a re-split of the text.
- n-gram Jaccard / MinHash: candidate generation is an equi-join on
  shingle / band-bucket keys, i.e. the classic "shingle -> band ->
  bucket-join" plan; stop-shingles (document frequency > DF_CAP) are
  dropped before the self-join, which is what bounds the join fan-out
  on pathological common shingles. Pair scoring happens on the joined
  candidates only, never all |docs|^2 pairs.
- SimHash: per-row 16-bit signature from word hashes (pure expression,
  no shuffle) + one group-by on the signature.
- embedding cosine: brute-force pair join is the small-N baseline (the
  oracle-checkable reference); the LSH-bucketed variant in
  similarity.py is the scale path.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exprs import let
from ..sources.readers import load_table as T
from .util import persist_replacing, spread

N_HASHES = 8
N_BANDS = 4  # bands of 2 rows each
DF_CAP = 100  # drop shingles present in more than this many docs
JACCARD_TOPK = 20
COS_THRESHOLD = 0.35

# --------------------------------------------------------------------------
# helpers (Spark side)


def _words(col: str = "text") -> F.Column:
    return F.split(F.lower(col), " ")


def _windows(words: F.Column, k: int) -> F.Column:
    """md5 digests of every overlapping k-word window of a BOUND words
    array (a lambda variable from ``let``), in position order. Caller
    guarantees size(words) >= k."""
    return F.transform(
        F.sequence(F.lit(1), F.size(words) - (k - 1)),
        lambda i: F.md5(F.encode(F.concat_ws(" ", F.slice(words, i, k)), "UTF-8")),
    )


def _long_doc_windows(k: int) -> F.Column:
    """The k-word window digests of the text, or NULL for a document
    shorter than k words. The length cut reads the bound words array:
    as a row filter, Catalyst pushes it below the projection onto a
    second split of the text. Explode it with ``explode_outer`` and
    drop the NULL row after: a plain explode makes Catalyst infer the
    same pushed-down filter."""
    return let(_words(), lambda w: F.when(F.size(w) >= k, _windows(w, k)))


def _grams(words: F.Column, k: int) -> F.Column:
    """Word k-gram digests of a BOUND words array; a document shorter
    than k words is one gram, the digest of all its words."""
    whole = F.array(F.md5(F.encode(F.concat_ws(" ", words), "UTF-8")))
    return F.when(F.size(words) >= k, _windows(words, k)).otherwise(whole)


def _shingles(words: F.Column, k: int = 3) -> F.Column:
    """Distinct word k-gram shingles, md5-hashed to 32-char digests."""
    return let(words, lambda w: F.array_distinct(_grams(w, k)))


_SHINGLES_SQL = """
  SELECT doc_id,
         list_distinct(CASE WHEN len(words) >= 3
              THEN list_transform(range(1, len(words) - 1),
                                  i -> md5(array_to_string(words[i:i+2], ' ')))
              ELSE [md5(array_to_string(words, ' '))]
         END) AS shingles
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents)
"""

# --------------------------------------------------------------------------
# Exact dedup: group by content digest. The shuffle never carries text.


def exact_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    docs = T(spark, sf, "documents")
    digest = F.md5(F.encode(F.lower(F.trim("text")), "UTF-8"))
    return (
        docs.select(digest.alias("content_hash"), "doc_id", "n_chars")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("content_hash")
    )


EXACT_DEDUP_DOCS_SQL = """
SELECT md5(lower(trim(text))) AS content_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
ORDER BY content_hash
"""

# --------------------------------------------------------------------------
# n-gram Jaccard: shingle equi-join candidates -> exact Jaccard -> top-k
# pairs. DF_CAP bounds the fan-out of hot shingles before the self-join.


def ngram_jaccard_topk(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread(spark, T(spark, sf, "documents"))
    # persist the exploded shingle frame: sizes, the document-frequency
    # cap and BOTH sides of the self-join derive from it, so without
    # the cache the text scan + tokenize + md5 pipeline runs ~3x per
    # query (the same reuse pattern minhash_near_dup_pairs pins on its
    # signature frame; InMemoryTableScan asserted in
    # tests/test_plan_shapes.py)
    sh = persist_replacing(
        "jaccard_shingles",
        sf,
        docs.select("doc_id", F.explode(_shingles(_words())).alias("shingle")),
        StorageLevel.MEMORY_AND_DISK,
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    rare = sh.join(
        sh.groupBy("shingle").agg(F.countDistinct("doc_id").alias("df")).filter(F.col("df") <= DF_CAP),
        "shingle",
    ).select("doc_id", "shingle")
    a, b = rare.alias("a"), rare.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")), 6).alias(
                "jaccard"
            ),
        )
        .orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
        .limit(JACCARD_TOPK)
    )


NGRAM_JACCARD_TOPK_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
flat AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM flat GROUP BY 1),
rare AS (
  SELECT doc_id, shingle FROM flat
  WHERE shingle IN (SELECT shingle FROM flat GROUP BY 1 HAVING count(DISTINCT doc_id) <= {DF_CAP})
),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
ORDER BY jaccard DESC, doc_a, doc_b
LIMIT {JACCARD_TOPK}
"""

# --------------------------------------------------------------------------
# MinHash + LSH banding: signature = min over shingles of md5(i|shingle)
# per hash i; band key = md5 of the band's rows; docs sharing a band
# bucket become candidates; estimated similarity = matching-signature
# fraction. Fully deterministic -> oracle computes the same pipeline.


def _minhash_sig(shingles: F.Column) -> F.Column:
    def mh(sh: F.Column, i: int) -> F.Column:
        prefix = F.lit(f"{i}|")
        return F.array_min(
            F.transform(sh, lambda s: F.md5(F.encode(F.concat(prefix, s), "UTF-8")))
        )

    return let(shingles, lambda sh: F.array(*[mh(sh, i) for i in range(N_HASHES)]))


def band_buckets(mh: F.Column) -> F.Column:
    """LSH band keys of a minhash signature: array<struct<band int,
    bucket string>> — N_BANDS bands of N_HASHES/N_BANDS signature rows,
    bucket = md5 of the band's rows. Shared by the batch candidate
    join below and the incremental maintenance in
    dedup_incremental.py, so the two can never band differently."""
    rows_per_band = N_HASHES // N_BANDS
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.encode(
                        F.concat_ws(
                            "|",
                            *[
                                F.element_at(mh, b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ],
                        ),
                        "UTF-8",
                    )
                ).alias("bucket"),
            )
            for b in range(N_BANDS)
        ]
    )


def _minhash_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) from LSH band buckets,
    with the signature-agreement estimate — shared by the pair report
    and the connected-components clustering in dedup_cluster.py."""
    docs = spread(spark, T(spark, sf, "documents"))
    # persist: the signature pipeline (9 md5 passes over every shingle)
    # feeds BOTH sides of the band self-join and the final similarity —
    # without it Spark recomputes the hashing 3x. The cached frame is
    # tiny (one row per doc); at 100 TB this is a materialized
    # signature table, the standard shape for LSH pipelines.
    sig = persist_replacing(
        "minhash_sig", sf, docs.select("doc_id", _minhash_sig(_shingles(_words())).alias("mh"))
    )
    bands = sig.select(
        "doc_id", "mh", F.explode(band_buckets(F.col("mh"))).alias("bk")
    ).select("doc_id", "mh", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_shared_bands"),
            F.first(F.col("a.mh")).alias("mh_a"),
            F.first(F.col("b.mh")).alias("mh_b"),
        )
    )
    est = F.size(F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda v: v)) / F.lit(
        float(N_HASHES)
    )
    return cand.select("doc_a", "doc_b", "n_shared_bands", F.round(est, 6).alias("est_jaccard"))


def minhash_near_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return _minhash_candidates(spark, sf).orderBy(
        F.col("est_jaccard").desc(), "doc_a", "doc_b"
    )


_MH_COLS_SQL = ", ".join(
    f"list_min(list_transform(shingles, s -> md5('{i}|' || s))) AS mh{i}" for i in range(N_HASHES)
)
_ROWS_PER_BAND = N_HASHES // N_BANDS
_BAND_STRUCTS_SQL = ", ".join(
    "{'band': %d, 'bucket': md5(%s)}"
    % (b, " || '|' || ".join(f"mh{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)))
    for b in range(N_BANDS)
)
_MH_EQ_SQL = " + ".join(f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))

# the CTE chain up to `cand` (doc_a, doc_b, n_shared_bands, n_eq) —
# shared with the connected-components oracle in dedup_cluster.py
MINHASH_CAND_CTES = f"""sh AS ({_SHINGLES_SQL}),
sig AS (SELECT doc_id, {_MH_COLS_SQL} FROM sh),
bands AS (
  SELECT doc_id, {', '.join(f'mh{i}' for i in range(N_HASHES))}, unnest([{_BAND_STRUCTS_SQL}], recursive := true)
  FROM sig
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS n_shared_bands,
         ({_MH_EQ_SQL}) AS n_eq
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 4
)"""

MINHASH_NEAR_DUP_PAIRS_SQL = f"""
WITH {MINHASH_CAND_CTES}
SELECT doc_a, doc_b, n_shared_bands,
       round(n_eq / {float(N_HASHES)}, 6) AS est_jaccard
FROM cand
ORDER BY est_jaccard DESC, doc_a, doc_b
"""

# --------------------------------------------------------------------------
# SimHash: 16-bit signature; bit b is the sign of the sum over distinct
# words of (+1/-1 from md5 hex digit b's parity). Pure per-row
# expression; clustering = one group-by on the signature.

SIMHASH_BITS = 16


def simhash_clusters(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread(spark, T(spark, sf, "documents"))
    hashes = F.transform(
        F.array_distinct(_words()), lambda w: F.md5(F.encode(w, "UTF-8"))
    )

    def bit(hs: F.Column, b: int) -> F.Column:
        pos = b + 1
        total = F.aggregate(
            hs,
            F.lit(0),
            lambda acc, h: acc + (F.conv(F.substring(h, pos, 1), 16, 10).cast("int") % 2) * 2 - 1,
        )
        return F.when(total > 0, F.lit("1")).otherwise(F.lit("0"))

    sig = let(hashes, lambda hs: F.concat(*[bit(hs, b) for b in range(SIMHASH_BITS)]))
    return (
        docs.select(sig.alias("simhash"), "doc_id")
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_doc_id"))
        .orderBy("simhash")
    )


_BIT_SQL = ", ".join(
    "CASE WHEN list_sum(list_transform(hashes, h -> "
    f"((strpos('0123456789abcdef', h[{b + 1}:{b + 1}]) - 1) % 2) * 2 - 1)) > 0 "
    f"THEN '1' ELSE '0' END AS bit{b}"
    for b in range(SIMHASH_BITS)
)

SIMHASH_CLUSTERS_SQL = f"""
WITH h AS (
  SELECT doc_id,
         list_transform(list_distinct(string_split(lower(text), ' ')), w -> md5(w)) AS hashes
  FROM documents
), bits AS (
  SELECT doc_id, {_BIT_SQL} FROM h
)
SELECT {' || '.join(f'bit{b}' for b in range(SIMHASH_BITS))} AS simhash,
       count(*) AS n_docs,
       min(doc_id) AS canonical_doc_id
FROM bits
GROUP BY 1
ORDER BY simhash
"""

# --------------------------------------------------------------------------
# Embedding-cosine near-dup: brute-force pair join (the oracle-checkable
# baseline; LSH-bucketed scale path in similarity.py). Double-precision
# left-to-right dot products on both engines, rounded to 6 decimals.


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _dvec(col: str) -> F.Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def embedding_near_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    emb = T(spark, sf, "embeddings").select(
        "vec_id", _dvec("embedding").alias("v")
    )
    normed = emb.select(
        "vec_id", "v", F.sqrt(_dot(F.col("v"), F.col("v"))).alias("norm")
    )
    a, b = normed.alias("a"), normed.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= COS_THRESHOLD)
        .orderBy(F.col("cosine").desc(), "vec_a", "vec_b")
    )


_DOT_SQL = (
    "list_reduce(list_transform(range(1, 65), i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)

EMBEDDING_NEAR_DUP_PAIRS_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt({_DOT_SQL.format(a='v', b='v')}) AS norm FROM v
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_DOT_SQL.format(a='a.v', b='b.v')} / (a.norm * b.norm), 6) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round({_DOT_SQL.format(a='a.v', b='b.v')} / (a.norm * b.norm), 6) >= {COS_THRESHOLD}
ORDER BY cosine DESC, vec_a, vec_b
"""


# --------------------------------------------------------------------------
# Benchmark decontamination: flag training docs that share word-shingles
# with a held-out evaluation set (the published GPT-3 appendix-C /
# Pile-style n-gram decontamination step). On the testdata the eval set
# is the deterministic doc_id % 20 == 0 slice; contamination = any
# shared distinct shingle, reported per doc with its hit count so the
# pipeline can threshold or hard-drop.
#
# Scale shape: the eval set is SMALL by nature (a benchmark), so its
# distinct-shingle relation broadcasts — the corpus-side explode joins
# map-side and the corpus text never shuffles; cost is one corpus scan
# + one small aggregation. At 100 TB this is the only shape that works:
# an all-pairs or corpus-shuffling plan would be quadratic or move the
# training text for a filter that discards almost nothing.


def decontaminate_against_benchmark(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread(spark, T(spark, sf, "documents"))
    flat = docs.select("doc_id", F.explode(_shingles(_words())).alias("shingle"))
    is_bench = F.col("doc_id") % 20 == 0
    bench = flat.filter(is_bench).select("shingle").distinct()
    return (
        flat.filter(~is_bench)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bench_shingles"))
        .orderBy("doc_id")
    )


DECONTAMINATE_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
flat AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
bench AS (SELECT DISTINCT shingle FROM flat WHERE doc_id % 20 = 0)
SELECT f.doc_id, count(*) AS n_bench_shingles
FROM flat f JOIN bench USING (shingle)
WHERE f.doc_id % 20 <> 0
GROUP BY 1
ORDER BY 1
"""


# --------------------------------------------------------------------------
# Exact-substring duplication measurement (the MassiveText / RefinedWeb
# "duplicated span" statistic): for every overlapping K-word window of
# every document, how many windows also appear verbatim in ANOTHER
# document — reported per doc as a duplicated-window fraction plus a
# keep flag. The literature computes exact substring dups with a corpus
# suffix array (sequential, memory-resident); the fixed-K overlapping
# window grid is the shuffle-friendly re-expression: same signal for
# spans >= K words, and every stage is a plain hash shuffle.
#
# Scale shape: windows are md5'd BEFORE the explode, so the shuffle
# carries (doc_id, 32-char digest) rows and the text never moves; the
# window-frequency aggregate and the join-back hash-partition on the
# SAME key (one exchange, reused); amplification is a fixed K x
# words-per-doc, not quadratic. Docs shorter than K words carry no
# window and are excluded in both engines.

DUP_SPAN_K = 5
DUP_SPAN_KEEP_MAX = 0.3  # keep docs with <= 30% cross-doc duplicated windows


def dup_span_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread(spark, T(spark, sf, "documents"))
    # persisted for the same reason as the shingle frames above: the
    # window-frequency agg and the join-back are both built from it
    flat = persist_replacing(
        "dup_span_wins",
        sf,
        docs.select("doc_id", F.explode_outer(_long_doc_windows(DUP_SPAN_K)).alias("w"))
        .filter(F.col("w").isNotNull()),
        StorageLevel.MEMORY_AND_DISK,
    )
    freq = flat.groupBy("w").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        flat.join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.round(
                F.avg(F.when(F.col("nd") > 1, 1.0).otherwise(0.0)), 6
            ).alias("dup_win_frac"),
        )
        .withColumn(
            "keep", (F.col("dup_win_frac") <= F.lit(DUP_SPAN_KEEP_MAX)).cast("int")
        )
        .orderBy("doc_id")
    )


DUP_SPAN_STATS_SQL = f"""
WITH eligible AS (
  SELECT doc_id, words
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents)
  WHERE len(words) >= {DUP_SPAN_K}
), flat AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(words) - {DUP_SPAN_K - 2}),
                               i -> md5(array_to_string(words[i:i+{DUP_SPAN_K - 1}], ' ')))) AS w
  FROM eligible
), freq AS (
  SELECT w, count(DISTINCT doc_id) AS nd FROM flat GROUP BY w
), per_doc AS (
  SELECT f.doc_id,
         count(*) AS n_windows,
         round(avg(CASE WHEN freq.nd > 1 THEN 1.0 ELSE 0.0 END), 6) AS dup_win_frac
  FROM flat f JOIN freq USING (w)
  GROUP BY 1
)
SELECT doc_id, n_windows, dup_win_frac,
       CAST(dup_win_frac <= {DUP_SPAN_KEEP_MAX} AS INT) AS keep
FROM per_doc
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Exact-substring duplicate-span REMOVAL (the transformation that
# completes the dup_span_stats measurement): rewrite every document
# with all-but-the-first occurrence of every duplicated K-word window
# cut out — the "ExactSubstr" dedup of Lee et al. 2022 ("Deduplicating
# Training Data Makes Language Models Better") / RefinedWeb, whose
# suffix-array pass is re-expressed on the same shuffle-friendly
# fixed-K window grid as dup_span_stats. Within-doc repeats count:
# every occurrence past the global first (ordered by doc_id, pos) is
# removed, and removal covers the K word positions under the window.
#
# Scale shape — deliberately JOIN-FREE:
# - duplicate occurrences come from row_number() over the digest
#   (one hash exchange carrying (doc_id, pos, 32-char digest), never
#   text); a pathologically hot digest costs a sort, not an all-pairs
#   candidate explosion the way a freq-join formulation would.
# - coverage marking is the asof.py union + carry-forward-window
#   pattern: word positions UNION removal starts, one exchange on
#   doc_id, running max of the last start within K positions. Linear.
# - reassembly shares the doc_id partitioning (window then groupBy on
#   the same key — no extra exchange). The doc_id exchange carries
#   single words (the rebuild's irreducible payload), never whole
#   documents.


def dup_span_removal(docs: DataFrame, k: int = DUP_SPAN_K) -> DataFrame:
    """(doc_id, text) -> (doc_id, n_words, n_removed, kept_md5).

    kept_md5 is md5 of the rewritten document (kept words joined by a
    single space; empty string when everything was removed). Docs
    shorter than k words carry no window and pass through untouched.
    """
    words = _words()
    flat = (
        docs.select("doc_id", F.posexplode_outer(_long_doc_windows(k)).alias("p0", "w"))
        .filter(F.col("w").isNotNull())
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "w")
    )
    rn = F.row_number().over(Window.partitionBy("w").orderBy("doc_id", "pos"))
    removal = flat.withColumn("rn", rn).filter(F.col("rn") > 1)
    positions = docs.select(
        "doc_id", F.posexplode(words).alias("p0", "word")
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("p"),
        "word",
        F.lit(0).alias("s_flag"),
    )
    starts = removal.select(
        "doc_id",
        F.col("pos").alias("p"),
        F.lit(None).cast("string").alias("word"),
        F.lit(1).alias("s_flag"),
    )
    # at equal p the start sorts BEFORE the word row (s_flag desc), so a
    # window starting at p already covers the word at p
    carry = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("p").asc(), F.col("s_flag").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = positions.unionByName(starts).withColumn(
        "last_s", F.max(F.when(F.col("s_flag") == 1, F.col("p"))).over(carry)
    )
    covered = F.col("last_s").isNotNull() & (F.col("last_s") >= F.col("p") - (k - 1))
    word_rows = marked.filter(F.col("s_flag") == 0).withColumn(
        "cov", covered.cast("int")
    )
    kept = F.concat_ws(
        " ",
        F.transform(
            F.sort_array(
                F.collect_list(F.when(F.col("cov") == 0, F.struct("p", "word")))
            ),
            lambda x: x["word"],
        ),
    )
    return word_rows.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("cov").alias("n_removed"),
        F.md5(F.encode(kept, "UTF-8")).alias("kept_md5"),
    )


def dup_span_removal_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread(spark, T(spark, sf, "documents"))
    return dup_span_removal(docs, DUP_SPAN_K).orderBy("doc_id")


DUP_SPAN_REMOVAL_SQL = f"""
WITH wsrc AS (
  SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
), flat AS (
  SELECT doc_id, t.i AS pos,
         md5(array_to_string(words[t.i:t.i+{DUP_SPAN_K - 1}], ' ')) AS w
  FROM wsrc, unnest(range(1, len(words) - {DUP_SPAN_K - 2})) AS t(i)
), removal AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
    FROM flat)
  WHERE rn > 1
), positions AS (
  SELECT doc_id, t.p AS p, words[t.p] AS word, 0 AS s_flag
  FROM wsrc, unnest(range(1, len(words) + 1)) AS t(p)
), u AS (
  SELECT doc_id, p, word, s_flag FROM positions
  UNION ALL
  SELECT doc_id, pos AS p, NULL AS word, 1 AS s_flag FROM removal
), marked AS (
  SELECT doc_id, p, word, s_flag,
         max(CASE WHEN s_flag = 1 THEN p END) OVER (
           PARTITION BY doc_id ORDER BY p ASC, s_flag DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_s
  FROM u
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(CASE WHEN last_s IS NOT NULL AND last_s >= p - {DUP_SPAN_K - 1}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(
           CASE WHEN last_s IS NULL OR last_s < p - {DUP_SPAN_K - 1} THEN word END,
           ' ' ORDER BY p), '')) AS kept_md5
FROM marked
WHERE s_flag = 0
GROUP BY doc_id
ORDER BY doc_id
"""


QUERIES = {
    "exact_dedup_docs": (exact_dedup_docs, EXACT_DEDUP_DOCS_SQL),
    "dup_span_removal": (dup_span_removal_stats, DUP_SPAN_REMOVAL_SQL),
    "dup_span_stats": (dup_span_stats, DUP_SPAN_STATS_SQL),
    "decontaminate_against_benchmark": (
        decontaminate_against_benchmark,
        DECONTAMINATE_SQL,
    ),
    "ngram_jaccard_topk": (ngram_jaccard_topk, NGRAM_JACCARD_TOPK_SQL),
    "minhash_near_dup_pairs": (minhash_near_dup_pairs, MINHASH_NEAR_DUP_PAIRS_SQL),
    "simhash_clusters": (simhash_clusters, SIMHASH_CLUSTERS_SQL),
    "embedding_near_dup_pairs": (embedding_near_dup_pairs, EMBEDDING_NEAR_DUP_PAIRS_SQL),
}
