"""Deterministic, Spark-native synthetic CDC stream + base-table generator.

Every column is a pure function of the row's ``lsn`` (via seeded
``xxhash64``), so generation:

- is reproducible for a fixed seed regardless of parallelism or
  partitioning (no RNG state, no driver-side loops),
- scales to 10^10 events: ``spark.range(n)`` is a parallel source and
  all derivations are JVM-side whole-stage-codegen expressions (no
  Python in the loop),
- produces hot-key skew on demand (north_rule: explicit salting for
  hot doc_id skew must be exercised).

Reference analog: the ERP API pull that fills ``bronze.raw_sales``
(reference sales_loader.py:51-118); the monotonic ``SERIAL id`` there
is our ``lsn`` (setup_medallion.sql:41).

Schema-evolution marks (reference analog: sql/migrations/ add-column /
PK-widen migrations): events carry ``schema_version`` which bumps from
1 -> 2 (adds ``lang``) at 40% of the stream and 2 -> 3 (widens
``n_tok`` to int64) at 70%.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = ["en", "es", "de", "fr", "pt", "it"]
SOURCES = ["web", "books", "code", "wiki"]

EVOLVE_V2_FRAC = 0.4  # schema_version 2 (add `lang`) from this fraction of the stream
EVOLVE_V3_FRAC = 0.7  # schema_version 3 (widen n_tok) from this fraction


def _h(seed: int, *cols) -> F.Column:
    """Seeded deterministic 64-bit hash of the given columns."""
    return F.xxhash64(F.lit(seed), *cols)


def _pmod(col: F.Column, m: int) -> F.Column:
    return F.pmod(col, F.lit(m))


def _tokens_expr(seed: int, lsn: F.Column, length: F.Column, vocab: int) -> F.Column:
    """array<int32> of ``length`` pseudo-random token ids, derived from lsn."""
    return F.transform(
        F.sequence(F.lit(0), length - 1),
        lambda i: _pmod(_h(seed, lsn, i), vocab).cast("int"),
    )


def gen_events(
    spark: SparkSession,
    n_events: int,
    n_keys: int,
    *,
    seed: int = 42,
    hot_fraction: float = 0.2,
    n_hot: int = 4,
    delete_pct: int = 8,
    insert_pct: int = 30,
    tok_lo: int = 8,
    tok_hi: int = 64,
    vocab: int = 50_000,
    with_evolution: bool = True,
) -> DataFrame:
    """LSN-ordered change stream: (lsn, op, doc_id, tokens, n_tok, source,
    lang, schema_version).

    ``hot_fraction`` of events collapse onto ``n_hot`` hot doc_ids —
    the skew the LWW dedup/merge's map-side partial aggregate must
    absorb. Deletes carry NULL payloads. LSNs are 0..n_events-1,
    unique and totally ordered; callers may lay the files out in any
    order (replay ranks by lsn, never by file order).
    """
    df = spark.range(n_events).withColumnRenamed("id", "lsn")
    lsn = F.col("lsn")

    hot_cut = int(hot_fraction * 1_000_000)
    is_hot = _pmod(_h(seed + 1, lsn), 1_000_000) < hot_cut
    doc_id = F.when(
        is_hot, F.concat(F.lit("hot-"), _pmod(_h(seed + 2, lsn), max(n_hot, 1)))
    ).otherwise(F.concat(F.lit("doc-"), _pmod(_h(seed + 3, lsn), n_keys)))

    op_r = _pmod(_h(seed + 4, lsn), 100)
    op = (
        F.when(op_r < delete_pct, F.lit("D"))
        .when(op_r < delete_pct + insert_pct, F.lit("I"))
        .otherwise(F.lit("U"))
    )

    n_tok = (F.lit(tok_lo) + _pmod(_h(seed + 5, lsn), tok_hi - tok_lo + 1)).cast("int")
    tokens = _tokens_expr(seed + 6, lsn, n_tok, vocab)
    source = F.element_at(
        F.array(*[F.lit(s) for s in SOURCES]), (_pmod(_h(seed + 7, lsn), len(SOURCES)) + 1).cast("int")
    )
    lang = F.element_at(
        F.array(*[F.lit(x) for x in LANGS]), (_pmod(_h(seed + 8, lsn), len(LANGS)) + 1).cast("int")
    )

    if with_evolution:
        v2_at = int(n_events * EVOLVE_V2_FRAC)
        v3_at = int(n_events * EVOLVE_V3_FRAC)
        schema_version = (
            F.when(lsn < v2_at, F.lit(1)).when(lsn < v3_at, F.lit(2)).otherwise(F.lit(3))
        )
    else:
        schema_version = F.lit(1)

    is_del = op == F.lit("D")
    out = df.select(
        lsn,
        op.alias("op"),
        doc_id.alias("doc_id"),
        F.when(is_del, F.lit(None)).otherwise(tokens).alias("tokens"),
        F.when(is_del, F.lit(None)).otherwise(n_tok.cast("long")).alias("n_tok"),
        F.when(is_del, F.lit(None)).otherwise(source).alias("source"),
        F.when(is_del | (schema_version < 2), F.lit(None)).otherwise(lang).alias("lang"),
        schema_version.cast("int").alias("schema_version"),
    )
    return out


def write_events_shuffled(df: DataFrame, path: str, *, n_files: int = 32, seed: int = 7) -> None:
    """Persist the stream with an out-of-order file layout: rows are
    hash-scattered across files so no reader can rely on file order —
    replay must order by lsn (FIXTURES.md A2 requirement)."""
    (
        df.repartition(n_files, _pmod(_h(seed, F.col("lsn")), n_files))
        .write.mode("overwrite")
        .parquet(path)
    )


def write_events_ordered(df: DataFrame, path: str, *, n_files: int = 32) -> None:
    """Persist the stream in LSN-ordered segments — the layout a real
    WAL/binlog tail produces. Parquet min/max row-group stats on lsn
    then let a chunk's ``lsn BETWEEN`` filter prune to ~1/n of the
    files instead of scanning the whole stream per chunk."""
    (
        df.repartitionByRange(n_files, F.col("lsn"))
        .sortWithinPartitions("lsn")
        .write.mode("overwrite")
        .parquet(path)
    )


def gen_docs(
    spark: SparkSession,
    n_docs: int,
    *,
    seed: int = 1042,
    tok_lo: int = 8,
    tok_hi: int = 64,
    vocab: int = 50_000,
) -> DataFrame:
    """Base docs table (BASELINE.json input_hint shape): doc_id, tokens,
    n_tok, source. Used to seed a non-empty upsert target."""
    df = spark.range(n_docs).withColumnRenamed("id", "i")
    i = F.col("i")
    n_tok = (F.lit(tok_lo) + _pmod(_h(seed + 1, i), tok_hi - tok_lo + 1)).cast("int")
    return df.select(
        F.concat(F.lit("doc-"), i).alias("doc_id"),
        _tokens_expr(seed + 2, i, n_tok, vocab).alias("tokens"),
        n_tok.cast("long").alias("n_tok"),
        F.element_at(
            F.array(*[F.lit(s) for s in SOURCES]), (_pmod(_h(seed + 3, i), len(SOURCES)) + 1).cast("int")
        ).alias("source"),
    )
