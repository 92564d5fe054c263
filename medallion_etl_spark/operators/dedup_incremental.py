"""Incremental near-dup maintenance over the CDC change feed.

At 10^10-document scale you never re-MinHash the corpus per ingest
cycle: the standing MinHash signatures live in their OWN lake table
(one row per doc), and each refresh consumes the corpus table's change
feed — O(|changed docs|), a metadata bucket-diff plus the changed
rows — recomputes signatures for exactly those docs, and MERGEs them
through the normal exactly-once apply path (deletes become signature
tombstones). New near-dup candidates then come from probing the
changed docs' LSH band buckets against the standing signature table —
never an all-pairs or full-corpus rescan.

This composes three things the engine already guarantees:
- ``read_changes``: NET per-key changes, changed-bucket pruning,
  retention/restore gates (cdc/table.py);
- ``apply_batch``: idempotent LWW merge, so a re-delivered refresh is
  a no-op and an out-of-order pair of refreshes converges;
- ``band_buckets`` (dedup_text.py): the SAME banding expression the
  batch near-dup job uses, so incremental and batch can never band
  differently.

Refresh batch ids are the CORPUS version the refresh advances the
signature table to. They live in the signature table's own manifest —
no collision with the corpus's replay-chunk / range-refresh /
streaming-epoch namespaces — and a re-run of the same span is skipped
by the manifest while a DIFFERENT span presenting the same target
version fails loudly (``manifest.redelivered``).

Scale shape: signature recompute is per-row expressions over the feed
(no shuffle beyond the merge's own); the candidate probe explodes
bands of the (small) changed set, broadcasts it, and equi-joins
against the standing table's bands — shuffle-free on the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cdc.apply import apply_batch
from ..cdc.table import LakeTable, retry_on_fork_rewind
from .dedup_text import N_HASHES, _minhash_sig, _shingles, band_buckets
from .util import scratch_table

SIG_SCHEMA_V1 = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("mh", T.ArrayType(T.StringType()), True),
    ]
)

SIG_SCHEMAS = {1: SIG_SCHEMA_V1}


def token_minhash(tokens: F.Column) -> F.Column:
    """MinHash signature (N_HASHES md5 strings) of a token array:
    tokens render to strings, 3-gram shingles, min-md5 per hash —
    the token-side twin of the text pipeline in dedup_text.py."""
    words = F.transform(tokens, lambda t: t.cast("string"))
    return _minhash_sig(_shingles(words))


def create_signature_table(root: str, *, n_buckets: int = 16) -> LakeTable:
    return LakeTable.create(
        root, n_buckets=n_buckets, schema_version=1, schemas=SIG_SCHEMAS
    )


def bootstrap_signatures(
    spark: SparkSession, corpus: LakeTable, sig: LakeTable, **apply_kw
) -> dict:
    """First fill of an EMPTY signature table from the corpus's
    CURRENT snapshot — a raw read, not the change feed, so it works on
    a mature corpus whose feed-from-v0 the retention/restore gates
    rightly refuse (compaction purged old tombstones; a RESTORE broke
    the LSN watermark). An empty derived table needs neither: there is
    nothing to delete and nothing stale to supersede. Each row applies
    at its own stored ``_lsn`` so later feed refreshes LWW-merge
    correctly against it."""
    if sig.committed_batches() or sig.version > 0:
        raise ValueError(
            "bootstrap_signatures requires an empty signature table; "
            "use refresh_signatures to advance an existing one (or "
            "recreate the table to rebuild after a corpus RESTORE)"
        )
    rows = corpus.read(spark, raw=True).filter(
        ~F.coalesce(F.col("_deleted"), F.lit(False))
    )
    events = rows.select(
        F.col("_lsn").alias("lsn"),
        F.lit("U").alias("op"),
        "doc_id",
        token_minhash(F.col("tokens")).alias("mh"),
        F.lit(1).alias("schema_version"),
    )
    return apply_batch(
        spark,
        sig,
        events,
        batch_id=corpus.version,
        lsn_lo=0,
        lsn_hi=corpus.max_committed_lsn(),
        **apply_kw,
    )


def refresh_signatures(
    spark: SparkSession,
    corpus: LakeTable,
    sig: LakeTable,
    since_version: int,
    **apply_kw,
) -> dict:
    """Advance ``sig`` with the corpus changes in
    ``(since_version, corpus.version]``. Returns the apply stats.

    The LSN span is taken from the two snapshots' commit watermarks
    (metadata only); the feed itself provides one NET event per
    changed key. Upserts carry the recomputed signature, deletes
    tombstone it — both ride the ordinary merge, so refreshes are
    idempotent and order-independent like any other batch.

    A NET-EMPTY span still commits its (empty) batch: the committed
    batch id IS the cursor the CLI reads back, and an un-advanced
    cursor would re-diff the same span forever — and wedge outright
    once a later compaction's tombstone purge passes the stale
    cursor's watermark (read_changes's retention gate)."""
    if since_version >= corpus.version:
        return {"skipped_empty": True, "batch_id": None, "rows_applied": 0}
    changes = corpus.read_changes(spark, since_version)
    is_del = F.col("_change_type") == "delete"
    events = changes.select(
        F.col("_lsn").alias("lsn"),
        F.when(is_del, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        "doc_id",
        F.when(is_del, F.lit(None)).otherwise(token_minhash(F.col("tokens"))).alias("mh"),
        F.lit(1).alias("schema_version"),
    )
    old_wm = LakeTable.load_version(corpus.root, since_version).max_committed_lsn()
    new_wm = corpus.max_committed_lsn()
    return apply_batch(
        spark,
        sig,
        events,
        batch_id=corpus.version,
        lsn_lo=old_wm + 1,
        lsn_hi=new_wm,
        **apply_kw,
    )


def incremental_candidates(
    spark: SparkSession,
    sig: LakeTable,
    changed_keys: DataFrame | None = None,
    *,
    changed_sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidates FOR the changed docs: (doc_id, candidate_id,
    n_shared_bands, est_jaccard) where doc_id ∈ changed — every
    standing doc sharing at least one LSH band bucket with a changed
    doc's fresh signature. Directional on purpose: maintenance asks
    "who does this updated doc now collide with", and a changed-changed
    pair simply appears once per direction.

    Pass ``changed_sigs`` (doc_id, mh) when the caller already holds
    the fresh signatures — the refresh that triggered the probe just
    computed them — so the probe touches the signature table exactly
    ONCE (the standing scan). With only ``changed_keys``, the changed
    side is a key-semi-joined second read (filter pushed to the scan,
    band-explode only after the filter). Either way the changed side
    is broadcast and the standing side's band explode is map-only, so
    the probe never shuffles the signature table."""
    if (changed_keys is None) == (changed_sigs is None):
        raise ValueError("pass exactly one of changed_keys / changed_sigs")
    state = sig.read(spark)
    if changed_sigs is None:
        changed_sigs = state.join(
            F.broadcast(changed_keys.select("doc_id").distinct()), "doc_id", "semi"
        )
    else:
        # the contract is ONE signature per doc (the NET feed shape);
        # exact-duplicate rows would double-count shared bands, so
        # collapse them. Conflicting signatures for one doc_id are a
        # caller bug this cannot repair — the NET feed never produces
        # them.
        changed_sigs = changed_sigs.dropDuplicates(["doc_id"])
    ch = changed_sigs.select(
        F.col("doc_id").alias("_cid"),
        F.col("mh").alias("_cmh"),
        F.explode(band_buckets(F.col("mh"))).alias("bk"),
    ).select("_cid", "_cmh", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))
    standing = state.select(
        F.col("doc_id").alias("_oid"),
        F.col("mh").alias("_omh"),
        F.explode(band_buckets(F.col("mh"))).alias("bk"),
    ).select("_oid", "_omh", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))
    hits = standing.join(F.broadcast(ch), ["band", "bucket"]).filter(
        F.col("_oid") != F.col("_cid")
    )
    return (
        hits.groupBy(F.col("_cid").alias("doc_id"), F.col("_oid").alias("candidate_id"))
        .agg(
            F.count(F.lit(1)).alias("n_shared_bands"),
            F.first("_cmh").alias("_a"),
            F.first("_omh").alias("_b"),
        )
        .select(
            "doc_id",
            "candidate_id",
            "n_shared_bands",
            F.round(
                F.size(
                    F.filter(F.zip_with("_a", "_b", lambda x, y: x == y), lambda v: v)
                )
                / F.lit(float(N_HASHES)),
                6,
            ).alias("est_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Driver-contract query: replay the events change stream into a corpus
# table in two resumable spans, maintain the signature table from the
# change feed after EACH span (bootstrap + incremental refresh), and
# return the final signatures. The DuckDB oracle computes the same
# minhash directly over the stream's LWW final state, so the gate
# checks feed -> per-changed-doc recompute -> exactly-once merge ->
# tombstone propagation end-to-end.


def _signatures_frame(final: DataFrame) -> DataFrame:
    return final.select(
        "doc_id",
        *[F.element_at("mh", i + 1).alias(f"mh_{i}") for i in range(N_HASHES)],
    ).orderBy("doc_id")


def cdc_incremental_signatures(spark: SparkSession, sf: str) -> DataFrame:
    from ..cdc.replay import replay
    from .cdc_query import _replay_events

    def build(tmp: str) -> str:
        corpus_root, sig_root = f"{tmp}/corpus", f"{tmp}/sig"
        sig = create_signature_table(sig_root, n_buckets=8)
        r = _replay_events(spark, sf, corpus_root, 2, max_batches=1)
        corpus = LakeTable.load(corpus_root)
        v_mid = corpus.version
        refresh_signatures(spark, corpus, sig, since_version=0)
        replay(spark, r.stream, corpus, chunk_size=r.chunk)  # resume the tail
        corpus = LakeTable.load(corpus_root)
        refresh_signatures(spark, corpus, LakeTable.load(sig_root), since_version=v_mid)
        return sig_root

    root = scratch_table("cdc_sig", sf, build)
    return _signatures_frame(LakeTable.load(root).read(spark))


_TOK_STR = (
    "concat_ws(' ', CAST(FLOOR(value * 100) AS INT), "
    "CAST(user_id AS INT), CAST(event_id AS INT))"
)
_MH_COLS = ",\n       ".join(
    f"md5(concat('{i}|', md5({_TOK_STR}))) AS mh_{i}" for i in range(N_HASHES)
)

CDC_INCREMENTAL_SIGNATURES_SQL = f"""
SELECT concat('u', user_id) AS doc_id,
       {_MH_COLS}
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
  AND event_type <> 'error'
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Composition flagship: the documented HARDEST maintenance case — a
# corpus RESTORE invalidates the derived table (restored rows carry
# pre-restore LSNs, so LWW can never revert the stale higher-LSN
# signatures). The correct sequence, exercised end-to-end here exactly
# as scripts/orchestrator.py's --rebootstrap ships it:
#
#   replay span 1 -> refresh        (normal feed maintenance)
#   replay span 2 -> refresh
#   RESTORE corpus to the mid snapshot
#   refresh                         -> MUST refuse (feed restore gate)
#   rebootstrap: build-aside + atomic swap from the restored snapshot
#   resume the tail (undone chunks pending again) -> feed refresh
#
# The final signatures must equal the plain full-stream oracle: the
# restore/rebootstrap detour loses and invents nothing. This is the
# green row proving the table-format layer (restore, feed gates,
# manifest rollback) and the derived-table maintenance compose.


def sig_rebootstrap_after_restore(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil

    from ..cdc.replay import replay
    from .cdc_query import _replay_events

    def build(tmp: str) -> str:
        corpus_root, sig_root = f"{tmp}/corpus", f"{tmp}/sig"
        sig = create_signature_table(sig_root, n_buckets=8)
        r = _replay_events(spark, sf, corpus_root, 2, max_batches=1)
        corpus = LakeTable.load(corpus_root)
        v_mid = corpus.version
        refresh_signatures(spark, corpus, sig, since_version=0)
        replay(spark, r.stream, corpus, chunk_size=r.chunk)  # the tail
        corpus = LakeTable.load(corpus_root)
        v_full = corpus.version
        refresh_signatures(
            spark, corpus, LakeTable.load(sig_root), since_version=v_mid
        )
        # RESTORE rolls data AND manifest back to the mid snapshot; the
        # signature table now holds stale higher-LSN rows no feed
        # refresh can revert — the gate must refuse the span
        corpus.restore(v_mid)
        corpus = LakeTable.load(corpus_root)
        v_restored = corpus.version
        try:
            refresh_signatures(
                spark, corpus, LakeTable.load(sig_root), since_version=v_full
            )
            raise AssertionError("feed refresh across a RESTORE must refuse")
        except ValueError:
            pass
        # build-aside + swap (orchestrator --rebootstrap, verbatim)
        rebuild = f"{sig_root}.rebuild"
        shutil.rmtree(rebuild, ignore_errors=True)
        new_sig = create_signature_table(rebuild, n_buckets=8)
        bootstrap_signatures(spark, corpus, new_sig)
        shutil.rmtree(sig_root)
        os.rename(rebuild, sig_root)
        # resume: the restore made the tail chunks pending again
        replay(spark, r.stream, LakeTable.load(corpus_root), chunk_size=r.chunk)
        corpus = LakeTable.load(corpus_root)
        refresh_signatures(
            spark, corpus, LakeTable.load(sig_root), since_version=v_restored
        )
        return sig_root

    root = scratch_table("cdc_sig_restore", sf, build)
    return _signatures_frame(LakeTable.load(root).read(spark))


QUERIES = {
    "cdc_incremental_signatures": (
        cdc_incremental_signatures,
        CDC_INCREMENTAL_SIGNATURES_SQL,
    ),
    # identical oracle on purpose: the restore/rebootstrap detour must
    # land on the same full-stream LWW signatures
    "sig_rebootstrap_after_restore": (
        sig_rebootstrap_after_restore,
        CDC_INCREMENTAL_SIGNATURES_SQL,
    ),
}


# --------------------------------------------------------------------------
# Continuous variant: the signature table maintained by a Structured
# Streaming query over the corpus's `lake_feed` change-feed source —
# the Delta-Live-Tables-style "derived table that follows the base
# table" shape. Exactly-once is the same composition stream_replay.py
# documents: the checkpoint re-delivers identical epochs, the manifest
# makes each epoch idempotent, and epoch batch-ids live in the
# per-checkpoint streaming namespace so they can never collide with
# the batch refreshes' corpus-version ids.


def stream_refresh_signatures(
    spark: SparkSession,
    corpus_root: str,
    sig_root: str,
    checkpoint_dir: str,
    *,
    start_version: int = 0,
    max_versions_per_trigger: int | None = None,
    timeout_sec: float = 120.0,
) -> dict:
    """Drain the corpus change feed into the signature table (one
    availableNow pass; rerun to follow new commits). Returns totals."""
    from ..streaming.feed_source import read_feed_stream
    from ..cdc.manifest import stream_batch_id

    totals = {"epochs": 0, "rows_applied": 0}

    def apply_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        bounds = batch_df.agg(
            F.min("_lsn").alias("lo"), F.max("_lsn").alias("hi")
        ).collect()[0]
        if bounds["lo"] is None:
            return
        is_del = F.col("_change_type") == "delete"
        events = batch_df.select(
            F.col("_lsn").alias("lsn"),
            F.when(is_del, F.lit("D")).otherwise(F.lit("U")).alias("op"),
            "doc_id",
            F.when(is_del, F.lit(None))
            .otherwise(token_minhash(F.col("tokens")))
            .alias("mh"),
            F.lit(1).alias("schema_version"),
        )
        # concurrent-commit resilience (same policy as
        # stream_replay.apply_epoch): a batch refresh or maintenance
        # commit on the signature table landing between this epoch's
        # load and its commit raises the fork/rewind guard — the
        # attempt loads a fresh handle itself, so no on_retry is
        # needed.
        out = retry_on_fork_rewind(
            lambda: apply_batch(
                spark,
                LakeTable.load(sig_root),  # fresh handle per attempt
                events,
                batch_id=stream_batch_id(checkpoint_dir, epoch_id),
                lsn_lo=int(bounds["lo"]),
                lsn_hi=int(bounds["hi"]),
                skip_empty_commit=True,
            )
        )
        if not out.get("skipped"):
            totals["epochs"] += 1
            totals["rows_applied"] += int(out.get("rows_applied", 0))

    feed = read_feed_stream(
        spark,
        corpus_root,
        start_version=start_version,
        max_versions_per_trigger=max_versions_per_trigger,
    )
    q = (
        feed.writeStream.foreachBatch(apply_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"signature feed drain exceeded {timeout_sec}s")
    return totals
