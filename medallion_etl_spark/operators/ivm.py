"""Incremental aggregate (materialized-view) maintenance over the CDC
change feed — the ALGEBRAIC maintenance class.

``dedup_incremental.py`` maintains a derived table by RECOMPUTING each
changed key (the only option when the derived value is a per-key
function like a MinHash signature). Additive aggregates (COUNT, SUM —
and anything built from them: AVG, ratios) admit the cheaper classic:
advance standing totals by ``+postimage − preimage`` — no per-key
recompute, no scan of unaffected groups. This is the consumer the
preimage feed (cdc/table.py ``read_changes(include_preimage=True)``,
the Delta-CDF ``update_preimage`` analog) was built for.

Per feed row:
- ``upsert``            → +contribution(new row)
- ``update_preimage``   → −contribution(old row)   (emitted for every
  changed key that was live in the old snapshot — updates AND deletes)
- ``delete``            → nothing (its retraction IS the preimage row)

A key that moves between groups retracts from the old group and adds
to the new one with no special casing; a group whose row count reaches
zero is tombstoned; a later insert resurrects it from zero.

Exactly-once and ordering: totals are read-modify-write, so unlike the
LWW signature refresh (order-independent by construction) an
out-of-order or overlapping span would CORRUPT the totals. The refresh
therefore enforces contiguity itself: the committed batch id IS the
cursor (= the corpus version the table is caught up to), and
``refresh_agg`` refuses any span that does not start at it. A
re-delivered refresh is skipped by the manifest (apply.py); a
different span presenting the same target version trips the range
guard; a concurrent maintenance commit rides the shared 3-attempt
fork/rewind retry (cdc/table.py ``retry_on_fork_rewind``), whose
closure re-reads the totals so the retry is computed against the
advanced state. Net-empty spans (compaction-only, rebucket) still
commit an empty batch so the cursor advances — same rule as
refresh_signatures, and the feed stays a metadata bucket-diff.

A STREAMING variant (lake_feed-driven, like stream_refresh_signatures)
is deliberately absent: the streaming feed carries no preimage rows
(per-bucket old∩changed reads would add them — same-bucket locality
makes that cheap — but a rebucket inside a span shifts bucket ids and
needs the batch path's full-old-read fallback), and streaming epoch
batch ids live in the stream namespace, outside the replay namespace
the contiguity cursor reads (``manifest.replay_cursor``), so
mixing stream and batch refreshes would corrupt read-modify-write
totals. Until the feed source grows preimages AND an epoch-aware
cursor, pace streaming maintenance by calling ``refresh_agg`` per
trigger — the cursor makes any pacing safe.

Scale shape (100 TB audit): the feed is O(|changed data|) by
``read_changes``'s changed-bucket pruning; the per-group delta is one
narrow hash agg over it; the standing table is touched ONLY on
affected groups (broadcast semi-join on the delta's group set — the
big agg table never fully scans, let alone rewrites); the merge is the
ordinary bucket-pruned apply. Refresh cost is O(changed) + O(affected
groups), independent of corpus and group-table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cdc.apply import apply_batch
from ..cdc.manifest import replay_cursor
from ..cdc.table import LakeTable, retry_on_fork_rewind
from .util import persist_replacing, scratch_table

AGG_SCHEMA_V1 = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("sum_tok", T.LongType(), True),
    ]
)


def create_agg_table(root: str, *, n_buckets: int = 8) -> LakeTable:
    return LakeTable.create(
        root,
        n_buckets=n_buckets,
        schema_version=1,
        schemas={1: AGG_SCHEMA_V1},
        key_col="source",
    )


def _contrib(rows: DataFrame, sign: int) -> DataFrame:
    """Additive contribution of corpus rows: (+/-1 row, +/- first
    token). NULL measures contribute 0 so retraction is exact."""
    tok = F.coalesce(F.element_at("tokens", 1).cast("long"), F.lit(0))
    return rows.select(
        "source",
        F.lit(sign).cast("long").alias("d_rows"),
        (tok * sign).alias("d_tok"),
    )


def agg_cursor(agg: LakeTable) -> int:
    """The corpus version the totals are caught up to
    (``manifest.replay_cursor``)."""
    cursor = replay_cursor(agg.meta)
    if cursor is None:
        raise ValueError(
            "aggregate table has no bootstrap commit; run bootstrap_agg first"
        )
    return cursor


def bootstrap_agg(spark: SparkSession, corpus: LakeTable, agg: LakeTable, **kw) -> dict:
    """First fill of an EMPTY totals table from the corpus's CURRENT
    snapshot (one group-by over live rows — never the v0 feed, same
    rationale as bootstrap_signatures). Batch id = the corpus version
    the totals represent, which becomes the refresh cursor."""
    if agg.committed_batches() or agg.version > 0:
        raise ValueError(
            "bootstrap_agg requires an empty aggregate table; use "
            "refresh_agg to advance an existing one"
        )
    live = corpus.read(spark, raw=True).filter(
        ~F.coalesce(F.col("_deleted"), F.lit(False))
    )
    wm = corpus.max_committed_lsn()
    totals = _contrib(live, 1).groupBy("source").agg(
        F.sum("d_rows").alias("n_rows"), F.sum("d_tok").alias("sum_tok")
    )
    events = totals.select(
        F.lit(wm).alias("lsn"),
        F.lit("U").alias("op"),
        "source",
        "n_rows",
        "sum_tok",
        F.lit(1).alias("schema_version"),
    )
    return apply_batch(
        spark, agg, events, batch_id=corpus.version, lsn_lo=0, lsn_hi=wm, **kw
    )


def refresh_agg(
    spark: SparkSession,
    corpus: LakeTable,
    agg: LakeTable,
    since_version: int | None = None,
    **kw,
) -> dict:
    """Advance the totals with the corpus changes in
    ``(cursor, corpus.version]``. ``since_version``, when given, must
    EQUAL the cursor — totals are read-modify-write, so a gap or
    overlap is corruption, not convergence, and is refused loudly.

    The cursor is read INSIDE the retry closure, from the same freshly
    loaded handle the commit goes through: two concurrent refreshes
    that both captured an old cursor would otherwise double-apply the
    overlapping span under different batch ids (the manifest can't
    catch that). With the cursor in the closure, the loser's commit
    trips the fork/rewind guard, the retry reloads table AND cursor,
    and the recomputed span starts where the winner left off."""

    def _run() -> dict:
        table = LakeTable.load(agg.root)
        cursor = agg_cursor(table)
        if since_version is not None and since_version != cursor:
            raise ValueError(
                f"refresh_agg span must start at the cursor {cursor}, got "
                f"since_version={since_version} (out-of-order/overlapping "
                "spans corrupt read-modify-write totals)"
            )
        if cursor > corpus.version:
            # Either a concurrent refresh already advanced past this
            # caller's (stale) corpus handle — benign, its span is
            # subsumed — or the corpus itself was RESTOREd/replaced
            # below the cursor, where the totals hold contributions of
            # undone rows NO feed span can retract (restored rows
            # resurface at their ORIGINAL LSNs). The on-disk corpus
            # HEAD tells them apart.
            head = LakeTable.load(corpus.root).version
            if head >= cursor:
                return {
                    "skipped_stale": True,
                    "batch_id": None,
                    "rows_applied": 0,
                }
            raise ValueError(
                f"aggregate cursor {cursor} is ahead of corpus version "
                f"{head} (RESTORE below the cursor): totals cannot be "
                "rolled back by a feed — rebootstrap the aggregate "
                "table (build-aside + swap)"
            )
        if cursor == corpus.version:
            return {"skipped_empty": True, "batch_id": None, "rows_applied": 0}
        feed = corpus.read_changes(spark, cursor, include_preimage=True)
        up = _contrib(feed.filter(F.col("_change_type") == "upsert"), 1)
        pre = _contrib(
            feed.filter(F.col("_change_type") == "update_preimage"), -1
        )
        # persisted: the per-group delta (and through it the preimage
        # feed's two snapshot reads) otherwise re-executes for the
        # semi-join source set, the merge join, and apply's stats pass
        delta = persist_replacing(
            "ivm_delta",
            agg.root,
            up.unionByName(pre)
            .groupBy("source")
            .agg(F.sum("d_rows").alias("d_rows"), F.sum("d_tok").alias("d_tok")),
        )
        cur = table.read(spark).join(
            F.broadcast(delta.select("source")), "source", "semi"
        )
        merged = delta.join(cur, "source", "left")
        n_rows = F.coalesce(F.col("n_rows"), F.lit(0)) + F.col("d_rows")
        sum_tok = F.coalesce(F.col("sum_tok"), F.lit(0)) + F.col("d_tok")
        gone = n_rows == 0
        old_wm = LakeTable.load_version(corpus.root, cursor).max_committed_lsn()
        new_wm = corpus.max_committed_lsn()
        events = merged.select(
            F.lit(new_wm).alias("lsn"),
            F.when(gone, F.lit("D")).otherwise(F.lit("U")).alias("op"),
            "source",
            F.when(gone, F.lit(None).cast("long")).otherwise(n_rows).alias("n_rows"),
            F.when(gone, F.lit(None).cast("long")).otherwise(sum_tok).alias("sum_tok"),
            F.lit(1).alias("schema_version"),
        )
        return apply_batch(
            spark,
            table,
            events,
            batch_id=corpus.version,
            lsn_lo=old_wm + 1,
            lsn_hi=new_wm,
            **kw,
        )

    return retry_on_fork_rewind(_run)


# --------------------------------------------------------------------------
# Driver-contract query: replay the events stream into a corpus in two
# spans (the shared cdc_feed table), bootstrap the totals at the
# mid-stream snapshot, advance them incrementally over the preimage
# feed, and return the standing table. The oracle recomputes the same
# per-source totals directly from the raw stream's LWW final state, so
# the gate checks bootstrap + (+post − pre) algebra + tombstone
# handling ≡ full recompute.


def ivm_source_stats(spark: SparkSession, sf: str) -> DataFrame:
    from .cdc_query import _feed_table_root

    def build(tmp: str) -> str:
        feed_root = _feed_table_root(spark, sf)
        agg = create_agg_table(f"{tmp}/agg", n_buckets=4)
        bootstrap_agg(spark, LakeTable.load_version(feed_root, 1), agg)
        refresh_agg(spark, LakeTable.load(feed_root), LakeTable.load(f"{tmp}/agg"))
        return f"{tmp}/agg"

    root = scratch_table("cdc_ivm", sf, build)
    return LakeTable.load(root).read(spark).select("source", "n_rows", "sum_tok").orderBy("source")


IVM_SOURCE_STATS_SQL = """
WITH latest AS (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
), live AS (
  SELECT event_type AS source, CAST(FLOOR(value * 100) AS INT) AS tok
  FROM latest
  WHERE rn = 1 AND event_type <> 'error'
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(tok) AS BIGINT) AS sum_tok
FROM live
GROUP BY source
ORDER BY source
"""


QUERIES = {
    "ivm_source_stats": (ivm_source_stats, IVM_SOURCE_STATS_SQL),
}
