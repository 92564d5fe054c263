"""MERGE-style upsert apply: one deduped change batch -> LakeTable.

Semantics (per batch, after LWW dedup to one event per key):
    latest op in ('I','U')  -> upsert the payload
    latest op == 'D'        -> write a tombstone for the key
identical to ``INSERT ... ON CONFLICT (key) DO UPDATE`` plus deletes
(reference stock_transformer.py:99-106 and the delete+insert range
replacement in sales_loader.py:64-73), expressed as union + max_by:
base rows carry the ``_lsn`` that produced them, so the survivor per
key is simply the row with the highest LSN across base ∪ batch. One
shuffle on the key — no separate anti join — and, crucially, correct
under ANY batch application order: an out-of-order micro-batch (or a
resume that replays chunks in a different order) converges to the same
state, because max-LSN-wins is order-independent and delete tombstones
block resurrection by stale lower-LSN updates.

Scale shape:
- Dedup and merge are FUSED: the chunk's LWW dedup and the merge
  against base are the same max-LSN-per-key reduction, so it runs once
  over base ∪ raw-chunk (skew-safe, see dedup.py — its map-side partial
  aggregate collapses a hot key to one row per input partition before
  the shuffle). One full shuffle per chunk instead of dedup-shuffle +
  merge-shuffle.
- Only buckets containing changed keys are read back and rewritten
  (bucket-granular copy-on-write) — work per batch is
  O(|batch| + |touched buckets|), never O(|table|).
- Lineage (per-bucket LSN range / events / bytes) comes from one
  partial-aggregate pass over the raw chunk (n_buckets rows per map
  task cross the wire, nothing else); 'rows_applied' counts the
  chunk's events landing in that bucket.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .constraints import fail_on_violations, violation_reason
from .dedup import dedup_latest
from .evolve import aligned_cols
from .lineage import write_lineage
from .table import (
    LakeTable,
    bucket_expr,
    bucket_footer_stats,
    entry_signature,
    map_bucket_dirs,
)

# merge_path='auto' broadcasts the (key, _ord) winners while their
# estimated hash relation stays under this many bytes
BROADCAST_LIMIT_BYTES = 256 << 20


def _rebase_safe(
    base_meta: dict, head: LakeTable, touched: list[int], batch_id: int, mode: str
) -> bool:
    """Validation-based optimistic concurrency (the Delta/Iceberg
    conflict-resolution analog): decide whether an ALREADY-WRITTEN
    apply can re-issue its commit on a newer HEAD without recomputing
    the merge job. The written data dirs stay valid iff nothing the
    job READ (or the commit would overwrite) changed:

    - table-level: bucket count, schema version, constraints, bloom
      option and the restore marker must be untouched (any of them
      changing can invalidate the written files or their validation);
    - the batch id must not have landed concurrently (a twin replayer
      won the race — the recompute path's pending-chunk filter is the
      correct dedupe, not a second manifest entry over duplicate dirs);
    - COW: every touched bucket's entry signature must be unchanged —
      the merge consumed those buckets' contents, so a concurrent
      write to ANY of them means the output is stale. Disjoint-bucket
      writers pass and commit without recompute.
    - MOR: no per-bucket check at all — a delta append is
      self-contained chunk data and the read-side LWW fold is
      order-independent, so appends COMMUTE with any concurrent change
      to the same bucket (even a COW rewrite or compaction that
      dropped the bucket's earlier deltas).
    """
    hm = head.meta
    if str(batch_id) in hm.get("committed_batches", {}):
        return False
    if hm["n_buckets"] != base_meta["n_buckets"]:
        return False
    if hm["schema_version"] != base_meta["schema_version"]:
        return False
    if hm.get("constraints", {}) != base_meta.get("constraints", {}):
        return False
    if hm.get("bloom_key_filter", False) != base_meta.get("bloom_key_filter", False):
        return False
    if hm.get("last_restore_commit", 0) != base_meta.get("last_restore_commit", 0):
        return False
    if mode == "cow":
        for b in touched:
            ob = base_meta["buckets"].get(str(b))
            nb = hm["buckets"].get(str(b))
            if (entry_signature(ob) if ob else None) != (
                entry_signature(nb) if nb else None
            ):
                return False
    return True


def _commit_validated(
    table: LakeTable,
    touched: list[int],
    batch_id: int,
    args: tuple,
    kw: dict,
    *,
    mode: str,
    allow_rebase: bool,
    attempts: int = 4,
) -> bool:
    """Commit, and — when the caller declared its chunk REBASE-SAFE —
    on a fork/rewind conflict try to rebase instead of letting the
    caller recompute: reload HEAD, run ``_rebase_safe``, and re-issue
    the identical commit on the fresh handle. Returns whether a rebase
    happened. An unsafe conflict re-raises, falling back to the shared
    recompute retry (cdc/table.py ``retry_on_fork_rewind``) — rebase
    is an optimization layered UNDER that policy, never a replacement.

    ``allow_rebase`` is OPT-IN and only correct for chunks whose
    CONTENT is independent of table state — stream slices carrying
    upstream LSNs (batch replay chunks, streaming epochs). Chunks
    DERIVED from a snapshot must recompute on any conflict: predicate
    DML and redrive mint their LSN at the stale HWM+1 (a rebased
    tombstone would silently LOSE to a concurrently-landed higher-LSN
    event while reporting success) and DML's read set is the whole
    table, not its touched buckets (a concurrent disjoint-bucket
    insert matching the predicate would be a phantom the rebase
    ignores); MERGE INTO's classification has the same phantom
    problem. Default False."""
    if not allow_rebase:
        table.commit(*args, **kw)
        return False
    base_meta = table.meta
    t = table
    for attempt in range(attempts):
        try:
            t.commit(*args, **kw)
            if t is not table:
                # keep the CALLER's handle current (commit updates the
                # committing handle in place; on a rebase that was the
                # fresh head, not the handle the caller holds and may
                # report version/meta from)
                table.meta = t.meta
            return attempt > 0
        except RuntimeError as exc:
            if "fork/rewind" not in str(exc) or attempt == attempts - 1:
                raise
            head = LakeTable.load(table.root)
            if not _rebase_safe(base_meta, head, touched, batch_id, mode):
                raise
            t = head
    raise AssertionError("unreachable")


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirnames, filenames in os.walk(path):
        for fn in filenames:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def _record_write(table, rel_dir, stats, batch_id, mark):
    """Shared post-write tail of the COW and MOR apply paths: map the
    freshly written ``_bucket=`` dirs, build the per-bucket lineage
    rows (bytes from the new dirs), and collect the commit footer
    stats. Returns ``(new_dirs, rows_applied, fstats, lineage_rows)``
    — one implementation so the two write paths can never diverge in
    what a commit records. The lineage rows are only BUILT here; the
    caller writes them AFTER the manifest commit succeeds, so durable
    lineage never describes an uncommitted attempt (a racing loser's
    overwrite, a crash before commit) — a crash in the narrow window
    after commit loses only the diagnostic row, never invents one."""
    new_dirs = map_bucket_dirs(table.root, rel_dir)
    rows_applied = sum(int(r["rows_applied"]) for r in stats)
    lineage_rows = [
        {
            "batch_id": batch_id,
            "partition_id": int(r["_bucket"]),
            "lsn_lo": int(r["lsn_lo"]),
            "lsn_hi": int(r["lsn_hi"]),
            "rows_applied": int(r["rows_applied"]),
            "bytes_written": _dir_bytes(os.path.join(table.root, new_dirs[int(r["_bucket"])]))
            if int(r["_bucket"]) in new_dirs
            else 0,
        }
        for r in stats
    ]
    mark("footer_stats")
    fstats = bucket_footer_stats(table.root, new_dirs)
    return new_dirs, rows_applied, fstats, lineage_rows


def apply_batch(
    spark: SparkSession,
    table: LakeTable,
    chunk: DataFrame,
    batch_id: int,
    lsn_lo: int,
    lsn_hi: int,
    *,
    merge_path: str = "auto",
    precomputed_stats: list[dict] | None = None,
    precomputed_stats_n_buckets: int | None = None,
    write_mode: str = "cow",
    mor_max_deltas: int = 8,
    skip_empty_commit: bool = False,
    allow_rebase: bool = False,
) -> dict:
    """Apply one LSN-chunk of change events. Idempotent: an already
    committed batch_id is a no-op; a crash before commit leaves the
    previous snapshot visible and the batch re-appliable.

    ``merge_path``: 'broadcast' selects winners with a broadcast
    semi-join (payload never shuffles — right when the chunk's key set
    fits the driver); 'agg' uses the shuffle-based LWW reduction of
    dedup.py (the MOR append's chunk dedup uses it too); 'auto'
    broadcasts when the estimated (key, _ord) hash relation stays under
    ``BROADCAST_LIMIT_BYTES`` (256 MiB) — a byte bound, since what
    actually lands on the driver and every executor is a hash
    relation, not a row count.

    ``write_mode``: 'cow' (default) rewrites every touched bucket —
    write cost O(|batch| + |touched buckets|), reads stay merge-free.
    'mor' (merge-on-read, the Iceberg MOR analog) LWW-dedups the chunk
    alone and APPENDS one delta dir per touched bucket — write cost
    O(|batch|) regardless of bucket size, and readers fold base ∪
    deltas per key until the next compaction/COW apply rewrites the
    bucket (which drops its deltas). 'auto' picks 'mor' when the chunk
    is small against its touched base (< 1/4 of stored rows, known
    from metadata) AND no touched bucket would exceed
    ``mor_max_deltas`` stacked deltas — the cap bounds read
    amplification by forcing a folding COW apply, the self-regulating
    equivalent of Iceberg's delete-file compaction trigger.
    """
    timings: dict[str, float] = {}
    t_last = time.perf_counter()

    def mark(phase: str) -> None:
        nonlocal t_last
        now = time.perf_counter()
        timings[phase] = round(now - t_last, 3)
        t_last = now

    if table.is_committed(batch_id):
        # A skip is only safe when this is a true redelivery — same
        # batch identity, same LSN range. A committed id with a
        # DIFFERENT range means two distinct streams collided on one
        # batch-id namespace (e.g. a recreated streaming checkpoint
        # restarting epochs at 0): skipping would silently drop data,
        # so fail loudly instead.
        rec = table.committed_batches()[batch_id]
        if (int(rec["lsn_lo"]), int(rec["lsn_hi"])) != (int(lsn_lo), int(lsn_hi)):
            raise RuntimeError(
                f"batch_id {batch_id} already committed for LSN range "
                f"[{rec['lsn_lo']}, {rec['lsn_hi']}] but was re-presented "
                f"with range [{lsn_lo}, {lsn_hi}]: batch-id collision between "
                "distinct streams/chunkings, not an idempotent redelivery. "
                "Use a distinct checkpoint/namespace (or the original chunk_size)."
            )
        return {"batch_id": batch_id, "skipped": True}

    key = table.key_col

    # per-bucket chunk stats: touched buckets + lineage + the stream's
    # max schema_version. The batch replayer precomputes these for ALL
    # chunks in one upfront aggregation (see replay.py) so the per-
    # chunk path has no extra job; direct callers (streaming epochs,
    # tests) fall back to computing them here — one small job, map-side
    # partial agg collapsing to n_buckets rows per task.
    has_sv = "schema_version" in chunk.columns
    if precomputed_stats is not None:
        # the batch replayer computed these in its one upfront
        # aggregation — which also enforced (or diverted) CHECK
        # constraints and malformed events for the whole stream.
        # A caller that declares the layout its stats were computed
        # under must still match this handle's: stale _bucket ids
        # against a rebucketed table would merge a PARTIAL base and
        # commit bucket replacements that drop the unread keys.
        if (
            precomputed_stats_n_buckets is not None
            and precomputed_stats_n_buckets != table.n_buckets
        ):
            raise ValueError(
                f"precomputed stats were built for n_buckets="
                f"{precomputed_stats_n_buckets} but the table now has "
                f"{table.n_buckets} (concurrent rebucket?): recompute the "
                "stats against the reloaded table before applying"
            )
        stats = precomputed_stats
    else:
        sv_agg = (
            [F.max("schema_version").alias("max_sv")]
            if has_sv
            else [F.lit(None).cast("int").alias("max_sv")]
        )
        # CHECK-constraint enforcement for direct callers (streaming
        # epochs pre-check in stream_replay; predicate DML and tests
        # land here): the violation count rides this same stats job —
        # zero extra jobs on the clean path, per-constraint diagnostic
        # only on the error path. apply_batch itself is fail-only; the
        # quarantine/drop policies live in the replayers, which can
        # divert rows BEFORE planning.
        vreason = violation_reason(table.constraints)
        viol_agg = (
            [F.count_if(vreason.isNotNull()).alias("_viol")]
            if vreason is not None
            else [F.lit(0).alias("_viol")]
        )
        stats = (
            chunk.groupBy(bucket_expr(key, table.n_buckets).alias("_bucket"))
            .agg(
                F.count(F.lit(1)).alias("rows_applied"),
                F.min("lsn").alias("lsn_lo"),
                F.max("lsn").alias("lsn_hi"),
                *sv_agg,
                *viol_agg,
            )
            .collect()
        )
        total_viol = sum(int(r["_viol"]) for r in stats)
        if total_viol:
            fail_on_violations(
                chunk, table.constraints, total_viol, context=f"batch {batch_id}"
            )
    mark("stats")
    changed = sorted(int(r["_bucket"]) for r in stats)
    if not changed:
        # ``skip_empty_commit``: a no-match DML/merge must be a true
        # no-op (no commit, no new version) — the empty-batch manifest
        # record only matters for REPLAY chunks, where resume must not
        # re-read a planned-but-empty LSN range
        if skip_empty_commit:
            return {"batch_id": batch_id, "rows_applied": 0, "buckets": [], "skipped_empty": True}
        table.commit({}, set(), (batch_id, {"lsn_lo": lsn_lo, "lsn_hi": lsn_hi, "rows_applied": 0}))
        return {"batch_id": batch_id, "rows_applied": 0, "buckets": []}

    # schema evolution: the stream tells us WHEN to evolve, but the
    # version it names must already be DECLARED in table metadata
    # (add_column/widen_column DDL-first — aligned_cols raises with the
    # known versions otherwise); a stream cannot invent a schema
    target_sv = table.schema_version
    if has_sv:
        svs = [r["max_sv"] for r in stats if r["max_sv"] is not None]
        if svs:
            target_sv = max(target_sv, max(int(s) for s in svs))
    table_schemas = table.schemas

    def to_storage_layout(df: DataFrame, lsn_col: F.Column, deleted_col: F.Column) -> DataFrame:
        return df.select(
            *aligned_cols(set(df.columns), target_sv, table_schemas),
            lsn_col.alias("_lsn"),
            deleted_col.alias("_deleted"),
        )

    chunk_rows = to_storage_layout(chunk, F.col("lsn"), F.col("op") == "D")

    # both the auto write-mode gate and the COW broadcast gate need
    # these; compute the metadata passes once
    total_events = sum(int(r["rows_applied"]) for r in stats)
    base_rows = table.bucket_rows(changed)

    mode = write_mode
    if mode == "auto":
        stacked = max(
            (
                len(table.meta["buckets"].get(str(b), {}).get("deltas", []))
                for b in changed
            ),
            default=0,
        )
        mode = (
            "mor"
            if base_rows is not None
            and total_events * 4 < base_rows
            and stacked < mor_max_deltas
            else "cow"
        )
    if mode == "mor":
        return _apply_mor(
            spark, table, chunk_rows, stats, batch_id, lsn_lo, lsn_hi,
            target_sv=target_sv, timings=timings, mark=mark,
            allow_rebase=allow_rebase,
        )
    if mode != "cow":
        raise ValueError(f"unknown write_mode: {write_mode!r}")

    # FUSED dedup + merge: the chunk's own LWW dedup and the merge
    # against base are the same reduction (max LSN per key), run ONCE
    # over base ∪ raw-chunk. `_ord = _lsn*2 (+1 for chunk rows)` makes
    # the order key unique even when a redelivered event already sits
    # in the table (identical content; chunk side wins the tie).
    # merge_deltas=False: any MOR delta rows join the union raw — this
    # reduction IS the fold, so a separate read-side merge shuffle
    # would be pure waste (same-LSN stored copies are identical rows;
    # dropDuplicates / max_by collapse them).
    base = table.read(spark, buckets=changed, raw=True, merge_deltas=False)
    base_aligned = to_storage_layout(base, F.col("_lsn"), F.col("_deleted"))
    combined = base_aligned.withColumn("_ord", F.col("_lsn") * 2).unionByName(
        chunk_rows.withColumn("_ord", F.col("_lsn") * 2 + 1)
    )

    # the broadcast set is the keys of base∪chunk, so the gate must
    # count BOTH: chunk events bound the chunk keys, and the metadata's
    # per-bucket row counts bound the base keys in touched buckets.
    # bucket_rows() returns None when any touched bucket has no stored
    # count — unknown size must force the shuffle path, never broadcast
    # on an understated bound. ~48 bytes/entry models the broadcast
    # hash relation (key + _ord longs + hash-table overhead).
    broadcast_est_bytes = (
        None if base_rows is None else (total_events + base_rows) * 48
    )
    if merge_path == "broadcast" or (
        merge_path == "auto"
        and broadcast_est_bytes is not None
        and broadcast_est_bytes <= BROADCAST_LIMIT_BYTES
    ):
        # Winner selection via broadcast semi-join: the winners pass
        # reads ONLY (key, _ord) — parquet column pruning keeps token
        # arrays out of it entirely — and the semi-join filters losers
        # map-side, so the payload NEVER crosses a shuffle until the
        # final bucket write. On a memory-bandwidth-bound box (and at
        # 100 TB, on the network) this moves ~|table| bytes per chunk
        # instead of ~|chunk| + |table|.
        winners = (
            combined.select(key, "_ord")
            .groupBy(key)
            .agg(F.max("_ord").alias("_w_ord"))
            .withColumnRenamed(key, "_w_key")
        )
        # null-safe key equality: groupBy (here and in the agg path)
        # treats NULL keys as one group, so the semi-join must too —
        # plain `=` would drop every NULL-key row on this path only,
        # making 'auto' results depend on which physical path ran.
        # EqualNullSafe is still a hash-join key, so this stays a
        # BroadcastHashJoin.
        merged = combined.join(
            F.broadcast(winners),
            F.col(key).eqNullSafe(F.col("_w_key")) & (F.col("_ord") == F.col("_w_ord")),
            "left_semi",
        ).drop("_ord")
        # The semi-join keeps EVERY copy of the winning event if an
        # at-least-once source delivered it twice in one chunk (same
        # key, same lsn -> same _ord). dropDuplicates collapses them
        # (copies are identical rows) and its shuffle doubles as the
        # clustering the bucket write needs — replacing the plain
        # repartition, not adding to it.
        merged = merged.dropDuplicates([key])
    else:
        # Fallback when the chunk's key set is too large to broadcast:
        # the shuffle-based LWW reduction; `_ord` only ranks, so it
        # stays out of the carried payload.
        merged = dedup_latest(
            combined, keys=(key,), order_col="_ord",
            payload=[c for c in combined.columns if c not in (key, "_ord")],
        )
    merged = merged.withColumn("_bucket", bucket_expr(key, table.n_buckets))

    rel_dir = table.new_data_dir()
    out_dir = os.path.join(table.root, rel_dir)
    # No repartition before the write: the merge reduction shuffled on
    # the key, and bucket_expr is Spark's own hash-partitioning
    # function, so each bucket is already contained in one task
    # (n_buckets is a multiple of shuffle partitions) -> one file per
    # bucket dir for free. An unaligned config degrades to more files
    # per bucket, never to incorrect data.
    mark("plan_build")
    merged.write.mode("overwrite").options(**table.writer_options()).partitionBy(
        "_bucket"
    ).parquet(out_dir)
    mark("merge_write")

    # a changed bucket with all rows deleted produces no dir and is
    # dropped from metadata
    new_dirs, rows_applied, fstats, lineage_rows = _record_write(table, rel_dir, stats, batch_id, mark)
    removed = set(changed) - set(new_dirs)
    rebased = _commit_validated(
        table,
        changed,
        batch_id,
        (
            new_dirs,
            removed,
            (batch_id, {"lsn_lo": lsn_lo, "lsn_hi": lsn_hi, "rows_applied": rows_applied}),
        ),
        dict(
            schema_version=target_sv if target_sv != table.schema_version else None,
            bucket_row_counts={b: s[0] for b, s in fstats.items()},
            bucket_max_lsns={b: s[1] for b, s in fstats.items()},
        ),
        mode="cow",
        allow_rebase=allow_rebase,
    )
    mark("commit")
    write_lineage(spark, table.root, batch_id, lineage_rows)
    mark("lineage")
    return {
        "batch_id": batch_id,
        "rows_applied": rows_applied,
        "buckets": changed,
        "commit_rebased": rebased,
        "timings": timings,
    }


def _apply_mor(
    spark: SparkSession,
    table: LakeTable,
    chunk_rows: DataFrame,
    stats: list[dict],
    batch_id: int,
    lsn_lo: int,
    lsn_hi: int,
    *,
    target_sv: int,
    timings: dict,
    mark,
    allow_rebase: bool,
) -> dict:
    """Merge-on-read apply: LWW-dedup the chunk ALONE (one reduction
    over |chunk| rows — the base is never read) and append the result
    as one delta dir per touched bucket. The read path folds deltas
    per key (table.read / _merge_sources); compaction or any later COW
    apply rewrites the bucket and drops its deltas.

    Write cost is O(|chunk|) independent of bucket size — at 10^10
    events with small micro-batches over large buckets this removes
    the dominant write-amplification term (COW rewrites each touched
    bucket fully per batch). Tombstones are appended like any row, so
    delete semantics and out-of-order convergence are unchanged: the
    read-side winner rule is the same max-LSN-per-key the COW merge
    applies at write time."""
    key = table.key_col
    changed = sorted(int(r["_bucket"]) for r in stats)
    deduped = dedup_latest(chunk_rows, keys=(key,), order_col="_lsn").withColumn(
        "_bucket", bucket_expr(key, table.n_buckets)
    )

    rel_dir = table.new_data_dir()
    out_dir = os.path.join(table.root, rel_dir)
    mark("plan_build")
    # the dedup shuffled on the key and bucket_expr is Spark's own
    # hash-partitioning function, so each bucket is already contained
    # in one task -> one delta file per bucket dir (same alignment the
    # COW write exploits)
    deduped.write.mode("overwrite").options(**table.writer_options()).partitionBy(
        "_bucket"
    ).parquet(out_dir)
    mark("merge_write")

    new_dirs, rows_applied, fstats, lineage_rows = _record_write(table, rel_dir, stats, batch_id, mark)
    rebased = _commit_validated(
        table,
        changed,
        batch_id,
        (
            {},
            set(),
            (batch_id, {"lsn_lo": lsn_lo, "lsn_hi": lsn_hi, "rows_applied": rows_applied}),
        ),
        dict(
            schema_version=target_sv if target_sv != table.schema_version else None,
            delta_appends={
                b: {
                    "dir": rel,
                    "schema_version": target_sv,
                    "rows": fstats[b][0],
                    "max_lsn": fstats[b][1],
                }
                for b, rel in new_dirs.items()
            },
        ),
        mode="mor",
        allow_rebase=allow_rebase,
    )
    mark("commit")
    write_lineage(spark, table.root, batch_id, lineage_rows)
    mark("lineage")
    return {
        "batch_id": batch_id,
        "rows_applied": rows_applied,
        "buckets": changed,
        "write_mode": "mor",
        "commit_rebased": rebased,
        "timings": timings,
    }
