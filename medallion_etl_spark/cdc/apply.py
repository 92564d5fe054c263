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
  merge-shuffle. Merge-on-read runs the same reduction over the chunk
  alone and commits its output as delta appends instead of bucket
  replacements; there is no other merge plan.
- Only buckets containing changed keys are read back and rewritten
  (bucket-granular copy-on-write) — work per batch is
  O(|batch| + |touched buckets|), never O(|table|).
- Lineage (per-bucket LSN range / events / bytes) comes from one
  partial-aggregate pass over the raw chunk (n_buckets rows per map
  task cross the wire, nothing else); 'rows_applied' counts the
  chunk's events landing in that bucket. The rows ride the commit's
  own record (LakeTable.commit), durable in the same swap as the data.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import manifest
from .constraints import violation_reason
from .dedup import dedup_latest
from .evolve import aligned_cols
from .table import (
    LakeTable,
    bucket_expr,
    bucket_footer_stats,
    entry_signature,
    map_bucket_dirs,
)
from .triage import fail_on_violations


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
    if head.is_committed(batch_id):
        return False
    hm = head.meta
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


def write_lineage(table_root: str, batch_id: int, stats: list, new_dirs: dict[int, str]) -> list[dict]:
    """This commit's lineage rows, one per touched bucket: the chunk's
    LSN range and event count in that bucket (from the apply stats) and
    the bytes written under its new dir (0 for a bucket whose rows were
    all deleted, which gets no dir). Built before the commit, which
    stores them in its record."""
    return [
        {
            "batch_id": batch_id,
            "partition_id": int(r["_bucket"]),
            "lsn_lo": int(r["lsn_lo"]),
            "lsn_hi": int(r["lsn_hi"]),
            "rows_applied": int(r["rows_applied"]),
            "bytes_written": _dir_bytes(os.path.join(table_root, new_dirs[int(r["_bucket"])]))
            if int(r["_bucket"]) in new_dirs
            else 0,
        }
        for r in stats
    ]


def check_write_mode(write_mode: str) -> None:
    """Reject an unknown ``write_mode`` before any Spark job runs, so
    a typo can neither commit a batch record nor start a replay."""
    if write_mode not in ("cow", "mor", "auto"):
        raise ValueError(
            f"write_mode must be one of ('cow', 'mor', 'auto'), got {write_mode!r}"
        )


def apply_batch(
    spark: SparkSession,
    table: LakeTable,
    chunk: DataFrame,
    batch_id: int,
    lsn_lo: int,
    lsn_hi: int,
    *,
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

    Both write modes run the same kernel — one ``dedup_latest``
    reduction, one bucket-partitioned write, one validated commit —
    and differ only in the reduction's input and the commit's
    arguments.

    ``write_mode``: 'cow' (default) reduces base ∪ chunk of every
    touched bucket and commits the result as bucket replacements —
    write cost O(|batch| + |touched buckets|), reads stay merge-free.
    'mor' (merge-on-read, the Iceberg MOR analog) reduces the chunk
    alone and commits it as one delta dir APPENDED per touched bucket
    — write cost O(|batch|) regardless of bucket size, and readers fold
    base ∪ deltas per key until the next compaction/COW apply rewrites
    the bucket (which drops its deltas). 'auto' picks 'mor' when the
    chunk is small against its touched base (< 1/4 of stored rows,
    known from metadata) AND no touched bucket would exceed
    ``mor_max_deltas`` stacked deltas — the cap bounds read
    amplification by forcing a folding COW apply, the self-regulating
    equivalent of Iceberg's delete-file compaction trigger.
    """
    check_write_mode(write_mode)
    timings: dict[str, float] = {}
    t_last = time.perf_counter()

    def mark(phase: str) -> None:
        nonlocal t_last
        now = time.perf_counter()
        timings[phase] = round(now - t_last, 3)
        t_last = now

    # skip a true redelivery; a committed id with another LSN range raises
    if manifest.redelivered(table.committed_batches(), batch_id, lsn_lo, lsn_hi):
        return {"batch_id": batch_id, "skipped": True}

    key = table.key_col

    # per-bucket chunk stats: touched buckets + lineage + the stream's
    # max schema_version. Both replayers precompute these in their one
    # triage aggregation (cdc/triage.py) so the per-chunk path has no
    # extra job; direct callers (DML, redrive, tests) fall back to
    # computing them here — one small job, map-side partial agg
    # collapsing to n_buckets rows per task.
    has_sv = "schema_version" in chunk.columns
    if precomputed_stats is not None:
        # the replayer's triage computed these in the aggregation that
        # also enforced (or diverted) CHECK constraints and malformed
        # events.
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
        # CHECK-constraint enforcement for direct callers (predicate
        # DML, redrive and tests land here): the violation count rides
        # this same stats job — zero extra jobs on the clean path,
        # per-constraint diagnostic only on the error path. apply_batch
        # itself is fail-only; the quarantine/drop policies live in
        # cdc/triage.py, which the replayers run BEFORE planning.
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
            fail_on_violations(chunk, vreason, total_viol, context=f"batch {batch_id}")
    mark("stats")
    changed = sorted(int(r["_bucket"]) for r in stats)
    if not changed:
        # ``skip_empty_commit``: a no-match DML/merge must be a true
        # no-op (no commit, no new version) — the empty-batch manifest
        # record only matters for REPLAY chunks, where resume must not
        # re-read a planned-but-empty LSN range
        if skip_empty_commit:
            return {"batch_id": batch_id, "rows_applied": 0, "buckets": [], "skipped_empty": True}
        table.commit({}, set(), (batch_id, manifest.entry(lsn_lo, lsn_hi, 0)))
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
    rows_applied = sum(int(r["rows_applied"]) for r in stats)

    mode = write_mode
    if mode == "auto":
        base_rows = table.bucket_rows(changed)
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
            and rows_applied * 4 < base_rows
            and stacked < mor_max_deltas
            else "cow"
        )
    if mode == "mor":
        # merge-on-read: LWW-dedup the chunk ALONE — the base is never
        # read. Tombstones are appended like any row, and the read-side
        # fold (table.read / _merge_sources) applies the same
        # max-LSN-per-key rule, so delete semantics and out-of-order
        # convergence match COW.
        merge_input, order_col = chunk_rows, "_lsn"
    else:
        # FUSED dedup + merge: the chunk's own LWW dedup and the merge
        # against base are the same reduction (max LSN per key), run
        # ONCE over base ∪ raw-chunk. `_ord = _lsn*2 (+1 for chunk
        # rows)` makes the order key unique even when a redelivered
        # event already sits in the table (identical content; chunk
        # side wins the tie). merge_deltas=False: any MOR delta rows
        # join the union raw — this reduction IS the fold, so a
        # separate read-side merge shuffle would be pure waste
        # (same-LSN stored copies are identical rows).
        base = table.read(spark, buckets=changed, raw=True, merge_deltas=False)
        base_aligned = to_storage_layout(base, F.col("_lsn"), F.col("_deleted"))
        merge_input = base_aligned.withColumn("_ord", F.col("_lsn") * 2).unionByName(
            chunk_rows.withColumn("_ord", F.col("_lsn") * 2 + 1)
        )
        order_col = "_ord"
    # `_ord` only ranks, so it stays out of the carried payload
    merged = dedup_latest(
        merge_input, keys=(key,), order_col=order_col,
        payload=[c for c in merge_input.columns if c not in (key, "_ord")],
    ).withColumn("_bucket", bucket_expr(key, table.n_buckets))

    rel_dir = table.new_data_dir()
    out_dir = os.path.join(table.root, rel_dir)
    # No repartition before the write: the reduction shuffled on the
    # key, and bucket_expr is Spark's own hash-partitioning function,
    # so each bucket is already contained in one task (n_buckets is a
    # multiple of shuffle partitions) -> one file per bucket dir for
    # free. An unaligned config degrades to more files per bucket,
    # never to incorrect data.
    mark("plan_build")
    merged.write.mode("overwrite").options(**table.writer_options()).partitionBy(
        "_bucket"
    ).parquet(out_dir)
    mark("merge_write")

    # A COW bucket with all rows deleted produces no dir and is dropped
    # from metadata. The lineage rows go into the commit's own record:
    # they are durable exactly when the batch is, so lineage never
    # describes an uncommitted attempt (a racing loser's overwrite, a
    # crash before commit) and a crash after the swap cannot lose it.
    new_dirs = map_bucket_dirs(table.root, rel_dir)
    lineage = write_lineage(table.root, batch_id, stats, new_dirs)
    fstats = bucket_footer_stats(table.root, new_dirs)
    mark("footer_stats")
    if mode == "mor":
        replaced, removed = {}, set()
        commit_kw = dict(
            delta_appends={
                b: {
                    "dir": rel,
                    "schema_version": target_sv,
                    "rows": fstats[b][0],
                    "max_lsn": fstats[b][1],
                }
                for b, rel in new_dirs.items()
            },
        )
    else:
        replaced, removed = new_dirs, set(changed) - set(new_dirs)
        commit_kw = dict(
            bucket_row_counts={b: s[0] for b, s in fstats.items()},
            bucket_max_lsns={b: s[1] for b, s in fstats.items()},
        )
    rebased = _commit_validated(
        table,
        changed,
        batch_id,
        (
            replaced,
            removed,
            (batch_id, manifest.entry(lsn_lo, lsn_hi, rows_applied)),
        ),
        dict(
            schema_version=target_sv if target_sv != table.schema_version else None,
            lineage=lineage,
            **commit_kw,
        ),
        mode=mode,
        allow_rebase=allow_rebase,
    )
    mark("commit")
    return {
        "batch_id": batch_id,
        "rows_applied": rows_applied,
        "buckets": changed,
        "write_mode": mode,
        "commit_rebased": rebased,
        "timings": timings,
    }
