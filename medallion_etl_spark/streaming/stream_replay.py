"""Structured Streaming replay: the WAL-tail mode of the CDC engine.

``readStream`` over the change-event file directory -> ``foreachBatch``
-> the SAME ``apply_batch`` the batch replayer uses. One apply
implementation, two drivers (reference analog: orchestrator.py's
partial-refresh CLI vs daily_load.py cron — same transformers
underneath).

Exactly-once is the composition of two mechanisms:
- Structured Streaming's checkpoint tracks source progress (which
  files/offsets each epoch contained); after a crash the engine
  re-delivers the SAME epoch with the SAME data.
- The commit manifest makes each epoch idempotent: a re-delivered
  epoch whose batch_id is already committed is a no-op, and a crash
  between data write and manifest commit leaves the previous snapshot
  visible (table.py's atomic pointer swap), so the re-run applies
  cleanly.

Late / out-of-order data: the apply path is last-writer-wins over the
stored per-row ``_lsn`` with delete tombstones (apply.py), so
correctness does NOT depend on micro-batch arrival order — an event
arriving epochs late still loses to any higher-LSN state already
applied, and wins otherwise, exactly as if it had arrived on time.
This is the CDC analog of watermark handling: instead of dropping late
rows past a watermark, LWW makes them order-insensitive; ``compact()``
uses a low-watermark LSN only to garbage-collect tombstones.

Scale: micro-batch size is bounded with ``maxFilesPerTrigger``
(events/sec throughput then scales with executors exactly like batch
replay — same plan); state never lives in Spark's state store, it IS
the lake table, so there is no state-store blow-up on 10^10 keys.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import EVENTS_SCHEMA
from ..cdc.apply import apply_batch, check_write_mode
from ..cdc.constraints import fail_on_violations, split_violations, violation_reason
from ..cdc.quarantine import POLICIES, malformed_reason, split_malformed
from ..cdc.table import LakeTable, retry_on_fork_rewind

# Streaming epochs and batch-replay chunk ids share the table's one
# commit manifest; without a namespace, epoch 0 of a streaming drain
# onto a table that already has batch chunk 0 committed would be
# silently skipped (checkpoint advances, events lost). Batch chunk ids
# are dense-from-zero and bounded by stream_size/chunk_size, far below
# this base.
STREAM_EPOCH_BASE = 1 << 40

# Each stream additionally gets its own namespace derived from its
# checkpoint path (the Delta txnAppId/txnVersion pattern): two queries
# with DIFFERENT checkpoints draining the same table both restart
# epochs at 0, and without a per-stream namespace the second query's
# epochs would collide with the first's committed ids and be silently
# skipped — permanent data loss. 2^32 epochs per stream is far beyond
# any real query's lifetime; Python ints (and the JSON manifest) carry
# the composed id without overflow.
EPOCH_STRIDE = 1 << 32


def stream_namespace(checkpoint_dir: str) -> int:
    """Stable 31-bit namespace for a stream identity (its checkpoint
    path). Same checkpoint -> same namespace -> redelivered epochs
    dedupe; different checkpoint -> disjoint batch-id space."""
    digest = hashlib.sha256(os.path.abspath(checkpoint_dir).encode()).digest()
    return int.from_bytes(digest[:4], "big") >> 1


def stream_batch_id(checkpoint_dir: str, epoch_id: int) -> int:
    return STREAM_EPOCH_BASE + stream_namespace(checkpoint_dir) * EPOCH_STRIDE + int(epoch_id)


def stream_replay(
    spark: SparkSession,
    events_dir: str,
    table_root: str,
    checkpoint_dir: str,
    *,
    write_mode: str = "cow",
    mor_max_deltas: int = 8,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    timeout_sec: float | None = None,
    on_malformed: str = "fail",
    on_violation: str = "fail",
    quarantine_dir: str | None = None,
) -> dict:
    """Drain the change stream at ``events_dir`` into the LakeTable at
    ``table_root`` via micro-batches.

    ``available_now=True`` processes everything currently in the
    directory and stops (the testable drain mode); with ``False`` the
    query keeps tailing until ``timeout_sec``.

    ``on_malformed`` (see cdc/quarantine.py): 'fail' (default) fails
    the QUERY on the first micro-batch carrying a NULL-lsn/NULL-key/
    unknown-op event (the count rides the epoch's existing bounds
    aggregation — no extra job); 'quarantine' diverts bad rows to
    ``quarantine_dir`` (default ``<table>/_quarantine``) keyed
    ``epoch-N`` and overwritten per epoch, so a replayed epoch stays
    idempotent; 'drop' discards them. Counted in the returned totals.

    ``on_violation`` is the same policy triple for the table's CHECK
    constraints (see cdc/constraints.py), counted among well-formed
    rows in the same epoch aggregation: 'fail' (default) fails the
    query on the first epoch with a violating event; 'quarantine'
    diverts violating rows (+ ``_reason``) to the epoch's ``…-checks``
    dir under ``quarantine_dir``, overwritten per epoch; 'drop'
    discards them. Both count as ``rows_violating`` in the totals.

    Returns totals: epochs applied, rows applied.
    """
    if on_malformed not in POLICIES:
        raise ValueError(f"on_malformed must be one of {POLICIES}, got {on_malformed!r}")
    if on_violation not in POLICIES:
        raise ValueError(f"on_violation must be one of {POLICIES}, got {on_violation!r}")
    check_write_mode(write_mode)
    totals = {
        "epochs": 0,
        "rows_applied": 0,
        "epochs_skipped": 0,
        "rows_quarantined": 0,
        "rows_dropped": 0,
        "rows_violating": 0,
    }

    def apply_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        table = LakeTable.load(table_root)
        reason = malformed_reason(table.key_col)
        # CHECK constraints (cdc/constraints.py) ride the same epoch
        # bounds aggregation as the malformed count — one job either
        # way. Violations are counted among WELL-FORMED rows only: a
        # row that is both malformed and violating follows the
        # malformed policy (it is diverted before the constraint check
        # sees the frame), so the count must match what remains.
        vreason = violation_reason(table.constraints)
        bounds = batch_df.agg(
            F.min("lsn").alias("lo"),
            F.max("lsn").alias("hi"),
            F.count_if(reason.isNotNull()).alias("bad"),
            F.count_if(vreason.isNotNull() & reason.isNull()).alias("viol")
            if vreason is not None
            else F.lit(0).alias("viol"),
        ).collect()[0]
        n_bad = int(bounds["bad"] or 0)
        if n_bad:
            if on_malformed == "fail":
                raise ValueError(
                    f"epoch {epoch_id}: {n_bad} malformed change event(s) "
                    "(NULL lsn, NULL key, or op outside {'I','U','D'}). "
                    "Restart with on_malformed='quarantine' or 'drop'."
                )
            clean, bad = split_malformed(batch_df, table.key_col)
            if on_malformed == "quarantine":
                # dir carries the stream namespace for the same reason
                # the batch id does: two checkpoints both restart
                # epochs at 0, and un-namespaced epoch-0 dirs would
                # overwrite each other's diverted rows
                qdir = quarantine_dir or os.path.join(table.root, "_quarantine")
                bad.write.mode("overwrite").parquet(
                    os.path.join(qdir, f"epoch-{stream_namespace(checkpoint_dir)}-{epoch_id}")
                )
                totals["rows_quarantined"] += n_bad
            else:
                totals["rows_dropped"] += n_bad
            batch_df = clean
        n_viol = int(bounds["viol"] or 0)
        if n_viol:
            if on_violation == "fail":
                fail_on_violations(
                    batch_df, table.constraints, n_viol, context=f"epoch {epoch_id}"
                )
            passing, violating = split_violations(batch_df, table.constraints)
            if on_violation == "quarantine":
                qdir = quarantine_dir or os.path.join(table.root, "_quarantine")
                violating.write.mode("overwrite").parquet(
                    os.path.join(qdir, f"epoch-{stream_namespace(checkpoint_dir)}-{epoch_id}-checks")
                )
            totals["rows_violating"] += n_viol
            batch_df = passing
        if bounds["lo"] is None:
            return
        # concurrent-commit resilience, mirroring the batch replayer: a
        # maintenance commit (compact/rebucket/DDL/clone registration)
        # landing between this epoch's load and its commit raises the
        # fork/rewind guard — reload and re-apply against the fresh
        # base instead of failing the whole streaming query
        def _reload() -> None:
            nonlocal table
            table = LakeTable.load(table_root)

        res = retry_on_fork_rewind(
            lambda: apply_batch(
                spark,
                table,
                batch_df,
                batch_id=stream_batch_id(checkpoint_dir, epoch_id),
                lsn_lo=int(bounds["lo"]),
                lsn_hi=int(bounds["hi"]),
                write_mode=write_mode,
                mor_max_deltas=mor_max_deltas,
                # epochs are pure stream slices (upstream LSNs):
                # rebase-safe, see apply.py _commit_validated
                allow_rebase=True,
            ),
            _reload,
        )
        if res.get("skipped"):
            totals["epochs_skipped"] += 1
        else:
            totals["epochs"] += 1
            totals["rows_applied"] += res.get("rows_applied", 0)

    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(events_dir)

    writer = (
        stream.writeStream.foreachBatch(apply_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
    else:
        if timeout_sec is None:
            raise ValueError(
                "available_now=False tails the stream forever; pass timeout_sec"
            )
        query = writer.start()
        query.awaitTermination(timeout_sec)
        query.stop()
    return totals
