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

Malformed and CHECK-violating events: each epoch runs the batch
replayer's triage (cdc/triage.py) as a one-chunk stream — one
aggregation yields the policy counts and the per-bucket stats that
``apply_batch`` takes precomputed, so an epoch runs one aggregation
before its merge write, and a 'fail' count raises before any diversion
is written.

Scale: micro-batch size is bounded with ``maxFilesPerTrigger``
(events/sec throughput then scales with executors exactly like batch
replay — same plan); state never lives in Spark's state store, it IS
the lake table, so there is no state-store blow-up on 10^10 keys.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import EVENTS_SCHEMA
from ..cdc.apply import apply_batch, check_write_mode
from ..cdc.manifest import stream_batch_id, stream_namespace
from ..cdc.table import LakeTable, retry_on_fork_rewind
from ..cdc.triage import Triage, check_policies


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

    ``on_malformed`` / ``on_violation`` are the batch replayer's
    fail/quarantine/drop policies for malformed events and CHECK
    violations, decided by the same triage (cdc/triage.py) with the
    epoch as its one chunk: 'fail' (default) fails the QUERY on the
    first epoch carrying such an event, before anything of it is
    written; 'quarantine' diverts the rows (+ ``_reason``) to
    ``quarantine_dir`` (default ``<table>/_quarantine``) as
    ``epoch-<ns>-<id>`` (violations: ``…-checks``), overwritten per
    epoch so a replayed epoch stays idempotent; 'drop' discards them.
    A row that is both follows the malformed policy. Counted in the
    returned totals (``rows_quarantined``/``rows_dropped`` for
    malformed, ``rows_violating`` for violations).

    Returns totals: epochs applied, rows applied.
    """
    check_policies(on_malformed, on_violation)
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
        tri = Triage(
            batch_df,
            LakeTable.load(table_root),
            on_malformed,
            on_violation,
            context=f"epoch {epoch_id}",
        )
        # dir carries the stream namespace for the same reason the
        # batch id does: two checkpoints both restart epochs at 0, and
        # un-namespaced epoch-0 dirs would overwrite each other's
        # diverted rows
        diverted = tri.divert(
            quarantine_dir or os.path.join(tri.table.root, "_quarantine"),
            f"epoch-{stream_namespace(checkpoint_dir)}-{epoch_id}",
        )
        for k in ("rows_quarantined", "rows_dropped", "rows_violating"):
            totals[k] += diverted.get(k, 0)
        if tri.lsn_lo is None:
            return
        # concurrent-commit resilience, mirroring the batch replayer: a
        # maintenance commit (compact/rebucket/DDL/clone registration)
        # landing between this epoch's load and its commit raises the
        # fork/rewind guard — tri.reload picks up the fresh base (and
        # re-aggregates the stats after a rebucket) and the epoch
        # re-applies instead of failing the whole streaming query
        res = retry_on_fork_rewind(
            lambda: apply_batch(
                spark,
                tri.table,
                tri.applied,
                batch_id=stream_batch_id(checkpoint_dir, epoch_id),
                lsn_lo=int(tri.lsn_lo),
                lsn_hi=int(tri.lsn_hi),
                write_mode=write_mode,
                mor_max_deltas=mor_max_deltas,
                precomputed_stats=tri.by_chunk.get(0, []),
                precomputed_stats_n_buckets=tri.n_buckets,
                # epochs are pure stream slices (upstream LSNs):
                # rebase-safe, see apply.py _commit_validated
                allow_rebase=True,
            ),
            tri.reload,
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
