"""Chunked CDC replay driver: the batch-mode apply loop.

Splits the event stream into deterministic LSN ranges and applies each
not-yet-committed chunk to the LakeTable (fused LWW dedup + tombstone
merge, see apply.py), manifest entry + lineage record in the chunk's
own version document, one pointer swap. Resuming (after a kill at ANY
point) is just calling replay() again: committed chunks are skipped,
the in-flight one is recomputed.

Correctness note on chunking: the merge is max-LSN-wins over rows that
carry their producing LSN (with delete tombstones), so the final state
is independent of chunk application ORDER — ascending replay, a
scrambled resume, or an out-of-order micro-batch all converge
(tests/test_streaming.py::test_out_of_order_batches_converge). This
strictly generalizes the reference's in-order month-range replay
invariant (reference orchestrator.py:480-509).

Malformed and CHECK-violating events are triaged once, up front, over
the pending window (cdc/triage.py): that one aggregation yields the
policy counts and every chunk's per-bucket apply stats, its fail step
runs before any diversion is written, and the apply loop consumes the
stats. The streaming variant (Structured Streaming + foreachBatch over
the same triage and the same apply) lives in streaming/stream_replay.py.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .apply import apply_batch, check_write_mode
from .manifest import pending_chunks, plan_chunks
from .table import LakeTable, retry_on_fork_rewind
from .triage import Triage, check_policies


def _stream_tag(table_root: str) -> str:
    """Short digest of the table identity for quarantine dir names:
    two tables sharing one custom ``quarantine_dir`` (a tested
    configuration) whose streams happen to start at the same LSN must
    not collide on ``range-from-<lsn_min>``."""
    return hashlib.md5(os.path.abspath(table_root).encode("utf-8")).hexdigest()[:8]


def replay(
    spark: SparkSession,
    events: DataFrame,
    table: LakeTable,
    *,
    chunk_size: int = 1_000_000,
    write_mode: str = "cow",
    mor_max_deltas: int = 8,
    max_batches: int | None = None,
    on_malformed: str = "fail",
    on_violation: str = "fail",
    quarantine_dir: str | None = None,
) -> dict:
    """Replay all not-yet-committed LSN chunks of ``events`` into
    ``table``. ``max_batches`` lets tests simulate a mid-replay kill.

    ``on_malformed`` and ``on_violation`` are the fail/quarantine/drop
    policies for malformed events (NULL lsn/key, op outside {I,U,D})
    and for the table's CHECK constraints (tombstones exempt, NULL
    predicates pass); cdc/triage.py decides both in ONE upfront
    aggregation that also computes every chunk's apply stats, and
    raises on a 'fail' count before anything is written or applied. A
    row that is both malformed and violating follows the malformed
    policy. 'quarantine' writes the rows (+ ``_reason``) to
    ``<quarantine_dir or <table>/_quarantine>/range-from-<lsn_min>-<tid>``
    (violations: its ``…-checks`` sibling) partitioned by chunk id
    with dynamic partition overwrite — keyed by the stream's START + a
    table digest, so the dir is stable across resumes and stream
    growth yet distinct per ingest window, and a kill-and-resume
    rewrites exactly the still-pending chunks' partitions (committed
    chunks' diagnostics stay put: a discovery scan over _quarantine/*
    counts every bad row exactly once). NULL-lsn rows have no chunk
    and re-enter scope every run, so they land in the sibling
    ``range-null-from-<lsn_min>-<tid>`` dir, whole-dir overwritten
    (the complete set is re-seen each run). 'drop' replays the rest
    and reports the count. Chunk PLANNING always uses the raw stream's
    LSN bounds, so the chunk ids a quarantining replay commits are
    identical to what a clean replay of the same range would commit (a
    chunk whose events were all bad commits as an empty batch).

    Returns totals: batches applied, rows applied, events seen.
    """
    check_policies(on_malformed, on_violation)
    check_write_mode(write_mode)
    if chunk_size <= 0:
        raise ValueError(f"chunk_size must be positive, got {chunk_size}")
    bounds = events.agg(
        F.min("lsn").alias("lo"),
        F.max("lsn").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    qroot = quarantine_dir or os.path.join(table.root, "_quarantine")
    tag = _stream_tag(table.root)
    if bounds["lo"] is None:
        if not bounds["n"]:
            return {"batches_applied": 0, "rows_applied": 0}
        # EVERY event has a NULL lsn: all malformed, no chunk plan
        # exists. This must route through the malformed policy, not
        # report clean success (the silent-discard hole); quarantine
        # diverts to the per-table unbounded-null dir (overwritten per
        # run — the rows stay in scope every run).
        tri = Triage(events, table, on_malformed, on_violation)
        return {
            "batches_applied": 0,
            "rows_applied": 0,
            "planned_chunks": 0,
            **tri.divert(qroot, f"range-from-none-{tag}", null_name=f"range-null-from-none-{tag}"),
        }
    lsn_min = int(bounds["lo"])
    lsn_max = int(bounds["hi"])
    chunks = plan_chunks(lsn_min, lsn_max, chunk_size)
    todo = pending_chunks(table, chunks)
    if max_batches is not None:
        todo = todo[:max_batches]

    # scope this run to the PENDING window: on a resume where the
    # stream grew (or a mid-stream restart), splitting/validating the
    # already-committed ranges again would re-quarantine old rows
    # under a new range dir and double-count diagnostics. NULL-lsn
    # rows have no LSN home, so they stay in scope every run. Fresh
    # runs are unchanged (the window IS the stream bounds).
    pend_lo = todo[0][1] if todo else lsn_min
    pend_hi = todo[-1][2] if todo else lsn_max
    if todo and (pend_lo > lsn_min or pend_hi < lsn_max):
        events = events.filter(
            F.col("lsn").isNull() | F.col("lsn").between(pend_lo, pend_hi)
        )

    # Quarantine dir naming, designed for three invariants a discovery
    # scan over _quarantine/* depends on: (1) RESUME-IDEMPOTENT — a
    # kill-and-resume or full redelivery must not double-divert a row
    # under a second dir; (2) WINDOW-ISOLATED — a later ingest (other
    # stream/table sharing the root) must never destroy an earlier
    # window's diagnostics; (3) GROWTH-STABLE — a stream that grew
    # keeps writing where it wrote before. All three follow from
    # keying every dir by the stream's START (stable under growth and
    # under resume, distinct across windows) + a table digest, and
    # partitioning LSN-ranged rows by their chunk id with DYNAMIC
    # partition overwrite (triage.Triage.divert): a resume rewrites
    # exactly the still-pending chunks' partitions and leaves committed
    # chunks' diagnostics in place. NULL-lsn rows have no chunk; they
    # stay in scope every run (the complete set is re-seen), so
    # whole-dir overwrite is exact.
    stream_key = f"from-{lsn_min}-{tag}"
    # ONE upfront triage aggregation computes every chunk's per-bucket
    # stats (chunk index is a pure function of lsn and the
    # deterministic plan) together with the policy counts, so the apply
    # loop runs exactly one job per chunk instead of stats-job +
    # merge-job. Exact integer division (`div`), NOT float floor:
    # double arithmetic loses integer precision past 2^53, and a chunk
    # index that disagrees with plan_chunks' integer ranges would
    # attribute a boundary event's bucket stats to the wrong chunk.
    t_stats0 = time.perf_counter()
    tri = (
        Triage(
            events,
            table,
            on_malformed,
            on_violation,
            chunk=F.expr(f"(lsn - {lsn_min}L) div {chunk_size}L").cast("int"),
        )
        if todo
        else None
    )
    upfront_stats_sec = round(time.perf_counter() - t_stats0, 3)
    diverted: dict = {}
    if tri is not None:
        diverted = tri.divert(qroot, f"range-{stream_key}", null_name=f"range-null-{stream_key}")
        if diverted.get("quarantine_null_path"):
            # an earlier ALL-null run of this stream parked its rows in
            # the unbounded dir; they are in this run's write, so
            # retiring it keeps the discovery-scan count exact
            shutil.rmtree(os.path.join(qroot, f"range-null-from-none-{tag}"), ignore_errors=True)
        events = tri.applied

    batches = 0
    rows = 0
    rebases = 0
    phase_totals: dict[str, float] = {}
    for batch_id, lo, hi in todo:
        chunk = events.filter(F.col("lsn").between(lo, hi))
        # concurrent-writer resilience: if another replayer committed
        # between our load and this chunk's commit, the optimistic-
        # concurrency gate raises — reload and re-apply against the
        # fresh base (tri.reload also re-aggregates the stats if a
        # concurrent rebucket() changed the layout). The merge is
        # order-independent, so re-computing against the newer base is
        # exactly as correct as having loaded it first.
        res = retry_on_fork_rewind(
            lambda batch_id=batch_id, lo=lo, hi=hi, chunk=chunk: apply_batch(
                spark,
                tri.table,
                chunk,
                batch_id,
                lo,
                hi,
                write_mode=write_mode,
                mor_max_deltas=mor_max_deltas,
                precomputed_stats=tri.by_chunk.get(batch_id, []),
                precomputed_stats_n_buckets=tri.n_buckets,
                # replay chunks are pure stream slices carrying
                # upstream LSNs — content independent of table state,
                # so a disjoint-writer conflict may rebase the commit
                # instead of recomputing the merge (apply.py)
                allow_rebase=True,
            ),
            tri.reload,
        )
        if not res.get("skipped"):
            batches += 1
            rows += res.get("rows_applied", 0)
            if res.get("commit_rebased"):
                rebases += 1
            for phase, sec in res.get("timings", {}).items():
                phase_totals[phase] = round(phase_totals.get(phase, 0.0) + sec, 3)
    phase_totals["upfront_stats"] = upfront_stats_sec
    out = {
        "batches_applied": batches,
        "rows_applied": rows,
        # chunks whose conflicted commit was re-issued on a fresh HEAD
        # without recomputing the merge (apply.py _commit_validated) —
        # observability for concurrent-writer deployments and the
        # multi-process OCC tests
        "commits_rebased": rebases,
        "planned_chunks": len(chunks),
        "phase_totals": phase_totals,
    }
    out.update(diverted)
    return out
