"""Chunked CDC replay driver: the batch-mode apply loop.

Splits the event stream into deterministic LSN ranges and applies each
not-yet-committed chunk to the LakeTable (fused LWW dedup + tombstone
merge, see apply.py), committing manifest + lineage atomically per
chunk. Resuming (after a kill at ANY point) is just calling replay()
again: committed chunks are skipped, the in-flight one is recomputed.

Correctness note on chunking: the merge is max-LSN-wins over rows that
carry their producing LSN (with delete tombstones), so the final state
is independent of chunk application ORDER — ascending replay, a
scrambled resume, or an out-of-order micro-batch all converge
(tests/test_streaming.py::test_out_of_order_batches_converge). This
strictly generalizes the reference's in-order month-range replay
invariant (reference orchestrator.py:480-509).

The streaming variant (Structured Streaming + foreachBatch over the
same apply) lives in streaming/stream_replay.py.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .apply import apply_batch, check_write_mode
from .constraints import fail_on_violations, violation_reason
from .manifest import pending_chunks, plan_chunks
from .quarantine import POLICIES, malformed_reason, split_malformed
from .table import LakeTable, bucket_expr, retry_on_fork_rewind

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

    ``on_malformed`` (see quarantine.py): 'fail' raises before anything
    is applied if any event has a NULL lsn/key or an op outside
    {I,U,D} — the count rides the upfront stats job, no extra scan;
    'quarantine' writes the bad rows (+ ``_reason``) to
    ``<quarantine_dir or <table>/_quarantine>/range-from-<lsn_min>-<tid>``
    partitioned by chunk id with dynamic partition overwrite — keyed
    by the stream's START + a table digest, so the dir is stable
    across resumes and stream growth yet distinct per ingest window,
    and a kill-and-resume rewrites exactly the still-pending chunks'
    partitions (committed chunks' diagnostics stay put: a discovery
    scan over _quarantine/* counts every bad row exactly once).
    NULL-lsn rows have no chunk and re-enter scope every run, so they
    land in the sibling ``range-null-from-<lsn_min>-<tid>`` dir,
    whole-dir overwritten (the complete set is re-seen each run).
    'drop' replays the rest and reports the count. Chunk
    PLANNING always uses the raw stream's LSN bounds, so the chunk ids
    a quarantining replay commits are identical to what a clean replay
    of the same range would commit (a chunk whose events were all bad
    commits as an empty batch).

    ``on_violation`` is the same policy triple for the table's CHECK
    constraints (see cdc/constraints.py; tombstones are exempt, NULL
    predicates pass): 'fail' raises before anything is applied — the
    violation total rides the same upfront stats job as the malformed
    count — 'quarantine' diverts violating events (+ ``_reason =
    'check:<name>'``) to ``<quarantine>/…-checks``, 'drop' discards
    them with a count.

    Returns totals: batches applied, rows applied, events seen.
    """
    if on_malformed not in POLICIES:
        raise ValueError(f"on_malformed must be one of {POLICIES}, got {on_malformed!r}")
    if on_violation not in POLICIES:
        raise ValueError(f"on_violation must be one of {POLICIES}, got {on_violation!r}")
    check_write_mode(write_mode)
    if chunk_size <= 0:
        raise ValueError(f"chunk_size must be positive, got {chunk_size}")
    bounds = events.agg(
        F.min("lsn").alias("lo"),
        F.max("lsn").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if bounds["lo"] is None:
        n_rows = int(bounds["n"])
        if n_rows == 0:
            return {"batches_applied": 0, "rows_applied": 0}
        # EVERY event has a NULL lsn: all malformed, no chunk plan
        # exists. This must route through the malformed policy, not
        # report clean success (the silent-discard hole): fail raises,
        # quarantine diverts to the per-table unbounded-null dir
        # (overwritten per run — the rows stay in scope every run),
        # drop counts.
        if on_malformed == "fail":
            raise ValueError(
                f"{n_rows} malformed change event(s) in the stream (every "
                "event has a NULL lsn); nothing was applied. Re-run with "
                "on_malformed='quarantine' to divert them, or 'drop' to "
                "discard them."
            )
        out = {"batches_applied": 0, "rows_applied": 0, "planned_chunks": 0}
        if on_malformed == "quarantine":
            qroot = quarantine_dir or os.path.join(table.root, "_quarantine")
            _, bad = split_malformed(events, table.key_col)
            npath = os.path.join(
                qroot, f"range-null-from-none-{_stream_tag(table.root)}"
            )
            bad.write.mode("overwrite").parquet(npath)
            out.update(
                rows_quarantined=n_rows,
                quarantine_path=None,
                quarantine_null_path=npath,
            )
        else:
            out["rows_dropped"] = n_rows
        return out
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

    rows_quarantined = 0
    rows_dropped = 0
    quarantine_path = None
    quarantine_null_path = None
    rows_violating = 0
    violations_path = None
    need_mal = on_malformed != "fail" and todo
    need_viol = on_violation != "fail" and todo and bool(table.constraints)
    n_bad = n_null = n_viol = 0
    if need_mal or need_viol:
        # ONE counting aggregation for both policies (a separate
        # violating.count() job would rescan the stream). A row that
        # is BOTH malformed and violating follows the malformed
        # policy — the `mreason.isNull()` conjunct keeps it out of the
        # violation split (both conjuncts are non-null booleans, so
        # the negation in `passing` cannot silently drop rows).
        mreason = malformed_reason(table.key_col)
        aggs = [
            F.count(F.when(mreason.isNotNull(), 1)).alias("n_bad"),
            F.count(
                F.when(mreason.isNotNull() & F.col("lsn").isNull(), 1)
            ).alias("n_null"),
        ]
        if need_viol:
            vreason = violation_reason(table.constraints)
            aggs.append(
                F.count(F.when(vreason.isNotNull() & mreason.isNull(), 1)).alias(
                    "n_viol"
                )
            )
        crow = events.agg(*aggs).collect()[0]
        if need_mal:
            n_bad, n_null = int(crow["n_bad"]), int(crow["n_null"])
        if need_viol:
            n_viol = int(crow["n_viol"])

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
    # partition overwrite: a resume rewrites exactly the still-pending
    # chunks' partitions and leaves committed chunks' diagnostics in
    # place. NULL-lsn rows have no chunk; they stay in scope every run
    # (the complete set is re-seen), so whole-dir overwrite is exact.
    qroot = quarantine_dir or os.path.join(table.root, "_quarantine")
    stream_key = f"from-{lsn_min}-{_stream_tag(table.root)}"
    chunk_id = F.expr(f"(lsn - {lsn_min}L) div {chunk_size}L").cast("int")

    if need_mal and n_bad:
        clean, bad = split_malformed(events, table.key_col)
        if on_malformed == "quarantine":
            # malformed and constraint-violation datasets must be
            # SIBLINGS, never one parquet dataset nested inside
            # another (partition discovery over the parent would fail
            # or conflate them)
            if n_null:
                quarantine_null_path = os.path.join(
                    qroot, f"range-null-{stream_key}"
                )
                bad.filter(F.col("lsn").isNull()).write.mode("overwrite").parquet(
                    quarantine_null_path
                )
                # an earlier ALL-null run of this stream parked its rows
                # in the unbounded dir; they are in this run's write, so
                # retiring it keeps the discovery-scan count exact
                shutil.rmtree(
                    os.path.join(
                        qroot, f"range-null-from-none-{_stream_tag(table.root)}"
                    ),
                    ignore_errors=True,
                )
            if n_bad - n_null:
                quarantine_path = os.path.join(qroot, f"range-{stream_key}")
                (
                    bad.filter(F.col("lsn").isNotNull())
                    .withColumn("_chunk", chunk_id)
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("_chunk")
                    .parquet(quarantine_path)
                )
            rows_quarantined = n_bad
        else:
            rows_dropped = n_bad
        events = clean

    if need_viol and n_viol:
        vreason = violation_reason(table.constraints)
        is_viol = vreason.isNotNull() & malformed_reason(table.key_col).isNull()
        passing = events.filter(~is_viol)
        violating = events.withColumn("_reason", vreason).filter(is_viol)
        if on_violation == "quarantine":
            violations_path = os.path.join(qroot, f"range-{stream_key}-checks")
            (
                violating.withColumn("_chunk", chunk_id)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_chunk")
                .parquet(violations_path)
            )
        rows_violating = n_viol
        events = passing

    # ONE upfront aggregation computes every chunk's per-bucket stats
    # (chunk index is a pure function of lsn and the deterministic
    # plan), so the apply loop runs exactly one job per chunk instead
    # of stats-job + merge-job. Map-side partial agg keeps the shuffle
    # at n_chunks x n_buckets rows.
    import time as _time

    def compute_chunk_stats(validate: bool) -> dict[int, list]:
        """Per-(chunk, bucket) stats under the CURRENT ``table``
        layout. ``validate=True`` (first pass) also rides the malformed
        / CHECK-constraint fail counters on the same aggregation; the
        recompute after a concurrent rebucket skips them — the stream
        was already validated (or diverted) on the first pass."""
        has_sv = "schema_version" in events.columns
        sv_agg = (
            [F.max("schema_version").alias("max_sv")]
            if has_sv
            else [F.lit(None).cast("int").alias("max_sv")]
        )
        # exact integer division (`div`), NOT float floor: double
        # arithmetic loses integer precision past 2^53, and a chunk
        # index that disagrees with plan_chunks' integer ranges would
        # attribute a boundary event's bucket stats to the wrong chunk
        chunk_idx = F.expr(f"(lsn - {lsn_min}L) div {chunk_size}L").cast("int")
        # fail-mode validation rides this same aggregation: NULL-lsn
        # rows land in the NULL _chunk group, every other malformed
        # row is counted inside its group — one scan either way
        bad_agg = (
            [F.count_if(malformed_reason(table.key_col).isNotNull()).alias("_bad")]
            if validate and on_malformed == "fail"
            else [F.lit(0).alias("_bad")]
        )
        # fail-mode CHECK-constraint validation rides the same pass
        vreason = (
            violation_reason(table.constraints)
            if validate and on_violation == "fail"
            else None
        )
        viol_agg = (
            [F.count_if(vreason.isNotNull()).alias("_viol")]
            if vreason is not None
            else [F.lit(0).alias("_viol")]
        )
        all_stats = (
            events.groupBy(
                chunk_idx.alias("_chunk"),
                bucket_expr(table.key_col, table.n_buckets).alias("_bucket"),
            )
            .agg(
                F.count(F.lit(1)).alias("rows_applied"),
                F.min("lsn").alias("lsn_lo"),
                F.max("lsn").alias("lsn_hi"),
                *sv_agg,
                *bad_agg,
                *viol_agg,
            )
            .collect()
        )
        total_bad = sum(int(r["_bad"]) for r in all_stats)
        if total_bad:
            raise ValueError(
                f"{total_bad} malformed change event(s) in the stream (NULL "
                "lsn, NULL key, or op outside {'I','U','D'}); nothing was "
                "applied. Re-run with on_malformed='quarantine' to divert "
                "them, or 'drop' to discard them."
            )
        total_viol = sum(int(r["_viol"]) for r in all_stats)
        if total_viol:
            fail_on_violations(events, table.constraints, total_viol)
        by_chunk: dict[int, list] = {}
        for r in all_stats:
            by_chunk.setdefault(int(r["_chunk"]), []).append(r)
        return by_chunk

    t_stats0 = _time.perf_counter()
    stats_by_chunk: dict[int, list] = compute_chunk_stats(validate=True) if todo else {}
    # the layout the stats were computed under: a concurrent rebucket()
    # mid-replay invalidates every precomputed _bucket id (old-layout
    # ids against a new-layout table would merge against a partial base
    # and silently drop the untouched keys of the replaced buckets)
    stats_n_buckets = table.n_buckets
    upfront_stats_sec = round(_time.perf_counter() - t_stats0, 3)

    batches = 0
    rows = 0
    rebases = 0
    phase_totals: dict[str, float] = {}

    def _reload_after_conflict() -> None:
        # reload the table (picking up the other writer's buckets AND
        # manifest: the chunk may now be a skip); if a concurrent
        # rebucket() committed mid-replay, the upfront stats address
        # the OLD bucket layout, so every remaining chunk's _bucket
        # ids (and the changed-bucket sets derived from them) are
        # stale — recompute under the reloaded layout before
        # re-applying (validation already ran on pass one)
        nonlocal table, stats_by_chunk, stats_n_buckets
        table = LakeTable.load(table.root)
        if table.n_buckets != stats_n_buckets:
            stats_by_chunk = compute_chunk_stats(validate=False)
            stats_n_buckets = table.n_buckets

    for batch_id, lo, hi in todo:
        chunk = events.filter(F.col("lsn").between(lo, hi))
        # concurrent-writer resilience: if another replayer committed
        # between our load and this chunk's commit, the optimistic-
        # concurrency gate raises — reload and re-apply against the
        # fresh base. The merge is order-independent, so re-computing
        # against the newer base is exactly as correct as having
        # loaded it first.
        res = retry_on_fork_rewind(
            lambda batch_id=batch_id, lo=lo, hi=hi, chunk=chunk: apply_batch(
                spark,
                table,
                chunk,
                batch_id,
                lo,
                hi,
                write_mode=write_mode,
                mor_max_deltas=mor_max_deltas,
                precomputed_stats=stats_by_chunk.get(batch_id, []),
                precomputed_stats_n_buckets=stats_n_buckets,
                # replay chunks are pure stream slices carrying
                # upstream LSNs — content independent of table state,
                # so a disjoint-writer conflict may rebase the commit
                # instead of recomputing the merge (apply.py)
                allow_rebase=True,
            ),
            _reload_after_conflict,
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
    if rows_quarantined:
        # both path keys are ALWAYS present when rows were quarantined
        # (None when that split was empty): consumers index
        # res["quarantine_path"] on the old single-dir contract and
        # must get None, not KeyError, when every bad row was NULL-lsn
        out["rows_quarantined"] = rows_quarantined
        out["quarantine_path"] = quarantine_path
        out["quarantine_null_path"] = quarantine_null_path
    if rows_dropped:
        out["rows_dropped"] = rows_dropped
    if rows_violating:
        out["rows_violating"] = rows_violating
        if violations_path:
            out["violations_path"] = violations_path
    return out
