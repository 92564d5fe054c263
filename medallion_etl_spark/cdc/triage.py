"""Change-event triage: the one place that decides what happens to a
malformed or CHECK-violating event, for batch replay chunks and
streaming epochs alike.

A change event is malformed when it cannot participate in the LWW
merge at all:

- ``null_lsn`` — no position in the total order, so "last writer"
  is undefined for it;
- ``null_key`` — no merge identity (a NULL key row can be stored, but
  a CHANGE event without a key cannot name what it changes);
- ``bad_op``  — op outside {I, U, D}. Without a gate these silently
  fall into the "not a delete" branch and UPSERT garbage.

It violates the table's CHECK constraints when a predicate evaluates
to FALSE (cdc/constraints.py: NULL passes, tombstones are exempt).

The reference trusts its extract layer (requests + psycopg2 executemany
against typed DDL, e.g. reference etl/extract/extract_sql.py) to reject
bad rows before load; a WAL/binlog tail has no such gatekeeper, so the
replayer owns the policy (Spark's badRecordsPath / Delta constraint
analog), one per kind (``on_malformed``, ``on_violation``):

- ``fail`` (default): raise before ANYTHING is written or applied;
- ``quarantine``: write the rows (+ ``_reason``) to a deterministic
  dir, replay the rest. Overwrite-by-range keeps redelivery idempotent;
- ``drop``: replay the rest, report the count.

``Triage`` is one pass over a chunk set (a replay's pending window or
one epoch):

1. one reason expression, ``event_reason``: the malformed reason
   first, then ``check:<name>`` — a row that is both is counted,
   diverted and reported as malformed only;
2. one grouped aggregation per (chunk, bucket): the apply stats of
   the rows that will apply (``apply_batch``'s ``precomputed_stats``)
   plus the malformed, NULL-lsn and violating counts — zero extra
   jobs on the clean path;
3. one fail step on those counts, before any diversion is written;
4. one diversion writer (``divert``).

All paths are pure column expressions — no per-row Python.

Terminality: a diverted (quarantined/dropped) event is PROCESSED at
its LSN — the committed batch claims its full planned range, because
redelivery idempotence requires re-presenting the identical range.
Remediation therefore means re-sending the fixed event at a NEW LSN;
a re-send at the original LSN is a manifest no-op for replay and sits
at or below every later change-feed watermark.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .constraints import violation_reason
from .table import LakeTable, bucket_expr

VALID_OPS = ("I", "U", "D")
POLICIES = ("fail", "quarantine", "drop")


def check_policies(on_malformed: str, on_violation: str) -> None:
    """Reject an unknown policy before any Spark job runs."""
    for name, policy in (("on_malformed", on_malformed), ("on_violation", on_violation)):
        if policy not in POLICIES:
            raise ValueError(f"{name} must be one of {POLICIES}, got {policy!r}")


def malformed_reason(key_col: str) -> Column:
    """NULL iff the event is well-formed, else the first failing
    reason. Total: a NULL op yields 'bad_op', never a NULL boolean
    (``isin`` on NULL is NULL, which a bare filter would drop
    silently — exactly the bug this module exists to prevent)."""
    return (
        F.when(F.col("lsn").isNull(), F.lit("null_lsn"))
        .when(F.col(key_col).isNull(), F.lit("null_key"))
        .when(
            ~F.coalesce(F.col("op").isin(*VALID_OPS), F.lit(False)),
            F.lit("bad_op"),
        )
    )


def event_reason(key_col: str, constraints: dict[str, str]) -> Column:
    """NULL iff the event applies, else why not: the malformed reason
    first, then ``check:<name>`` of the first violated constraint.
    This is the only place "malformed wins" is written."""
    m = malformed_reason(key_col)
    v = violation_reason(constraints)
    return m if v is None else F.coalesce(m, v)


def fail_on_violations(df: DataFrame, reason: Column, total: int, *, context: str = "") -> None:
    """Raise the canonical constraint error. The per-constraint detail
    is one error-path aggregation over the same ``reason`` tag the
    caller counted ``total`` with, so a row violating several
    constraints is counted ONCE (first by name) and the detail always
    sums to the total — independent per-predicate counts would
    overstate it and send the operator hunting for phantom rows."""
    rows = (
        df.select(reason.alias("_r"))
        .filter(F.col("_r").startswith("check:"))
        .groupBy("_r")
        .count()
        .collect()
    )
    detail = ", ".join(
        f"{r['_r']}: {r['count']}" for r in sorted(rows, key=lambda r: r["_r"])
    ) or f"total: {total}"
    where = f"{context}: " if context else ""
    raise ValueError(
        f"{where}{total} change event(s) violate CHECK constraint(s) "
        f"({detail}); nothing was applied. Fix the producer, DROP the "
        "constraint, or re-run with on_violation='quarantine'/'drop'."
    )


def _write(df: DataFrame, path: str, chunk: Column | None) -> None:
    """Whole-dir overwrite, or — given the chunk-id expression —
    chunk-partitioned with dynamic partition overwrite, so a rewrite
    replaces exactly the chunks it carries."""
    if chunk is None:
        df.write.mode("overwrite").parquet(path)
        return
    (
        df.withColumn("_chunk", chunk)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_chunk")
        .parquet(path)
    )


class Triage:
    """Aggregate ``events`` against ``table`` and run the fail step;
    nothing is written until ``divert``.

    ``chunk`` maps an event to its chunk id (the batch replayer's LSN
    ranges); None means one chunk, id 0 (a streaming epoch). A NULL-lsn
    event has no chunk under either. ``context`` prefixes the fail
    messages.

    Results: ``by_chunk`` (chunk id -> per-bucket stats of the rows
    that apply, for ``apply_batch``), the bucket layout they address
    (``n_buckets``), ``n_bad`` / ``n_null`` / ``n_viol`` and the raw
    LSN bounds (``lsn_lo``/``lsn_hi``, over every non-NULL lsn)."""

    def __init__(
        self,
        events: DataFrame,
        table: LakeTable,
        on_malformed: str,
        on_violation: str,
        *,
        chunk: Column | None = None,
        context: str = "",
    ) -> None:
        self.events, self.table = events, table
        self.on_malformed, self.on_violation = on_malformed, on_violation
        self.chunk = F.when(F.col("lsn").isNotNull(), F.lit(0)) if chunk is None else chunk
        self.reason = event_reason(table.key_col, table.constraints)
        self._aggregate()
        where = f"{context}: " if context else ""
        if self.n_bad and on_malformed == "fail":
            raise ValueError(
                f"{where}{self.n_bad} malformed change event(s) (NULL lsn, NULL "
                "key, or op outside {'I','U','D'}); nothing was applied. Re-run "
                "with on_malformed='quarantine' to divert them, or 'drop' to "
                "discard them."
            )
        if self.n_viol and on_violation == "fail":
            fail_on_violations(events, self.reason, self.n_viol, context=context)

    def _aggregate(self) -> None:
        """The one grouped aggregation, under the CURRENT table layout.
        Under fail/fail every rejected row raises, so the apply stats
        count every row and the plan is the plain stats aggregation."""
        lsn = F.col("lsn")
        keep = (
            F.lit(True)
            if self.on_malformed == self.on_violation == "fail"
            else self.reason.isNull()
        )
        sv = (
            F.col("schema_version")
            if "schema_version" in self.events.columns
            else F.lit(None).cast("int")
        )
        rows = (
            self.events.groupBy(
                self.chunk.alias("_chunk"),
                bucket_expr(self.table.key_col, self.table.n_buckets).alias("_bucket"),
            )
            .agg(
                F.count(F.when(keep, 1)).alias("rows_applied"),
                F.min(F.when(keep, lsn)).alias("lsn_lo"),
                F.max(F.when(keep, lsn)).alias("lsn_hi"),
                F.max(F.when(keep, sv)).alias("max_sv"),
                F.min(lsn).alias("_lo"),
                F.max(lsn).alias("_hi"),
                F.count_if(malformed_reason(self.table.key_col).isNotNull()).alias("_bad"),
                F.count_if(self.reason.isNotNull()).alias("_rejected"),
            )
            .collect()
        )
        self.n_bad = sum(int(r["_bad"]) for r in rows)
        # NULL-lsn events (always malformed) are exactly the NULL chunk
        self.n_null = sum(int(r["_bad"]) for r in rows if r["_chunk"] is None)
        self.n_viol = sum(int(r["_rejected"]) for r in rows) - self.n_bad
        self.lsn_lo = min((r["_lo"] for r in rows if r["_lo"] is not None), default=None)
        self.lsn_hi = max((r["_hi"] for r in rows if r["_hi"] is not None), default=None)
        self.by_chunk: dict[int, list] = {}
        for r in rows:
            if r["rows_applied"] and r["_chunk"] is not None:
                self.by_chunk.setdefault(int(r["_chunk"]), []).append(r)
        self.n_buckets = self.table.n_buckets

    def reload(self) -> None:
        """Reload hook for ``retry_on_fork_rewind``: pick up the other
        writer's HEAD (and manifest: the chunk may now be a skip). If a
        concurrent rebucket() committed, every ``_bucket`` id in
        ``by_chunk`` addresses the OLD layout, so re-aggregate under
        the new one (the fail step already ran)."""
        self.table = LakeTable.load(self.table.root)
        if self.table.n_buckets != self.n_buckets:
            self._aggregate()

    @property
    def applied(self) -> DataFrame:
        """The events that apply (every event when none was diverted)."""
        return self.events.filter(self.reason.isNull()) if self.n_bad or self.n_viol else self.events

    def divert(self, qdir: str, name: str, *, null_name: str | None = None) -> dict:
        """Write the quarantined rows under ``qdir`` and return the
        result keys (``rows_quarantined`` + both path keys,
        ``rows_dropped``, ``rows_violating`` + ``violations_path``;
        each only when nonzero). Malformed and violating datasets are
        SIBLINGS (``name`` and ``name-checks``), never nested: partition
        discovery over a parent would fail or conflate them.

        ``null_name`` selects the batch layout: LSN-ranged rows are
        chunk-partitioned with dynamic overwrite (a resume rewrites
        exactly the pending chunks), and NULL-lsn rows, which have no
        chunk and are re-seen every run, go whole-dir to ``null_name``.
        Without it every dataset is one whole-dir overwrite (an
        epoch)."""
        out: dict = {}
        tagged = self.events.withColumn("_reason", self.reason)
        is_check = F.col("_reason").startswith("check:")
        chunk = self.chunk if null_name is not None else None
        if self.n_bad and self.on_malformed == "quarantine":
            bad = tagged.filter(~is_check)
            path = null_path = None
            if null_name is None:
                path = os.path.join(qdir, name)
                _write(bad, path, None)
            else:
                if self.n_null:
                    null_path = os.path.join(qdir, null_name)
                    _write(bad.filter(F.col("lsn").isNull()), null_path, None)
                if self.n_bad - self.n_null:
                    path = os.path.join(qdir, name)
                    _write(bad.filter(F.col("lsn").isNotNull()), path, chunk)
            out.update(rows_quarantined=self.n_bad, quarantine_path=path, quarantine_null_path=null_path)
        elif self.n_bad:
            out["rows_dropped"] = self.n_bad
        if self.n_viol:
            out["rows_violating"] = self.n_viol
            if self.on_violation == "quarantine":
                out["violations_path"] = os.path.join(qdir, f"{name}-checks")
                _write(tagged.filter(is_check), out["violations_path"], chunk)
        return out
