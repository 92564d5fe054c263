"""Quarantine redrive: the remediation half of the malformed/violation
policy (cdc/triage.py wrote the rows; this re-applies them).

A diverted event is terminal at its ORIGINAL LSN — the committed batch
claimed its full planned range, so remediation means re-sending the
fixed rows at NEW LSNs (triage.py's docstring states the
contract; this module is its implementation). ``redrive_quarantine``
reads one quarantine dataset, applies a caller-supplied fix (a
DataFrame transform — e.g. patch ``op``, fill a key, correct a value
that violated a CHECK), re-validates with the SAME malformed gate the
replayers use, mints fresh LSNs at the table's high-water mark + 1,
and applies through ``apply_batch`` — so redriven rows ride LWW,
constraints, lineage, the change feed and time travel exactly like a
stream chunk. Rows the fix did not cure either fail the whole redrive
(default) or are dropped with a count — never silently re-applied and
never re-quarantined (a redrive loop that feeds itself is an outage,
not a policy).

Exactly-once: the batch id is STABLE — derived from the quarantine
dir's name XOR a content signature (wrapping sum of per-row
xxhash64, count-mixed), in its own namespace
(``manifest.redrive_batch_id``). Re-running the same
redrive after a crash-between-commit-and-cleanup finds the id already
in the manifest, skips the apply, and finishes the cleanup. If a
LATER replay window re-quarantines new rows into the same dir name,
the content signature changes and with it the batch id — the new rows
are not shadowed by the old commit. The residual hazard (commit
succeeded, cleanup failed, AND the dir was then rewritten so
previously-redriven rows are re-presented) re-upserts the same
payloads at higher LSNs: harmless unless an upstream event touched
the key in between, which is the same wins-over-concurrent-history
semantics DML has — finish the cleanup before opening new windows.

LWW placement: like DML, redriven rows are minted above the current
HWM, so they WIN against everything already applied and LOSE to any
newer upstream event that arrives later — remediation is an edit with
a position in the total order, not a retroactive patch.

Scale shape: quarantine datasets are bad-row-sized, so the one
global-order window that assigns row numbers (deterministic re-mint:
same content ⇒ same batch, whatever partition layout the dir was read
with) is a deliberate single-partition pass over a small frame; the
apply itself is the normal distributed merge path. No per-row Python.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .apply import apply_batch
from .manifest import redrive_batch_id
from .table import LakeTable, retry_on_fork_rewind
from .triage import event_reason


def redrive_quarantine(
    spark: SparkSession,
    table: LakeTable,
    quarantine_path: str,
    *,
    transform=None,
    on_still_bad: str = "fail",
    write_mode: str = "auto",
) -> dict:
    """Re-apply one quarantine dataset. ``transform(df) -> df`` is the
    fix (receives ``_reason``; its output needs the event columns);
    ``on_still_bad``: 'fail' (default — raise before anything applies)
    or 'drop' (apply the cured rows, count the rest). The dir is
    removed after a successful (or already-committed) apply."""
    if on_still_bad not in ("fail", "drop"):
        raise ValueError(f"on_still_bad must be 'fail' or 'drop', got {on_still_bad!r}")
    path = os.path.abspath(quarantine_path)
    if not os.path.isdir(path):
        raise FileNotFoundError(f"no quarantine dataset at {path}")
    raw = spark.read.parquet(path)
    if transform is not None:
        raw = transform(raw)
    events = raw.drop(*[c for c in ("_reason", "_chunk") if c in raw.columns])

    # "still bad" = malformed OR (for '-checks' datasets) still
    # violating a CHECK constraint — otherwise 'drop' could never drop
    # an uncured violation and apply_batch's enforcement would fail
    # the whole redrive mid-flight with the batch id already signed
    # over rows that never applied. Tombstones stay exempt, matching
    # every writer.
    still_bad = event_reason(table.key_col, table.constraints)

    # one small agg: totals, still-bad count, and the content signature
    # over exactly the rows that would be applied (kept rows only, so
    # a 'drop' redrive and a fail-then-fix redrive of the same cured
    # set mint the same id). The signature is a wrapping SUM of
    # per-row hashes mixed with the count — NOT bit_xor, which cancels
    # rows appearing an even number of times (duplicate redelivered
    # garbage is common in quarantine), letting a later re-quarantine
    # collide with an already-committed id and silently drop rows.
    ev = events.withColumn("_rr", still_bad).withColumn(
        "_h", F.xxhash64(*[F.col(c) for c in events.columns])
    )
    crow = ev.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("_rr").alias("n_bad"),
        F.coalesce(
            F.sum(
                F.when(F.col("_rr").isNull(), F.col("_h")).cast("decimal(38,0)")
            ),
            F.lit(0),
        ).alias("sig"),
    ).collect()[0]
    n_total, n_bad = int(crow["n_total"]), int(crow["n_bad"])
    n_keep = n_total - n_bad
    if n_bad and on_still_bad == "fail":
        raise ValueError(
            f"{n_bad} of {n_total} quarantined rows are still malformed or "
            "constraint-violating after the transform: fix them (transform=) or pass "
            "on_still_bad='drop' — a redrive never re-quarantines"
        )
    if n_keep == 0:
        shutil.rmtree(path, ignore_errors=True)
        return {"redriven": 0, "still_bad_dropped": n_bad, "committed": False}

    # mix the kept-row count in as well: with SUM a collision now
    # needs both equal hash-sums and equal cardinality
    batch_id = redrive_batch_id(path, int(crow["sig"]) ^ (n_keep * 0x9E3779B97F4A7C15))
    if LakeTable.load(table.root).is_committed(batch_id):
        # crash-between-commit-and-cleanup resume: finish the cleanup
        shutil.rmtree(path, ignore_errors=True)
        return {
            "redriven": n_keep,
            "still_bad_dropped": n_bad,
            "committed": False,
            "already_committed": True,
            "batch_id": batch_id,
        }

    kept = ev.filter(F.col("_rr").isNull()).drop("_rr")
    key = table.key_col
    order = Window.orderBy(
        F.coalesce(F.col("lsn"), F.lit(-1)).asc(),
        F.col(key).cast("string").asc(),
        F.coalesce(F.col("op"), F.lit("")).asc(),
        F.col("_h").asc(),
    )

    t = table

    def _reload() -> None:
        nonlocal t
        t = LakeTable.load(t.root)

    def _apply() -> tuple[dict, int]:
        hwm = t.max_committed_lsn()
        redriven = kept.withColumn(
            "lsn", (F.lit(hwm) + F.row_number().over(order)).cast("long")
        ).drop("_h")
        res = apply_batch(
            spark,
            t,
            redriven,
            batch_id=batch_id,
            lsn_lo=hwm + 1,
            lsn_hi=hwm + n_keep,
            write_mode=write_mode,
        )
        return res, hwm

    res, hwm = retry_on_fork_rewind(_apply, _reload)
    shutil.rmtree(path, ignore_errors=True)
    return {
        "redriven": n_keep,
        "still_bad_dropped": n_bad,
        "committed": True,
        "batch_id": batch_id,
        "lsn_lo": hwm + 1,
        "lsn_hi": hwm + n_keep,
        "version": t.version,
    }
