"""Out-of-band predicate DML: DELETE WHERE / UPDATE WHERE.

The replayers apply changes the UPSTREAM produced; this module is the
other mutation source a lake table needs — caller-initiated mutations
(GDPR erasure of a source, backfilling a mis-parsed column) expressed
as ordinary change events so they ride the exact same LWW/tombstone
machinery (Delta/Iceberg ``DELETE FROM`` / ``UPDATE`` analog; the
reference's analog is hand-run SQL like etl/load/load_sql.py's
delete-by-month, which bypasses its pipeline entirely — here DML is
IN the lineage/manifest/feed like everything else):

- matching rows come from the CURRENT snapshot (MOR fold + Catalyst
  column pruning included), so predicates see exactly what readers see;
- the mutation is minted at ``max_committed_lsn() + 1`` — strictly
  above every applied event, so per-key LWW makes it win against the
  past and lose against genuinely-newer upstream events (correct CDC
  ordering for out-of-band writes);
- it applies through ``apply_batch`` with write_mode='auto', so a
  small DELETE over a big base lands as MOR delta appends, not bucket
  rewrites, and shows up in the manifest, lineage, history() and the
  change feed like any other batch;
- batch ids come from the table's DML counter, in their own namespace
  (``manifest.NAMESPACES``), so DML can never collide with a replay
  chunk id;
- optimistic concurrency: a commit conflict (another writer landed
  first) reloads the table and re-derives the match set, the LSN and
  the batch id against the new snapshot.

COW immutability makes the self-referential read-then-write safe: the
match set is evaluated lazily inside the merge job while the snapshot's
dirs still exist; the pointer swap happens only after the new dirs are
fully written.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .apply import apply_batch
from .manifest import next_dml_id
from .table import LakeTable, retry_on_fork_rewind


def _as_predicate(predicate: str | Column) -> Column:
    return F.expr(predicate) if isinstance(predicate, str) else predicate


def _apply_dml(
    spark: SparkSession,
    table: LakeTable,
    build_events,
    *,
    write_mode: str,
) -> tuple[dict | None, LakeTable]:
    """Shared retry loop: re-derive everything from a fresh snapshot on
    a commit conflict. Returns (apply result or None-if-no-match,
    the table handle that committed).

    No separate match-count job: ``apply_batch``'s own per-bucket stats
    aggregation already counts every event, so ``rows_matched`` is read
    from its result and the no-match case surfaces as
    ``skipped_empty`` (true no-op: no commit, no new version) — one
    scan of the snapshot per attempt, not two."""
    def _apply() -> tuple[dict, int]:
        # the whole attempt re-derives from the current handle: lsn,
        # events, and batch id all move when a conflicting commit lands
        lsn = table.max_committed_lsn() + 1
        events = build_events(table, lsn)
        res = apply_batch(
            spark,
            table,
            events,
            batch_id=next_dml_id(table.meta),
            lsn_lo=lsn,
            lsn_hi=lsn,
            write_mode=write_mode,
            skip_empty_commit=True,
        )
        return res, lsn

    def _reload() -> None:
        nonlocal table
        table = LakeTable.load(table.root)

    res, lsn = retry_on_fork_rewind(_apply, _reload)
    if res.get("skipped_empty"):
        return None, table
    res["rows_matched"] = res["rows_applied"]
    res["lsn"] = lsn
    return res, table


def delete_where(
    spark: SparkSession,
    table: LakeTable,
    predicate: str | Column,
    *,
    write_mode: str = "auto",
) -> dict:
    """Tombstone every current row matching ``predicate``. No-op (no
    commit, no new version) when nothing matches. Returns
    ``rows_deleted`` plus the minted batch_id/lsn."""
    pred = _as_predicate(predicate)
    key = table.key_col

    def build(t: LakeTable, lsn: int) -> DataFrame:
        # tombstones carry the full payload schema as NULLs (the same
        # shape a stream delete has), so downstream column expressions
        # — e.g. CHECK-constraint predicates in apply_batch's stats
        # aggregation — always resolve
        return (
            t.read(spark)
            .filter(pred)
            .select(
                *[
                    F.col(f.name)
                    if f.name == key
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in t.schema().fields
                ],
                F.lit(lsn).cast("long").alias("lsn"),
                F.lit("D").alias("op"),
            )
        )

    res, table = _apply_dml(spark, table, build, write_mode=write_mode)
    if res is None:
        return {"rows_deleted": 0, "committed": False}
    return {
        "rows_deleted": res["rows_matched"],
        "committed": True,
        "batch_id": res["batch_id"],
        "lsn": res["lsn"],
        # the committed handle's own version (commit updates it in
        # place) — reloading HEAD here could misattribute a concurrent
        # writer's later commit to this DML
        "version": table.version,
    }


def update_where(
    spark: SparkSession,
    table: LakeTable,
    predicate: str | Column,
    set_exprs: dict[str, str | Column],
    *,
    write_mode: str = "auto",
) -> dict:
    """Rewrite every current row matching ``predicate`` with
    ``set_exprs`` (column -> expression over the CURRENT row) applied,
    as upsert events. The key column is identity and cannot be SET
    (that is a delete + insert, a different operation); unknown columns
    are refused rather than silently added."""
    key = table.key_col
    payload_cols = [f.name for f in table.schema().fields]
    bad = sorted(set(set_exprs) - set(payload_cols))
    if bad:
        raise ValueError(f"unknown columns in SET: {bad}; table has {payload_cols}")
    if key in set_exprs:
        raise ValueError(
            f"cannot SET the key column {key!r}: changing identity is a "
            "delete + insert, not an update"
        )
    pred = _as_predicate(predicate)
    sets = {
        c: (F.expr(e) if isinstance(e, str) else e).alias(c)
        for c, e in set_exprs.items()
    }

    def build(t: LakeTable, lsn: int) -> DataFrame:
        return (
            t.read(spark)
            .filter(pred)
            .select(
                *[sets.get(c, F.col(c)).alias(c) for c in payload_cols],
                F.lit(lsn).cast("long").alias("lsn"),
                F.lit("U").alias("op"),
            )
        )

    res, table = _apply_dml(spark, table, build, write_mode=write_mode)
    if res is None:
        return {"rows_updated": 0, "committed": False}
    return {
        "rows_updated": res["rows_matched"],
        "committed": True,
        "batch_id": res["batch_id"],
        "lsn": res["lsn"],
        "version": table.version,
    }
