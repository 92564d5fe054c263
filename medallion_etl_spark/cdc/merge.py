"""MERGE INTO an arbitrary source frame (the Delta/Iceberg ``MERGE
INTO target USING source ON key`` analog).

Predicate DML (dml.py) mutates rows the table already has; this is the
other half of the out-of-band write surface — reconciling a whole
SOURCE dataset against the table in one atomic commit:

    merge_into(spark, table, source_df,
               when_matched='update' | 'delete' | 'skip',
               when_not_matched='insert' | 'skip')

- ``update`` + ``insert`` is the classic upsert (reference
  stock_transformer.py:99-106's ON CONFLICT DO UPDATE, but for a
  caller-supplied frame instead of the change stream);
- ``skip`` + ``insert`` is insert-if-absent (the reference's anti-join
  incremental pattern, sales_loader.py:64-73 / SURVEY S10-S11) at the
  lake-table level;
- ``delete`` tombstones exactly the source keys present in the table
  (reconciliation-style purge).

Mechanics are the DML module's: the whole merge is minted at ONE LSN
(``max_committed_lsn() + 1``) and applied through ``apply_batch`` as
ordinary change events, so it rides LWW/tombstones, the manifest,
lineage, history, the change feed and CHECK constraints exactly like a
replay chunk — and it wins against the past but loses to
genuinely-newer upstream events (correct CDC ordering).

Matched/not-matched classification is a LEFT SEMI / LEFT ANTI join of
the source against the CURRENT folded snapshot projected to its key
column only (parquet column pruning: the target's payload is never
read, let alone shuffled). When both clauses map to the same op — e.g.
update+insert — the classification join is SKIPPED entirely: LWW
upsert semantics make matched and not-matched indistinguishable, so
the merge is one O(|source|) pass.

Like Delta, a source with DUPLICATE keys is refused: two source rows
matching one target row make the merge ambiguous (Delta raises
``DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW``); dedupe upstream
with an explicit rule first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dml import _apply_dml
from .table import LakeTable

MATCHED = ("update", "delete", "skip")
NOT_MATCHED = ("insert", "skip")


def merge_into(
    spark: SparkSession,
    table: LakeTable,
    source: DataFrame,
    *,
    when_matched: str = "update",
    when_not_matched: str = "insert",
    write_mode: str = "auto",
) -> dict:
    """Merge ``source`` (payload rows keyed by the table's key column)
    into ``table``. Returns per-clause row counts plus the minted
    batch_id/lsn; a merge with nothing to do is a true no-op (no
    commit, no new version)."""
    if when_matched not in MATCHED:
        raise ValueError(f"when_matched must be one of {MATCHED}, got {when_matched!r}")
    if when_not_matched not in NOT_MATCHED:
        raise ValueError(
            f"when_not_matched must be one of {NOT_MATCHED}, got {when_not_matched!r}"
        )
    if when_matched == "skip" and when_not_matched == "skip":
        raise ValueError("both clauses skip: the merge can never do anything")
    key = table.key_col
    payload_cols = [f.name for f in table.schema().fields]
    missing = [c for c in payload_cols if c not in source.columns]
    if missing:
        raise ValueError(
            f"source is missing table columns {missing}; a partial-column "
            "merge is an UPDATE WHERE (dml.update_where), not a MERGE"
        )
    # Delta-style ambiguity guard: >1 source row per key has no defined
    # winner. One count pass over the key column only.
    n_dup = source.groupBy(key).count().filter(F.col("count") > 1).count()
    if n_dup:
        raise ValueError(
            f"{n_dup} source key(s) appear more than once; a key matching "
            "multiple source rows makes the merge ambiguous — dedupe the "
            "source first (e.g. dedup.dedup_latest)"
        )

    src = source.select(*payload_cols)

    def as_events(df: DataFrame, t: LakeTable, lsn: int, op: str) -> DataFrame:
        if op == "D":
            # tombstones carry the full payload schema as NULLs (same
            # shape as stream/DML deletes) so downstream expressions —
            # CHECK predicates included — always resolve
            df = df.select(
                *[
                    F.col(f.name)
                    if f.name == key
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in t.schema().fields
                ]
            )
        return df.select(
            "*", F.lit(lsn).cast("long").alias("lsn"), F.lit(op).alias("op")
        )

    def build(t: LakeTable, lsn: int) -> DataFrame:
        if when_matched == "update" and when_not_matched == "insert":
            # upsert: LWW makes matched/not-matched indistinguishable —
            # no classification join at all, one O(|source|) pass
            return as_events(src, t, lsn, "U")
        # NULL-safe classification: the engine treats a NULL key as a
        # normal LWW group everywhere else (apply.py's groupBy
        # reduction, the preimage join, the Iceberg MERGE's `<=>`) —
        # plain `on=key` equality would misclassify a NULL-key target
        # row as never-matched (delete leaves it, insert duplicates it)
        target_keys = t.read(spark, columns=[]).select(F.col(key).alias("_mk"))
        cond = F.col(key).eqNullSafe(F.col("_mk"))
        parts = []
        if when_matched != "skip":
            matched = src.join(target_keys, cond, "left_semi")
            parts.append(
                as_events(matched, t, lsn, "D" if when_matched == "delete" else "U")
            )
        if when_not_matched == "insert":
            absent = src.join(target_keys, cond, "left_anti")
            parts.append(as_events(absent, t, lsn, "U"))
        events = parts[0]
        for p in parts[1:]:
            events = events.unionByName(p)
        return events

    res, table = _apply_dml(spark, table, build, write_mode=write_mode)
    if res is None:
        return {"rows_merged": 0, "committed": False}
    return {
        "rows_merged": res["rows_matched"],
        "committed": True,
        "batch_id": res["batch_id"],
        "lsn": res["lsn"],
        "version": table.version,
    }
