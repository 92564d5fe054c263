#!/usr/bin/env python
"""Manual per-entity CLI: the reference's `orchestrator.py <layer>
<entity> [args]` dispatch tree (reference orchestrator.py:555-783)
re-expressed over the engine (SURVEY.md §3 EP2), plus its
`partial-refresh-sales [YYYY-MM]` range-refresh path (EP3,
orchestrator.py:480-509) as an LSN-range re-apply.

    python scripts/orchestrator.py bronze events
    python scripts/orchestrator.py silver docs
    python scripts/orchestrator.py gold htls | gold cobertura
    python scripts/orchestrator.py gold query <driver-query-name>
    python scripts/orchestrator.py partial-refresh <lsn_lo> <lsn_hi>
    python scripts/orchestrator.py compact <watermark_lsn> [--zorder col,col]
    python scripts/orchestrator.py remove-orphans [--older-than-hours H]
    python scripts/orchestrator.py changes <since_version>
    python scripts/orchestrator.py snapshot <version>
    python scripts/orchestrator.py history
    python scripts/orchestrator.py rebucket <n_buckets>

Common flags: --sf-dir --out --parallelism. Each command prints one
JSON report line (the analog of the reference's per-command logging).

EP3 semantics preserved and strengthened: `partial-refresh` re-applies
any LSN range as one idempotent batch — the batch id is derived from
the range, so re-running the same range is a recorded no-op, and
because the merge is max-LSN-wins with tombstones, refreshing ranges
in ANY order converges to the source-of-truth state (the reference
guarantees this only for in-order month ranges).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# A partial refresh commits under a stable id in its own namespace:
# the same range re-run is deduped by the manifest, distinct ranges
# never collide with replay/stream batch ids.
from medallion_etl_spark.cdc.manifest import refresh_batch_id, replay_cursor


def _table_root(out_dir: str) -> str:
    return os.path.join(out_dir, "docs_table")


def _open_or_create(spark, out_dir: str, n_buckets: int = 8):
    from medallion_etl_spark.cdc.table import LakeTable

    root = _table_root(out_dir)
    if LakeTable.exists(root):
        return LakeTable.load(root)
    return LakeTable.create(root, n_buckets=n_buckets, schema_version=2)


def _stream(spark, sf_dir: str):
    from medallion_etl_spark.operators.cdc_query import _as_change_stream
    from medallion_etl_spark.sources.readers import load_table

    return _as_change_stream(load_table(spark, sf_dir, "events"))


def cmd_bronze(spark, args) -> dict:
    from medallion_etl_spark.cdc.replay import replay

    stream = _stream(spark, args.sf_dir)
    table = _open_or_create(spark, args.out)
    # FIXED chunk size (CLI-settable), never derived from the stream's
    # current max LSN: chunk ids are a pure function of (bounds,
    # chunk_size), so a size that moves as the stream grows would
    # re-plan committed ids over different ranges and the manifest
    # gate would (correctly) refuse the second run.
    chunk = int(getattr(args, "chunk_size", None) or 1_000_000)
    res = replay(spark, stream, table, chunk_size=chunk)
    return {"rows_applied": res["rows_applied"], "batches": res["batches_applied"]}


def cmd_silver(spark, args) -> dict:
    from medallion_etl_spark.operators.textops import doc_quality_scores, doc_token_stats

    out = {}
    for name, fn in [("doc_quality", doc_quality_scores), ("doc_tokens", doc_token_stats)]:
        path = os.path.join(args.out, f"silver_{name}")
        fn(spark, args.sf_dir).write.mode("overwrite").parquet(path)
        out[name] = spark.read.parquet(path).count()
    return out


def cmd_gold(spark, args) -> dict:
    from medallion_etl_spark.operators import collect_queries
    from medallion_etl_spark.operators.coverage import (
        coverage_outputs,
        hectolitros_measure,
    )

    if args.entity == "htls":
        path = os.path.join(args.out, "gold_htls")
        hectolitros_measure(spark, args.sf_dir).write.mode("overwrite").parquet(path)
        return {"rows": spark.read.parquet(path).count()}
    if args.entity == "cobertura":
        counts = {}
        for name, df in coverage_outputs(spark, args.sf_dir).items():
            path = os.path.join(args.out, name)
            df.write.mode("overwrite").parquet(path)
            counts[name] = spark.read.parquet(path).count()
        return counts
    if args.entity == "query":
        registry = collect_queries()
        if args.name not in registry:
            raise SystemExit(
                f"unknown query {args.name!r}; known: {sorted(registry)}"
            )
        fn, _sql = registry[args.name]
        path = os.path.join(args.out, f"gold_{args.name}")
        fn(spark, args.sf_dir).write.mode("overwrite").parquet(path)
        return {"rows": spark.read.parquet(path).count()}
    raise SystemExit(f"unknown gold entity {args.entity!r}")


def cmd_partial_refresh(spark, args) -> dict:
    from pyspark.sql import functions as F

    from medallion_etl_spark.cdc.apply import apply_batch

    lo, hi = int(args.lsn_lo), int(args.lsn_hi)
    if lo > hi:
        raise SystemExit(f"empty range [{lo}, {hi}]")
    table = _open_or_create(spark, args.out)
    chunk = _stream(spark, args.sf_dir).filter(F.col("lsn").between(lo, hi))
    res = apply_batch(
        spark,
        table,
        chunk,
        batch_id=refresh_batch_id(lo, hi),
        lsn_lo=lo,
        lsn_hi=hi,
        write_mode=getattr(args, "write_mode", "auto"),
    )
    return {
        "lsn_lo": lo,
        "lsn_hi": hi,
        "skipped": bool(res.get("skipped")),
        "rows_applied": res.get("rows_applied", 0),
    }


def cmd_compact(spark, args) -> dict:
    from medallion_etl_spark.cdc.table import LakeTable

    table = LakeTable.load(_table_root(args.out))
    zorder = args.zorder.split(",") if args.zorder else None
    return table.compact(
        spark,
        int(args.watermark_lsn),
        zorder_by=zorder,
        zorder_coding=getattr(args, "zorder_coding", None) or "linear",
    )


def cmd_changes(spark, args) -> dict:
    from medallion_etl_spark.cdc.table import LakeTable

    table = LakeTable.load(_table_root(args.out))
    feed = table.read_changes(spark, int(args.since_version))
    by_type = {r["_change_type"]: r["n"] for r in
               feed.groupBy("_change_type").count().withColumnRenamed("count", "n").collect()}
    return {"since_version": int(args.since_version), "changes": by_type}


def cmd_remove_orphans(spark, args) -> dict:
    from medallion_etl_spark.cdc.table import LakeTable

    table = LakeTable.load(_table_root(args.out))
    return table.remove_orphans(older_than_seconds=int(float(args.older_than_hours) * 3600))


def cmd_rebucket(spark, args) -> dict:
    from medallion_etl_spark.cdc.table import LakeTable

    table = LakeTable.load(_table_root(args.out))
    return table.rebucket(spark, int(args.n_buckets))


def cmd_delete_where(spark, args) -> dict:
    from medallion_etl_spark.cdc.dml import delete_where
    from medallion_etl_spark.cdc.table import LakeTable

    return delete_where(spark, LakeTable.load(_table_root(args.out)), args.predicate)


def cmd_update_where(spark, args) -> dict:
    from medallion_etl_spark.cdc.dml import update_where
    from medallion_etl_spark.cdc.table import LakeTable

    sets = {}
    for item in args.set:
        col, _, expr = item.partition("=")
        if not expr:
            raise SystemExit(f"--set expects column=expression, got {item!r}")
        sets[col.strip()] = expr.strip()
    return update_where(
        spark, LakeTable.load(_table_root(args.out)), args.predicate, sets
    )


def cmd_convert(spark, args) -> dict:
    from medallion_etl_spark.cdc.bootstrap import convert_from_parquet

    return convert_from_parquet(
        spark,
        args.source,
        _table_root(args.out),
        n_buckets=int(args.n_buckets),
        schema_version=int(args.schema_version),
    )


def cmd_clone(spark, args) -> dict:
    from medallion_etl_spark.cdc.table import LakeTable

    clone = LakeTable.load(_table_root(args.out)).clone_to(args.dst)
    return {"cloned_to": clone.root, "source_version": clone.meta["cloned_from"]["version"]}


def cmd_publish(spark, args) -> dict:
    """Write-audit-publish fast-forward: adopt everything committed on
    a staging clone (``clone --dst`` → replay into the stage → audit →
    ``publish --stage``) in one atomic source commit. Refuses if the
    source advanced since the fork — re-stage instead."""
    from medallion_etl_spark.cdc.table import LakeTable

    return LakeTable.load(_table_root(args.out)).publish_from(args.stage)


def cmd_fold_deltas(spark, args) -> dict:
    """Targeted MOR delta compaction: fold base ∪ deltas for only the
    delta-carrying buckets (cost O(touched buckets)); tombstones and
    the compaction watermark untouched — see LakeTable.fold_deltas."""
    from medallion_etl_spark.cdc.table import LakeTable

    return LakeTable.load(_table_root(args.out)).fold_deltas(
        spark, min_deltas=int(args.min_deltas)
    )


def cmd_redrive(spark, args) -> dict:
    """Re-apply a quarantine dataset at fresh LSNs (cdc/redrive.py).
    ``--set col=expr`` (repeatable) is the remediation — e.g.
    ``--set "op='U'"`` cures bad_op rows; rows still malformed after
    the fixes fail the redrive (or are dropped with
    ``--on-still-bad drop``)."""
    from pyspark.sql import functions as F

    from medallion_etl_spark.cdc.redrive import redrive_quarantine
    from medallion_etl_spark.cdc.table import LakeTable

    fixes = dict(s.split("=", 1) for s in (args.set or []))

    def fix(df):
        for col, expr in fixes.items():
            df = df.withColumn(col, F.expr(expr))
        return df

    return redrive_quarantine(
        spark,
        LakeTable.load(_table_root(args.out)),
        args.path,
        transform=fix if fixes else None,
        on_still_bad=args.on_still_bad,
    )


def cmd_refresh_signatures(spark, args) -> dict:
    """Maintain the derived MinHash signature table from the main
    table's change feed (operators/dedup_incremental.py): bootstrap it
    on first run, then advance it by exactly the versions committed
    since the recorded cursor. The cursor is the signature table's own
    LAST refresh batch-id (= the corpus version it reflects), so the
    command is safely re-runnable from cron like every other layer."""
    import shutil

    from medallion_etl_spark.cdc.table import LakeTable
    from medallion_etl_spark.operators.dedup_incremental import (
        bootstrap_signatures,
        create_signature_table,
        refresh_signatures,
    )

    corpus = LakeTable.load(_table_root(args.out))
    if getattr(args, "rebootstrap", False) and LakeTable.exists(args.sig_root):
        # post-RESTORE recovery: restored rows carry pre-restore LSNs,
        # so LWW can never revert the stale higher-LSN signatures — the
        # only correct rebuild is a fresh table (read_changes gives the
        # same advice when it refuses to span the restore). Build the
        # replacement FIRST, swap after: a crash mid-rebuild must leave
        # either the old table (before the swap) or nothing (the plain
        # run bootstraps a missing table), never a half-filled one.
        rebuild = f"{args.sig_root.rstrip(os.sep)}.rebuild-{os.getpid()}"
        shutil.rmtree(rebuild, ignore_errors=True)
        new_sig = create_signature_table(rebuild, n_buckets=corpus.n_buckets)
        out = bootstrap_signatures(spark, corpus, new_sig)
        shutil.rmtree(args.sig_root)
        os.rename(rebuild, args.sig_root)
        return {
            "sig_root": args.sig_root,
            "bootstrapped": True,
            "since_version": 0,
            "to_version": corpus.version,
            "rows_applied": int(out.get("rows_applied", 0)),
            "skipped": False,
        }
    if LakeTable.exists(args.sig_root):
        sig = LakeTable.load(args.sig_root)
        # batch refreshes commit under the corpus version; a concurrent
        # stream_refresh_signatures drain commits in the streaming
        # namespace — not a version cursor
        since = replay_cursor(sig.meta) or 0
        try:
            out = refresh_signatures(spark, corpus, sig, since_version=int(since))
        except ValueError as e:
            raise SystemExit(
                f"refresh-signatures: {e}\n(recover with --rebootstrap: "
                "rebuilds the signature table from the current corpus snapshot)"
            ) from e
        bootstrapped = False
    else:
        # first fill reads the CURRENT snapshot, not the feed-from-v0 —
        # a mature corpus's v0 feed is rightly refused by the
        # retention/restore gates, and an empty derived table needs
        # neither tombstones nor supersession
        sig = create_signature_table(args.sig_root, n_buckets=corpus.n_buckets)
        since = 0
        out = bootstrap_signatures(spark, corpus, sig)
        bootstrapped = True
    return {
        "sig_root": args.sig_root,
        "bootstrapped": bootstrapped,
        "since_version": int(since),
        "to_version": corpus.version,
        "rows_applied": int(out.get("rows_applied", 0)),
        "skipped": bool(out.get("skipped") or out.get("skipped_empty")),
    }


def cmd_refresh_agg(spark, args) -> dict:
    """Maintain the derived per-source totals table from the main
    table's change feed (operators/ivm.py — the algebraic
    +postimage−preimage class): bootstrap on first run, then advance by
    exactly the versions committed since the recorded cursor. Totals
    are read-modify-write, so refresh_agg itself enforces span
    contiguity; this command just reads the cursor and re-runs safely
    from cron like refresh-signatures."""
    import shutil

    from medallion_etl_spark.cdc.table import LakeTable
    from medallion_etl_spark.operators.ivm import (
        bootstrap_agg,
        create_agg_table,
        refresh_agg,
    )

    corpus = LakeTable.load(_table_root(args.out))
    if getattr(args, "rebootstrap", False) and LakeTable.exists(args.agg_root):
        # post-RESTORE recovery: totals include contributions of undone
        # rows no feed can retract — build-aside + swap, same crash
        # contract as refresh-signatures --rebootstrap
        rebuild = f"{args.agg_root.rstrip(os.sep)}.rebuild-{os.getpid()}"
        shutil.rmtree(rebuild, ignore_errors=True)
        new_agg = create_agg_table(rebuild)
        out = bootstrap_agg(spark, corpus, new_agg)
        shutil.rmtree(args.agg_root)
        os.rename(rebuild, args.agg_root)
        return {
            "agg_root": args.agg_root,
            "bootstrapped": True,
            "since_version": 0,
            "to_version": corpus.version,
            "rows_applied": int(out.get("rows_applied", 0)),
            "skipped": False,
        }
    if LakeTable.exists(args.agg_root):
        agg = LakeTable.load(args.agg_root)
        since = replay_cursor(agg.meta)
        if since is None:
            # crash window between create_agg_table and the bootstrap
            # commit left an existing-but-empty table: finish the
            # bootstrap (its empty-table guard accepts a v0 table)
            # instead of dying on agg_cursor forever
            since = 0
            out = bootstrap_agg(spark, corpus, agg)
            bootstrapped = True
        else:
            try:
                out = refresh_agg(spark, corpus, agg)
            except ValueError as e:
                raise SystemExit(
                    f"refresh-agg: {e}\n(recover with --rebootstrap: rebuilds "
                    "the totals table from the current corpus snapshot)"
                ) from e
            bootstrapped = False
    else:
        agg = create_agg_table(args.agg_root)
        since = 0
        out = bootstrap_agg(spark, corpus, agg)
        bootstrapped = True
    return {
        "agg_root": args.agg_root,
        "bootstrapped": bootstrapped,
        "since_version": int(since),
        "to_version": corpus.version,
        "rows_applied": int(out.get("rows_applied", 0)),
        "skipped": bool(out.get("skipped") or out.get("skipped_empty")),
    }


def cmd_restore(spark, args) -> dict:
    from medallion_etl_spark.cdc.table import LakeTable

    return LakeTable.load(_table_root(args.out)).restore(int(args.version))


def cmd_merge(spark, args) -> dict:
    from medallion_etl_spark.cdc.merge import merge_into
    from medallion_etl_spark.cdc.table import LakeTable

    return merge_into(
        spark,
        LakeTable.load(_table_root(args.out)),
        spark.read.parquet(args.source),
        when_matched=args.when_matched,
        when_not_matched=args.when_not_matched,
    )


def cmd_add_constraint(spark, args) -> dict:
    from medallion_etl_spark.cdc.table import LakeTable

    return LakeTable.load(_table_root(args.out)).add_constraint(
        spark, args.name, args.predicate
    )


def cmd_drop_constraint(spark, args) -> dict:
    from medallion_etl_spark.cdc.table import LakeTable

    return LakeTable.load(_table_root(args.out)).drop_constraint(args.name)


def cmd_expire(spark, args) -> dict:
    from medallion_etl_spark.cdc.table import LakeTable

    return LakeTable.load(_table_root(args.out)).expire_snapshots(
        keep_last=int(args.keep_last),
        force=bool(args.force),
        grace_seconds=float(getattr(args, "grace_seconds", 3 * 86400)),
    )


def cmd_add_column(spark, args) -> dict:
    from medallion_etl_spark.cdc.table import LakeTable

    return LakeTable.load(_table_root(args.out)).add_column(args.name, args.type)


def cmd_drop_column(spark, args) -> dict:
    from medallion_etl_spark.cdc.table import LakeTable

    return LakeTable.load(_table_root(args.out)).drop_column(args.name)


def cmd_widen_column(spark, args) -> dict:
    from medallion_etl_spark.cdc.table import LakeTable

    return LakeTable.load(_table_root(args.out)).widen_column(args.name, args.type)


def cmd_detail(spark, args) -> dict:
    from medallion_etl_spark.cdc.table import LakeTable

    return LakeTable.load(_table_root(args.out)).detail()


def cmd_history(spark, args) -> dict:
    from medallion_etl_spark.cdc.table import LakeTable

    return {"history": LakeTable.load(_table_root(args.out)).history()}


def cmd_snapshot(spark, args) -> dict:
    from medallion_etl_spark.cdc.table import LakeTable

    if getattr(args, "as_of", False):
        try:
            ts = float(args.version)
        except ValueError:
            ts = args.version  # ISO string; load_as_of parses it
        snap = LakeTable.load_as_of(_table_root(args.out), ts)
    else:
        snap = LakeTable.load_version(_table_root(args.out), int(args.version))
    return {
        "version": snap.version,
        "rows": snap.read(spark).count(),
        "max_committed_lsn": snap.max_committed_lsn(),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/orchestrator_out")
    ap.add_argument("--parallelism", type=int, default=8)
    sub = ap.add_subparsers(dest="layer", required=True)

    p = sub.add_parser("bronze")
    p.add_argument("entity", choices=["events"])
    p.add_argument("--chunk-size", type=int, default=1_000_000)
    p = sub.add_parser("silver")
    p.add_argument("entity", choices=["docs"])
    p = sub.add_parser("gold")
    p.add_argument("entity", choices=["htls", "cobertura", "query"])
    p.add_argument("name", nargs="?", help="driver query name (gold query <name>)")
    p = sub.add_parser("partial-refresh")
    p.add_argument("lsn_lo")
    p.add_argument("lsn_hi")
    p.add_argument(
        "--write-mode",
        default="auto",
        choices=["cow", "mor", "auto"],
        help="a small LSN-range patch over a big table is the merge-on-read "
        "sweet spot; auto appends deltas when the patch is small against "
        "its touched base and rewrites otherwise",
    )
    p = sub.add_parser("compact")
    p.add_argument("watermark_lsn")
    p.add_argument("--zorder", default=None, help="comma-separated columns to Z-order by")
    p.add_argument(
        "--zorder-coding",
        default="linear",
        choices=["linear", "quantile"],
        help="bin coding: linear (min/max widths) or quantile (equal-frequency, for skew)",
    )
    p = sub.add_parser("remove-orphans")
    p.add_argument(
        "--older-than-hours",
        default="72",
        help="only delete unreferenced dirs idle at least this long (in-flight-writer guard)",
    )
    p = sub.add_parser("changes")
    p.add_argument("since_version")
    p = sub.add_parser("snapshot")
    p.add_argument(
        "version",
        help="version number, or with --as-of an ISO timestamp / unix seconds",
    )
    p.add_argument(
        "--as-of",
        action="store_true",
        help="treat VERSION as a timestamp: newest snapshot committed at or before it",
    )
    sub.add_parser("history")
    sub.add_parser("detail")
    p = sub.add_parser("rebucket")
    p.add_argument("n_buckets")
    p = sub.add_parser("delete-where")
    p.add_argument("predicate", help="SQL predicate over the current rows")
    p = sub.add_parser("update-where")
    p.add_argument("predicate", help="SQL predicate over the current rows")
    p.add_argument(
        "--set",
        action="append",
        required=True,
        help="column=expression (repeatable); expressions see the current row",
    )
    p = sub.add_parser("convert")
    p.add_argument("--source", required=True, help="parquet dir shaped like the docs schema")
    p.add_argument("--n-buckets", default="16")
    p.add_argument("--schema-version", default="1")
    p = sub.add_parser("clone")
    p.add_argument("--dst", required=True, help="root for the zero-copy shallow clone")
    p = sub.add_parser("publish")
    p.add_argument("--stage", required=True, help="staging clone root to fast-forward from")
    p = sub.add_parser("fold-deltas")
    p.add_argument("--min-deltas", default="1", help="fold buckets with >= this many stacked deltas")
    p = sub.add_parser("redrive")
    p.add_argument("--path", required=True, help="quarantine dataset dir to re-apply")
    p.add_argument("--set", action="append", help="remediation col=expr (repeatable)")
    p.add_argument("--on-still-bad", default="fail", choices=["fail", "drop"])
    p = sub.add_parser("refresh-signatures")
    p.add_argument(
        "--sig-root",
        required=True,
        help="root of the derived signature LakeTable (created on first run)",
    )
    p.add_argument(
        "--rebootstrap",
        action="store_true",
        help="drop and rebuild the signature table from the current corpus "
        "snapshot (required after a corpus RESTORE: stale higher-LSN "
        "signatures cannot be reverted through the LWW feed)",
    )
    p = sub.add_parser("refresh-agg")
    p.add_argument(
        "--agg-root",
        required=True,
        help="root of the derived per-source totals LakeTable (created on first run)",
    )
    p.add_argument(
        "--rebootstrap",
        action="store_true",
        help="drop and rebuild the totals table from the current corpus "
        "snapshot (required after a corpus RESTORE: read-modify-write "
        "totals cannot be rolled back through the feed)",
    )
    p = sub.add_parser("restore")
    p.add_argument("version", help="older snapshot version to roll the table back to")
    p = sub.add_parser("merge")
    p.add_argument("--source", required=True, help="parquet dir of payload rows keyed by the table key")
    p.add_argument("--when-matched", default="update", choices=["update", "delete", "skip"])
    p.add_argument("--when-not-matched", default="insert", choices=["insert", "skip"])
    p = sub.add_parser("add-constraint")
    p.add_argument("name")
    p.add_argument("predicate", help="CHECK predicate; existing rows are validated first")
    p = sub.add_parser("drop-constraint")
    p.add_argument("name")
    p = sub.add_parser("expire")
    p.add_argument("--keep-last", default="1", help="retain this many newest snapshots")
    p.add_argument(
        "--force",
        action="store_true",
        help="proceed even if a registered shallow clone would dangle",
    )
    p.add_argument(
        "--grace-seconds",
        default=str(3 * 86400),
        help="skip unreferenced dirs younger than this (in-flight writer guard)",
    )
    p = sub.add_parser("add-column")
    p.add_argument("name")
    p.add_argument("type", help="DDL type ('double', 'array<int>', ...); column is nullable")
    p = sub.add_parser("drop-column")
    p.add_argument("name")
    p = sub.add_parser("widen-column")
    p.add_argument("name")
    p.add_argument("type", help="lossless widening target (int->bigint, float->double, ...)")
    args = ap.parse_args()

    os.makedirs(args.out, exist_ok=True)
    from medallion_etl_spark.session import get_spark

    spark = get_spark("orchestrator", parallelism=args.parallelism)
    dispatch = {
        "bronze": cmd_bronze,
        "silver": cmd_silver,
        "gold": cmd_gold,
        "partial-refresh": cmd_partial_refresh,
        "compact": cmd_compact,
        "remove-orphans": cmd_remove_orphans,
        "changes": cmd_changes,
        "snapshot": cmd_snapshot,
        "history": cmd_history,
        "detail": cmd_detail,
        "rebucket": cmd_rebucket,
        "delete-where": cmd_delete_where,
        "update-where": cmd_update_where,
        "convert": cmd_convert,
        "clone": cmd_clone,
        "publish": cmd_publish,
        "redrive": cmd_redrive,
        "fold-deltas": cmd_fold_deltas,
        "refresh-signatures": cmd_refresh_signatures,
        "refresh-agg": cmd_refresh_agg,
        "restore": cmd_restore,
        "merge": cmd_merge,
        "add-constraint": cmd_add_constraint,
        "drop-constraint": cmd_drop_constraint,
        "expire": cmd_expire,
        "add-column": cmd_add_column,
        "drop-column": cmd_drop_column,
        "widen-column": cmd_widen_column,
    }
    result = dispatch[args.layer](spark, args)
    print(json.dumps({"command": args.layer, "ok": True, "result": result}, default=str))


if __name__ == "__main__":
    main()
