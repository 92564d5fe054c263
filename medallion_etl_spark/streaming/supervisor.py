"""Supervised change-feed consumption: automatic restart-on-evolution.

The ``lake_feed`` source fails a RUNNING query loudly when the table's
schema evolves mid-stream (feed_source.py contract — narrowing an
evolved bucket to the query-start schema could corrupt values). The
documented recovery is operational: restart the same query from the
SAME checkpoint, which re-pins the schema at the new table version and
continues from the checkpointed offset with no re-emission. This
module automates that loop, the way a Databricks job retry (or Delta's
``schemaTrackingLocation`` restart pattern) would around a Delta CDF
stream.

Only the evolution failure is retried. Everything else — including the
retention-gate error ("predates a compaction"), which a restart
can NEVER fix because the missing tombstones are gone — re-raises
immediately; retrying non-recoverable failures would turn data loss
into a silent crash loop.

Reference analog: none (the reference has no streaming surface,
SURVEY.md §2.9); this closes the operational loop over the engine's
own fail-loudly contract.
"""

from __future__ import annotations

import dataclasses
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .feed_source import read_feed_stream

# substring of the ValueError raised in LakeFeedStreamReader.read for
# a bucket written with a newer schema than the query pinned at start
SCHEMA_EVOLVED_MARKER = "schema evolved mid-stream"


@dataclasses.dataclass
class SupervisedRun:
    """Outcome of a supervised drain: how many evolution restarts it
    took and the last failure text (None when the first attempt ran
    clean)."""

    restarts: int
    last_error: str | None


def _failure_text(ex: BaseException) -> str:
    """Flatten an exception and its causal chain to one searchable
    string (the Python-worker ValueError surfaces inside the JVM
    StreamingQueryException's message/stack-trace text)."""
    parts = []
    seen: set[int] = set()
    cur: BaseException | None = ex
    while cur is not None and id(cur) not in seen:
        seen.add(id(cur))
        # pyspark's CapturedException has an EMPTY repr — the JVM
        # message (with the worker traceback) only surfaces via str()
        parts.append(repr(cur))
        try:
            parts.append(str(cur))
        except Exception:  # pragma: no cover - defensive
            pass
        desc = getattr(cur, "desc", None)  # CapturedException payload
        if desc:
            parts.append(str(desc))
        stack = getattr(cur, "stackTrace", None)
        if stack:
            parts.append(str(stack))
        cur = cur.__cause__ or cur.__context__
    return "\n".join(parts)


def run_feed_supervised(
    spark: SparkSession,
    table_root: str,
    start_sink: Callable[[DataFrame], "object"],
    *,
    start_version: int = 0,
    max_restarts: int = 5,
) -> SupervisedRun:
    """Drain the change feed through the caller's sink, restarting
    across schema-evolution failures.

    ``start_sink`` receives the freshly-built feed DataFrame and must
    return a started ``StreamingQuery`` — it owns the sink format,
    trigger, and ``checkpointLocation``. It MUST reuse the same
    checkpoint on every attempt; that is precisely what makes a
    restart continue from the committed offset instead of re-emitting
    (tests/test_feed_source.py::test_schema_evolution_restart_continues).

    Each attempt rebuilds the feed DataFrame via ``read_feed_stream``
    so the re-pinned schema is the CURRENT table schema, then blocks in
    ``awaitTermination``. A termination whose causal chain carries the
    evolution marker triggers a restart (bounded by ``max_restarts``,
    which guards against a pathological evolution-per-microbatch
    producer); any other failure re-raises unchanged.
    """
    restarts = 0
    last_error: str | None = None
    while True:
        feed = read_feed_stream(spark, table_root, start_version=start_version)
        query = start_sink(feed)
        try:
            query.awaitTermination()
            return SupervisedRun(restarts=restarts, last_error=last_error)
        except Exception as ex:  # noqa: BLE001 — filtered below
            text = _failure_text(ex)
            if SCHEMA_EVOLVED_MARKER not in text or restarts >= max_restarts:
                raise
            restarts += 1
            lines = text.splitlines()
            last_error = next(
                (ln for ln in lines if SCHEMA_EVOLVED_MARKER in ln), lines[0]
            ).strip()[:500]
