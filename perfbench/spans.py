"""Spans around the benchmark's calls into the engine, and Spark's own
task metrics read back per span from the event log.

Only the traced run (``--trace 1``) uses this module; the timed run
never patches anything.

Spans
    ``Tracer.wrap`` replaces a function with a recorder. A name is
    patched where it is looked up: ``replay()`` calls ``apply_batch``
    through ``medallion_etl_spark.cdc.replay.apply_batch``, so that
    name is wrapped as well as ``cdc.apply.apply_batch``. Each span
    records name, start, end and parent, is kept in memory, and sets
    ``sparkContext.setJobDescription("<phase>:<outer>/.../<inner>")``
    for its duration: every Spark job carries the path of spans open at
    submission, in the set-up or the measured phase.

Lazy plans
    Spans around functions that only build a plan (``dedup_latest``,
    ``LakeTable.read`` / ``lookup`` / ``read_changes``) time plan
    building and file listing only. Their Spark work runs when an
    action fires, and lands on the span that triggered the action
    (``apply_batch`` for the merge write, the benchmark's own
    ``bench.scan`` / ``bench.lookup`` / ``bench.feed`` for reads).

Self time
    A span's self time is its duration minus the time its child spans
    cover (children of one parent never overlap: one thread).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

DESCRIPTION = "spark.job.description"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


@dataclass
class Tracer:
    spark: object
    # first part of every job description, so the same engine call in
    # set-up and in the measured window is told apart in the event log
    phase: str = "setup"
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _undo: list[tuple] = field(default_factory=list)

    def _describe(self) -> str | None:
        if not self._stack:
            return None
        return f"{self.phase}:" + "/".join(self.spans[i].name for i in self._stack)

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), parent=parent))
        self._stack.append(idx)
        sc.setJobDescription(self._describe())
        try:
            yield
        finally:
            s = self.spans[idx]
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += s.duration
            sc.setJobDescription(self._describe())

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def recorded(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, recorded)

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def install_engine_spans(self) -> None:
        """Wrap the public entry points of each engine layer."""
        from medallion_etl_spark.cdc import apply as apply_mod
        from medallion_etl_spark.cdc import replay as replay_mod
        from medallion_etl_spark.cdc.table import LakeTable

        self.wrap(replay_mod, "replay", "cdc.replay.replay")
        self.wrap(replay_mod, "apply_batch", "cdc.apply.apply_batch")
        self.wrap(apply_mod, "apply_batch", "cdc.apply.apply_batch")
        self.wrap(apply_mod, "dedup_latest", "cdc.dedup.dedup_latest")
        self.wrap(apply_mod, "write_lineage", "cdc.lineage.write_lineage")
        for method in ("commit", "read", "lookup", "read_changes", "detail"):
            self.wrap(LakeTable, method, f"cdc.table.{method}")

    def span_cost_s(self, n: int = 200) -> float:
        """Seconds one empty span costs (two py4j round trips for the job
        description plus the bookkeeping); the recorded spans are
        removed again."""
        before = len(self.spans)
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("trace.empty"):
                pass
        cost = (time.perf_counter() - t0) / n
        del self.spans[before:]
        return cost

    def by_name(self, since: float = 0.0) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.start >= since:
                out.setdefault(s.name, []).append(s)
        return out


# ---- Spark event log ------------------------------------------------------


@dataclass
class TaskTotals:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0

    def add_task(self, m: dict) -> None:
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        self.tasks += 1
        self.executor_run_s += m.get("Executor Run Time", 0) / 1e3
        self.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        self.gc_s += m.get("JVM GC Time", 0) / 1e3
        self.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        self.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        self.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
        self.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        self.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
        self.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
        self.output_records += m.get("Output Metrics", {}).get("Records Written", 0)


def event_log_files(log_dir: str) -> list[str]:
    """Uncompressed event log files of every application under
    ``log_dir``: rolling logs (``eventlog_v2_*/events_*``) and
    single-file logs alike."""
    rolling = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    single = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    return rolling + sorted(single)


def task_totals_by_description(log_dir: str) -> dict[str | None, TaskTotals]:
    """Sum ``SparkListenerTaskEnd`` metrics per job description."""
    stage_desc: dict[int, str | None] = {}
    out: dict[str | None, TaskTotals] = {}
    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(DESCRIPTION)
                    out.setdefault(desc, TaskTotals()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    desc = stage_desc.get(ev["Stage ID"])
                    out.setdefault(desc, TaskTotals()).add_task(ev["Task Metrics"])
    return out
