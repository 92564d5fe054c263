"""Per-layer metrics of the traced run.

Inputs: the workload's own counts (``apply_batch`` timings, replay's
``phase_totals``, table facts), the spans recorded around each engine
layer (spans.py) and Spark's task metrics per job description from the
event log. Job descriptions are ``"<phase>:<span path>"``; the measured
window's benchmark operations are the outermost spans ``bench.commit``,
``bench.lookup``, ``bench.scan``, ``bench.feed`` and
``operators.<query>``, so every Spark job is attributed to the operation
that launched it.

Per-commit and per-pass figures are means over the measured window;
read figures are medians. A layer the workload does not exercise reads
0.
"""

from __future__ import annotations

import statistics

import spans
import workloads

_APPLY_PHASES = ("stats", "plan_build", "merge_write", "footer_stats")
_SPARK_APPLY = (
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"), ("fetch_wait_s", "s"),
    ("spill_bytes", "B"), ("output_bytes", "B"),
)

PER_LAYER: dict[str, str] = {
    "setup.session_s": "s",
    "setup.generate_s": "s",
    "setup.base_table_s": "s",
    "setup.warmup_s": "s",
    "cdc.replay.upfront_stats_s": "s",
    "cdc.replay.self_s": "s",
    "cdc.replay.chunks": "count",
    **{f"cdc.apply.{p}_s": "s" for p in _APPLY_PHASES},
    **{f"cdc.apply.{k}": u for k, u in _SPARK_APPLY},
    "cdc.apply.cpu_per_run": "ratio",
    "cdc.apply.rows_written_per_event": "ratio",
    "cdc.apply.jobs_per_commit": "count",
    "cdc.apply.mor_share": "ratio",
    "cdc.table.commit_s": "s",
    "cdc.table.commit_calls": "count",
    "cdc.table.version_doc_bytes": "B",
    "cdc.table.meta_bytes_per_commit": "B",
    "cdc.table.read_s": "s",
    "cdc.table.lookup_s": "s",
    "cdc.table.read_changes_s": "s",
    "cdc.table.input_bytes": "B",
    "cdc.table.delta_dirs": "count",  # mean seen by the reads
    "cdc.table.stored_bytes_per_row": "B/row",
    "cdc.lineage.write_s": "s",
    **{f"operators.{q}_s": "s" for q in workloads.CURATE_QUERIES},
    "operators.executor_cpu_s": "s",
    "operators.shuffle_write_bytes": "B",
    "operators.spill_bytes": "B",
    "trace.covered_share": "ratio",
    "trace.span_cost_share": "ratio",
}


def _sum_totals(totals: dict, prefix: str) -> spans.TaskTotals:
    out = spans.TaskTotals()
    for desc, t in totals.items():
        if desc and desc.startswith(prefix):
            for k, v in vars(t).items():
                setattr(out, k, getattr(out, k) + v)
    return out


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(workload: str, run: workloads.Run, event_log_dir: str) -> dict[str, float]:
    m = dict.fromkeys(PER_LAYER, 0.0)
    for k, v in run.setup.items():
        m[f"setup.{k}_s"] = v
    spans_by = run.tracer.by_name()
    measured = run.tracer.by_name(since=run.measure_start)
    totals = spans.task_totals_by_description(event_log_dir)

    replays = spans_by.get("cdc.replay.replay", [])
    if replays:
        m["cdc.replay.self_s"] = sum(s.self_s for s in replays)
        m["cdc.replay.upfront_stats_s"] = run.counts["replay.upfront_stats_s"]
        m["cdc.replay.chunks"] = run.counts["replay.chunks"]

    if workload == "trickle":
        c = run.counts
        n = max(c["commits"], 1)
        for p in _APPLY_PHASES:
            m[f"cdc.apply.{p}_s"] = c.get(f"apply.{p}_s", 0.0)
        # every job a commit launched, whichever engine span it ran under
        apply = _sum_totals(totals, "measure:bench.commit")
        for k, _u in _SPARK_APPLY:
            m[f"cdc.apply.{k}"] = getattr(apply, k) / n
        m["cdc.apply.cpu_per_run"] = apply.executor_cpu_s / max(apply.executor_run_s, 1e-9)
        m["cdc.apply.rows_written_per_event"] = apply.output_records / max(c["events"], 1)
        m["cdc.apply.jobs_per_commit"] = apply.jobs / n
        m["cdc.apply.mor_share"] = c["mor_share"]
        commits = measured.get("cdc.table.commit", [])
        m["cdc.table.commit_s"] = sum(s.duration for s in commits) / n
        m["cdc.table.commit_calls"] = len(commits) / n
        m["cdc.table.version_doc_bytes"] = c["version_doc_bytes"]
        m["cdc.table.meta_bytes_per_commit"] = c["meta_bytes_per_commit"]
        m["cdc.table.read_s"] = _median(run.samples.get("scan", []))
        m["cdc.table.lookup_s"] = _median(run.samples.get("lookup", []))
        m["cdc.table.read_changes_s"] = _median(run.samples.get("feed", []))
        scans = len(run.samples.get("scan", [])) or 1
        m["cdc.table.input_bytes"] = _sum_totals(totals, "measure:bench.scan").input_bytes / scans
        m["cdc.table.delta_dirs"] = c["delta_dirs"]
        m["cdc.table.stored_bytes_per_row"] = c["stored_bytes_per_row"]
        m["cdc.lineage.write_s"] = (
            sum(s.duration for s in measured.get("cdc.lineage.write_lineage", [])) / n
        )
        top = ("bench.commit", "bench.lookup", "bench.scan", "bench.feed")
    else:
        passes = max(len(run.samples.get("pass", [])), 1)
        for q in workloads.CURATE_QUERIES:
            m[f"operators.{q}_s"] = _median(run.samples.get(q, []))
        ops = _sum_totals(totals, "measure:operators.")
        m["operators.executor_cpu_s"] = ops.executor_cpu_s / passes
        m["operators.shuffle_write_bytes"] = ops.shuffle_write_bytes / passes
        m["operators.spill_bytes"] = ops.spill_bytes / passes
        top = tuple(f"operators.{q}" for q in workloads.CURATE_QUERIES)

    # share of the measured window covered by the benchmark's top-level
    # operation spans (the rest is loop bookkeeping and tracing itself)
    covered = sum(s.duration for name in top for s in measured.get(name, []))
    window = max(run.measure_end - run.measure_start, 1e-9)
    m["trace.covered_share"] = covered / window
    # the Python-side cost of recording the window's spans; the event
    # log's own cost shows only against an untraced run
    n_spans = sum(len(v) for v in measured.values())
    m["trace.span_cost_share"] = n_spans * run.counts["span_cost_s"] / window
    return m
