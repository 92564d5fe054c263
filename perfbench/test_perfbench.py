"""Tests of the benchmark itself.

    python -m pytest perfbench -q

The end-to-end tests run the real command at tiny sizes (about 20K
change events, sf0.001-sized tables), one Spark process each, about
half a minute apiece on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _bench(tmp_cwd: str, *args: str, root: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
        cwd=tmp_cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- pure helpers -----------------------------------------------------------


def test_state_digest_is_order_independent():
    rows = [("doc-1", 3, [1, 2, 3]), ("doc-2", 1, [7]), ("hot-0", 2, [5, 5])]
    assert check.state_digest(rows) == check.state_digest(list(reversed(rows)))
    assert check.state_digest(rows) != check.state_digest(rows[:2])
    changed = [("doc-1", 3, [1, 2, 4])] + rows[1:]
    assert check.state_digest(changed) != check.state_digest(rows)


def test_tail_quantile_keeps_ten_samples_beyond_it():
    assert run.tail_quantile(19) is None
    assert run.tail_quantile(20) == 0.5
    assert run.tail_quantile(100) == pytest.approx(0.9)


def test_window_ops_follow_the_run_length_only():
    assert workloads.window_ops(25, 15.0) == 2
    assert workloads.window_ops(25, 6.0) == 4
    assert workloads.window_ops(1, 15.0) == 1


def test_stop_processes_waits_for_orphaned_descendants():
    """A child that exits and leaves its own child running: the orphan
    is adopted by the benchmark process, killed after the grace period
    and waited for."""
    script = (
        "import os, subprocess, sys, time\n"
        f"sys.path.insert(0, {HERE!r})\n"
        "import run\n"
        "run.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'], check=True)\n"
        "time.sleep(0.5)\n"
        "print(len(run._children(os.getpid())))\n"
        "run.STOP_GRACE_S = 1.0\n"
        "run.stop_processes()\n"
        "print(len(run._children(os.getpid())))\n"
    )
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True,
                          text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.split() == ["1", "0"]


def test_event_log_totals_follow_job_descriptions(tmp_path):
    log = tmp_path / "eventlog_v2_app-1"
    log.mkdir()
    metrics = {
        "Executor Run Time": 2000, "Executor CPU Time": 1_500_000_000,
        "JVM GC Time": 100, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10,
                                 "Fetch Wait Time": 5},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
        "Input Metrics": {"Bytes Read": 30},
        "Output Metrics": {"Bytes Written": 40, "Records Written": 4},
    }
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {spans.DESCRIPTION: "measure:bench.commit/cdc.apply.apply_batch"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": metrics},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": metrics},
    ]
    (log / "events_1_app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    totals = spans.task_totals_by_description(str(tmp_path))
    commit = layers._sum_totals(totals, "measure:bench.commit")
    assert (commit.jobs, commit.tasks) == (1, 1)
    assert commit.executor_cpu_s == pytest.approx(1.5)
    assert commit.shuffle_write_bytes == 20 and commit.output_records == 4
    assert totals[None].tasks == 1


def test_benchmark_json_names_every_metric_the_command_reports():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.workloads.WORKLOADS)


# ---- the command, end to end at tiny sizes ----------------------------------


@pytest.mark.parametrize("workload", ["trickle", "curate"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run_prints_every_metric_with_its_unit(tmp_path, workload, trace):
    proc = _bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "2",
                  "--trace", trace, "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = _result(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = _benchmark_json()["per_layer" if trace == "1" else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    if trace == "0":
        assert all(v["value"] > 0 for v in res["metrics"].values())
    assert not os.path.exists(os.path.join(HERE, ".work"))


@pytest.mark.parametrize("workload", ["trickle", "curate"])
def test_a_corrupted_output_fails_the_check(workload):
    """trickle drops one row from the replayed table; curate drops one
    row of a query output. Either must be caught by the oracle."""
    proc = _bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                  "--size", "tiny", "--corrupt")
    assert proc.returncode == 1, proc.stderr[-3000:]
    res = _result(proc)
    assert res["correct"] is False and res["failed"] >= 1


def test_without_the_engine_it_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _bench(str(tmp_path), "--workload", "trickle", "--seed", "1",
                  "--seconds", "1", root=str(tmp_path))
    assert proc.returncode not in (0, None)
    assert proc.stdout == ""
