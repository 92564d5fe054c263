#!/usr/bin/env python
"""Sharded full-suite runner: the whole pytest suite at ~4x the wall
speed, no coverage change.

The container has no pytest-xdist, so this shards BY FILE across K
pytest subprocesses (default 4). Each shard is one ordinary pytest
process with its own session-scoped SparkSession at local[8] — 4
shards x 8 task threads matches the 32-core box the way one
sequential local[8] run leaves 24 cores idle. Shards are greedily
bin-packed from the static WEIGHTS table (seconds, from the recorded
``--durations`` profile; unknown files get a floor weight) so no shard
becomes the critical path.

Cross-shard isolation is what plain pytest already gives separate
processes: per-test ``tmp_path`` sandboxes, random Spark driver ports,
UI disabled, no Hive/derby state, CDC scratch dirs keyed by
(input, pid). Per-shard driver heap is capped via
``SPARK_GRAFT_DRIVER_MEM`` so K concurrent JVMs cannot outgrow the
box's DRAM.

    python scripts/partest.py            # 4 shards, whole suite
    python scripts/partest.py --shards 6

Exit code is nonzero if ANY shard fails; each shard's tail is printed
on failure, and the per-shard wall + slowest-shard summary always.
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# measured call+setup seconds from the recorded --durations=35 profile
# (2026-08-19, after the zorder sort-order fix and hypothesis trims);
# files not listed get DEFAULT_WEIGHT. Staleness only unbalances
# shards, it never changes what runs.
WEIGHTS = {
    "test_oracle_parity.py": 170,
    "test_orchestrator_cli.py": 50,
    "test_dedup_incremental.py": 45,
    "test_commit_concurrency.py": 45,
    "test_zorder.py": 30,
    "test_mor.py": 30,
    "test_spark_submit.py": 25,
    "test_feed_backpressure.py": 22,
    "test_time_travel.py": 22,
    "test_advice_fixes.py": 20,
    "test_advice_fixes_r3.py": 20,
    "test_feed_source.py": 20,
    "test_cdc_replay.py": 16,
    "test_ann_ivf.py": 15,
    "test_dml.py": 15,
    "test_feed_supervisor.py": 15,
    "test_merge_properties.py": 15,
    "test_streaming.py": 15,
    "test_clone.py": 12,
    "test_constraints.py": 12,
    "test_merge_into.py": 12,
    "test_restore.py": 12,
    "test_bootstrap.py": 10,
    "test_curation.py": 10,
    "test_stream_join.py": 10,
}
DEFAULT_WEIGHT = 8


def shard_files(files: list[str], n_shards: int) -> list[list[str]]:
    """Greedy longest-processing-time bin packing."""
    shards: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(n_shards)]
    for f in sorted(
        files, key=lambda f: WEIGHTS.get(os.path.basename(f), DEFAULT_WEIGHT),
        reverse=True,
    ):
        w = WEIGHTS.get(os.path.basename(f), DEFAULT_WEIGHT)
        i = min(range(n_shards), key=lambda i: shards[i][0])
        shards[i] = (shards[i][0] + w, shards[i][1] + [f])
    return [s[1] for s in shards if s[1]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--shards", type=int, default=4)
    ap.add_argument("--driver-mem", default="16g")
    ap.add_argument("pytest_args", nargs="*", default=[])
    args = ap.parse_args()

    files = sorted(glob.glob(os.path.join(REPO, "tests", "test_*.py")))
    if not files:
        print("no test files found", file=sys.stderr)
        return 2
    shards = shard_files(files, args.shards)

    env = dict(os.environ)
    env["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem
    # tests that spawn CLI/spark-submit subprocess JVMs size them from
    # SPARK_GRAFT_CPUS (default: the CPUs this process may run on):
    # fine sequentially, but K shards x local[N] subprocess bursts
    # oversubscribe the box — cap them to
    # the same width as the in-process test sessions
    # HARD cap, not setdefault: an exported SPARK_GRAFT_CPUS=32 (the
    # bench default, natural to have in a shell) would re-enable the
    # measured 4x collapse this cap exists to prevent
    inherited = int(env.get("SPARK_GRAFT_CPUS", "8") or "8")
    env["SPARK_GRAFT_CPUS"] = str(min(inherited, 8))
    t0 = time.perf_counter()
    procs = []
    for i, shard in enumerate(shards):
        cmd = [
            sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
            *args.pytest_args, *shard,
        ]
        # each shard's output goes to a FILE, not a PIPE: the runner
        # drains shards sequentially, and a not-yet-drained shard whose
        # pytest+JVM output fills the ~64KB pipe buffer would block
        # mid-test, silently serializing the parallel run
        log = tempfile.TemporaryFile(mode="w+", encoding="utf-8")
        procs.append((
            i,
            shard,
            log,
            subprocess.Popen(
                cmd, cwd=REPO, env=env, text=True,
                stdout=log, stderr=subprocess.STDOUT,
            ),
        ))

    failed = False
    for i, shard, log, p in procs:
        p.wait()
        log.seek(0)
        out = log.read()
        log.close()
        wall = time.perf_counter() - t0
        tail = out.strip().splitlines()[-1] if out.strip() else "(no output)"
        names = ", ".join(os.path.basename(f) for f in shard)
        print(f"[shard {i}] exit={p.returncode} ({wall:7.1f}s elapsed) {tail}")
        print(f"          {names}")
        if p.returncode != 0:
            failed = True
            print(f"--- shard {i} output (last 60 lines) ---")
            print("\n".join(out.splitlines()[-60:]))
    total = time.perf_counter() - t0
    print(f"total wall: {total:.1f}s across {len(shards)} shards")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
