#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload {trickle,curate} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a source checkout. The engine is imported from the
checkout; everything the run writes (inputs, tables, Spark scratch, the
event log) lives under ``perfbench/.work`` and is removed at exit.

Spark runs in this one process as ``local[N - 1]``, N being the cores
this process may use, with a 3 GiB driver heap (see ``start_session``).
The run also prints the hypervisor's CPU steal during the measured
window: on a shared host, slow runs are the ones with high steal. On
every way out, the run stops the Spark JVM and every process below it
and waits for each to end (see ``stop_processes``).

Output: informational lines (environment, every measured distribution
with its median, highest supported percentile and sample count), then
as the LAST line one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}, ...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json: set-up
wall time and the engine's CPU seconds per operation; tracing is off.
``--trace 1`` is a separate run that records spans around the calls
into each engine layer and reads Spark's task metrics back from the
event log (see spans.py); it reports the per-layer metrics. Layers a
workload does not exercise report 0.

Exit code: 0 when every output matched its oracle, 1 when a check or an
operation failed (the JSON line is still printed), 2 when the engine
cannot be imported (nothing is printed).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

DRIVER_HEAP = "3g"

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "read_cpu_s": "s",
}


def tail_quantile(n: int) -> float | None:
    """Highest percentile with at least ten samples beyond it."""
    return 1.0 - 10.0 / n if n >= 20 else None


def quantile(values: list[float], q: float) -> float:
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def describe(name: str, values: list[float], unit: str = "s") -> str:
    n = len(values)
    line = f"# {name}: p50={statistics.median(values):.4f} {unit}"
    q = tail_quantile(n)
    if q is not None:
        line += f" p{100 * q:.0f}={quantile(values, q):.4f} {unit}"
    else:
        line += " tail=n/a (<20 samples)"
    return line + f" min={min(values):.4f} max={max(values):.4f} n={n}"


def _vm_hwm_kib(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kib("self") + _vm_hwm_kib(jvm)) / 1024.0


PR_SET_CHILD_SUBREAPER = 36
STOP_GRACE_S = 20.0


def become_subreaper() -> None:
    """Make this process the parent of every orphan among its descendants,
    so that the Python workers the JVM forks can still be waited for once
    the JVM has exited."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces: the fields after it
                # start past the last ')'; the second of them is the ppid
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            kids.append(int(entry))
    return kids


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes() -> None:
    """Stop the Spark gateway JVM and every process it started, and wait
    until each has ended.

    ``spark.stop()`` leaves the JVM running until it reads EOF on its
    stdin, which otherwise happens only when this process exits; the JVM
    then exits on its own time. Here its stdin is closed and the JVM is
    waited for (killed after ``STOP_GRACE_S``), then every remaining
    descendant, such as a Python worker the JVM forked, is waited for and
    killed after the same grace.
    """
    gateway_proc = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway_proc = getattr(SparkContext._gateway, "proc", None)
    if gateway_proc is not None:
        if gateway_proc.stdin is not None:
            try:
                gateway_proc.stdin.close()
            except OSError:
                pass
        try:
            gateway_proc.wait(STOP_GRACE_S)
        except subprocess.TimeoutExpired:
            gateway_proc.kill()
            gateway_proc.wait()
    deadline = time.monotonic() + STOP_GRACE_S
    me = os.getpid()
    while True:
        _reap()
        kids = _children(me)
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def start_session(work: str, trace: bool):
    """A ``get_spark`` session sized for this box, with all scratch
    inside ``work``."""
    from medallion_etl_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": (
            f"-XX:ParallelGCThreads={cores} -XX:ConcGCThreads=1 "
            f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    # one core is left to the driver's own threads (Python, py4j, JIT,
    # GC): with every core running tasks, a core taken by the host or by
    # a driver thread stalls each stage on one straggler task
    return get_spark("perfbench", parallelism=parallelism(cores), extra_conf=conf), cores


def parallelism(cores: int) -> int:
    return max(cores - 1, 1)


def engine_fingerprint() -> str:
    """Digest of the engine's source files: names the code measured even
    in a checkout that is not a git repository."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "medallion_etl_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def environment(spark, cores: int, seed: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kib = int(f.readline().split()[1])
    return {
        "nproc": cores,
        "spark_master": f"local[{parallelism(cores)}]",
        "ram_gib": round(mem_kib / 2**20, 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "engine_sha": engine_fingerprint(),
        "seed": seed,
        "driver_heap": DRIVER_HEAP,
    }


def end_to_end(workload: str, run: workloads.Run) -> dict[str, float]:
    """Set-up wall time and the engine's CPU seconds per operation.

    The gated figures are CPU time, not wall time. On a shared 4-core
    host, five curate runs with 0.7-14% hypervisor steal had a pass-wall
    interquartile spread of 0.38 of its median; ten with 0.4-17% steal
    had an engine-CPU spread of 0.04. The walls are printed beside them.
    """
    s = run.samples
    if workload == "trickle":
        # per commit over one auto-mode cycle: its merge-on-read appends
        # and its one fold, each at its median
        cycle = workloads.fold_cycle()
        op = ((cycle - 1) * statistics.median(s["commit_mor_cpu"])
              + statistics.median(s["commit_cow_cpu"])) / cycle
        read = statistics.fmean(
            statistics.median(s[f"{kind}_cpu"]) for kind in ("lookup", "scan", "feed")
        )
    else:
        op = statistics.median(s["pass_cpu"])
        read = statistics.fmean(
            statistics.median(s[f"{name}_cpu"]) for name in workloads.CURATE_QUERIES
        )
    return {"setup_s": sum(run.setup.values()), "op_cpu_s": op, "read_cpu_s": read}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the benchmark's own tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one output before its check (negative test)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import medallion_etl_spark
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(medallion_etl_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine was imported from outside {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # every scratch path of Spark, the JVM and Python stays in the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    for var in ("SPARK_GRAFT_MASTER", "PYSPARK_GATEWAY_PORT"):
        os.environ.pop(var, None)
    become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    rc, result = 1, None
    try:
        rc, result = _run(args, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    # printed once every process is gone, so nothing can follow it
    print(json.dumps(result), flush=True)
    return rc


def _run(args, work: str) -> tuple[int, dict]:
    import spans

    t0 = time.perf_counter()
    spark, cores = start_session(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    tracer = spans.Tracer(spark) if args.trace else None
    if tracer:
        tracer.install_engine_spans()
    run = workloads.Run(spark, work, args.seed, args.seconds, args.size, tracer=tracer)
    run.setup["session"] = session_s
    try:
        workloads.WORKLOADS[args.workload](run, corrupt=args.corrupt)
        if tracer:
            run.counts["span_cost_s"] = tracer.span_cost_s()
        rss = peak_rss_mb(spark)
        env = environment(spark, cores, args.seed)
    finally:
        if tracer:
            tracer.unwrap_all()
        try:
            spark.stop()
        except Exception as exc:  # stop_processes ends the JVM either way
            print(f"perfbench: spark.stop() failed: {exc}", file=sys.stderr)

    print("# env " + json.dumps(env))
    print(
        f"# workload {args.workload}: measured {run.measure_end - run.measure_start:.2f} s, "
        f"cpu steal {100 * run.counts['steal_share']:.1f}%, "
        f"driver JVM cpu {run.counts['jvm_cpu_s']:.2f} s"
    )
    for name, values in sorted(run.samples.items()):
        print(describe(name, values))
    if args.trace:
        import layers

        metrics = layers.per_layer(args.workload, run, os.path.join(work, "eventlog"))
        units = layers.PER_LAYER
    else:
        metrics = end_to_end(args.workload, run)
        units = END_TO_END
    for k, v in sorted(run.setup.items()):
        print(f"# setup.{k}: {v:.4f} s")
    print(f"# peak_rss_mb: {rss:.1f} MiB (driver JVM + Python, VmHWM)")
    failed_share = run.failed / max(run.attempted, 1)
    print(f"# failed_share: {failed_share:.4f} ({run.failed}/{run.attempted})")
    result = {
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    return (0 if run.failed == 0 else 1), result


if __name__ == "__main__":
    sys.exit(main())
