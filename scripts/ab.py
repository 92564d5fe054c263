#!/usr/bin/env python
"""Interleaved A/B of the repository benchmark: a parent revision
against this checkout, run pair by pair.

    python scripts/ab.py <parent-rev> --workload curate --pairs 10 --seed0 1901
    python scripts/ab.py HEAD~1 --workload trickle --pairs 10 --seed0 1911 --out BENCH/x.json

The parent revision is extracted with ``git archive`` into a temporary
directory that is removed on exit; the change side is this checkout's
working tree. Pair ``i`` runs ``python3 perfbench/run.py --workload W --seed
seed0+i --seconds 18 --trace 0`` once in each checkout, one process at
a time, and the side that runs first alternates from pair to pair. Each
run's result is the JSON line ``perfbench/run.py`` prints last.

For every metric the table shows each side's median and quartiles, the
pairs the change won (lower is better for every end-to-end metric), the
median ratio against the metric's bound in ``BENCHMARK.json``, and the
verdict of the measurement protocol in BENCH/BASELINE.md: a gain needs
the change to win at least nine pairs in ten *and* a median gap larger
than the parent's interquartile range. Runs with ``correct: false`` or
failed operations are flagged.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SECONDS = 18  # the run length of the measurement protocol


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method (a single value is all three)."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def compare(parent: list[float], change: list[float], bound: float | None = None) -> dict:
    """Paired comparison of one lower-is-better metric.

    ``parent[i]`` and ``change[i]`` are pair ``i``'s runs. ``gain`` is
    the protocol's verdict: the change wins at least 90% of the pairs
    and its median is below the parent's by more than the parent's
    interquartile range. ``within_bound`` says whether the change's
    median is at most ``(1 + bound)`` times the parent's."""
    if len(parent) != len(change) or not parent:
        raise ValueError("need the same, nonzero number of runs on each side")
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins = sum(c < p for p, c in zip(parent, change))
    ratio = cm / pm if pm else math.inf
    return {
        "parent": (pm, p1, p3),
        "change": (cm, c1, c3),
        "wins": wins,
        "pairs": len(parent),
        "ratio": ratio,
        "gain": wins >= math.ceil(0.9 * len(parent)) and pm - cm > p3 - p1,
        "within_bound": bound is None or ratio <= 1 + bound,
    }


def table(workload: str, seeds: list[int], runs: dict[str, list[dict]], bounds: dict) -> str:
    """The markdown table BENCH/BASELINE.md records, one row per metric."""
    names = list(runs["parent"][0]["metrics"])
    lines = [
        "| workload | metric | seeds | parent median [q1, q3] | change median [q1, q3] "
        "| change wins | median ratio | verdict |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name in names:
        c = compare(
            [r["metrics"][name]["value"] for r in runs["parent"]],
            [r["metrics"][name]["value"] for r in runs["change"]],
            bounds.get(name),
        )
        verdict = "gain" if c["gain"] else "no gain"
        if not c["within_bound"]:
            verdict += f", WORSE than its {bounds[name]} bound"
        (pm, p1, p3), (cm, c1, c3) = c["parent"], c["change"]
        lines.append(
            f"| {workload} | `{name}` | {seeds[0]}-{seeds[-1]} | {pm:.3f} [{p1:.3f}, {p3:.3f}] "
            f"| {cm:.3f} [{c1:.3f}, {c3:.3f}] | {c['wins']}/{c['pairs']} "
            f"| {c['ratio']:.3f} | {verdict} |"
        )
    return "\n".join(lines)


def flags(runs: dict[str, list[dict]], seeds: list[int]) -> list[str]:
    """One line per run that was incorrect or had failed operations."""
    out = []
    for side, results in runs.items():
        for seed, r in zip(seeds, results):
            if not r.get("correct") or r.get("failed"):
                out.append(f"{side} seed {seed}: correct={r.get('correct')} "
                           f"failed={r.get('failed')}/{r.get('attempted')}")
    return out


def extract(rev: str, into: str) -> None:
    """The committed tree of ``rev`` under ``into``."""
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev], check=True,
                             capture_output=True).stdout
    os.makedirs(into)
    subprocess.run(["tar", "-x", "-C", into], input=archive, check=True)


def run_once(checkout: str, workload: str, seed: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(SECONDS), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=1800)
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "null"
    result = json.loads(last)
    if result is None:
        raise RuntimeError(f"no result from {checkout} seed {seed}:\n{proc.stderr[-2000:]}")
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_rev")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    tmp = tempfile.mkdtemp(prefix="ab-")
    try:
        checkouts = {"parent": os.path.join(tmp, "parent"), "change": ROOT}
        extract(args.parent_rev, checkouts["parent"])
        seeds = [args.seed0 + i for i in range(args.pairs)]
        runs: dict[str, list[dict]] = {"parent": [], "change": []}
        for i, seed in enumerate(seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                r = run_once(checkouts[side], args.workload, seed)
                runs[side].append(r)
                print(f"# pair {i + 1}/{args.pairs} seed {seed} {side}: " + ", ".join(
                    f"{k}={v['value']:.3f}" for k, v in r["metrics"].items()
                ) + f" correct={r['correct']}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "parent_rev": args.parent_rev,
                       "seeds": seeds, "runs": runs}, f, indent=1)
    print(table(args.workload, seeds, runs, bounds))
    bad = flags(runs, seeds)
    for line in bad:
        print(f"FLAG {line}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
