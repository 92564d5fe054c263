#!/usr/bin/env python
"""Skew probe: replay a PATHOLOGICALLY hot-keyed change stream
(hot_fraction of all events collapse onto a single doc_id) through
each LWW dedup strategy and record throughput.

What it evidences (north_rule: "explicit salting for hot doc_id
skew"): the window strategy serializes the hot key into one task; the
agg strategy survives via map-side partial aggregation (each input
partition pre-collapses its slice of the hot key to ONE row before
the shuffle); the salted strategy splits the hot key across
``n_salts`` reducers explicitly, then re-reduces — the classic
two-phase fix AQE can't always apply (single-key skew is invisible to
AQE's size heuristics until the shuffle already happened).

Usage: python scripts/skew_probe.py [parallelism] [n_events] [hot_fractions]
where hot_fractions is comma-separated (default "0.5"); e.g.
  python scripts/skew_probe.py 8 8000000 0.9,0.99,1.0
Prints one JSON line per (level, strategy, rep); writes BENCH/skew.json
with one entry per level (the r5 extension — VERDICT r4 task 7 asked
for the pathological 99%/single-key end on top of the earlier 20-90%
sweeps).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCRATCH = "/dev/shm" if os.path.isdir("/dev/shm") else None


def main() -> None:
    p = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 8_000_000
    fracs = [float(x) for x in (sys.argv[3] if len(sys.argv) > 3 else "0.5").split(",")]

    from bench import _bench_conf
    from medallion_etl_spark.cdc.replay import replay
    from medallion_etl_spark.cdc.table import LakeTable
    from medallion_etl_spark.session import get_spark
    from medallion_etl_spark.synth import gen_events, write_events_ordered

    spark = get_spark(f"skew_probe_p{p}", parallelism=p, extra_conf=_bench_conf(p))
    tmp = tempfile.mkdtemp(prefix="skew_probe_", dir=SCRATCH)
    out: dict = {"events": n, "n_hot_keys": 1, "parallelism": p, "levels": []}
    warmed = False
    try:
        for hot in fracs:
            ev_path = os.path.join(tmp, f"events_{hot}")
            stream = gen_events(
                spark, n, max(n // 10, 100), hot_fraction=hot, n_hot=1
            )
            write_events_ordered(stream, ev_path, n_files=max(p, 8))
            events = spark.read.parquet(ev_path)
            # untimed full read of THIS level's freshly written events,
            # so rep 0 of every level (not only the first) meets them
            # in the page cache like the later reps do
            events.write.format("noop").mode("overwrite").save()

            if not warmed:
                # untimed warm-up: the first replay on a fresh JVM pays
                # whole-stage-codegen + classloading (measured 3.5-4.6x
                # on rep 0 of every strategy before this existed)
                warm_root = os.path.join(tmp, "t_warm")
                warm = LakeTable.create(warm_root, n_buckets=64, schema_version=1)
                replay(spark, events, warm, chunk_size=n, dedup_strategy="agg", merge_path="agg")
                shutil.rmtree(warm_root, ignore_errors=True)
                warmed = True

            level: dict = {"hot_fraction": hot, "strategies": {}}
            # interleaved reps, best-of — same protocol as bench --scaling
            reps = 2
            final_rows = None
            for r in range(reps):
                for strat in ["window", "agg", "salted"]:
                    troot = os.path.join(tmp, f"t_{hot}_{strat}_{r}")
                    table = LakeTable.create(troot, n_buckets=64, schema_version=1)
                    t0 = time.perf_counter()
                    replay(
                        spark, events, table,
                        chunk_size=n // 2,
                        dedup_strategy=strat,
                        merge_path="agg",  # keep the merge identical; vary only dedup
                    )
                    wall = time.perf_counter() - t0
                    rows = LakeTable.load(troot).read(spark).count()
                    if final_rows is None:
                        final_rows = rows
                    assert rows == final_rows, (strat, rows, final_rows)
                    cur = level["strategies"].setdefault(strat, {"walls": []})
                    cur["walls"].append(round(wall, 3))
                    shutil.rmtree(troot, ignore_errors=True)
                    print(
                        json.dumps({
                            "hot_fraction": hot, "strategy": strat, "rep": r,
                            "wall_sec": round(wall, 3),
                        }),
                        flush=True,
                    )
            for strat, cur in level["strategies"].items():
                best = min(cur["walls"])
                cur["best_wall_sec"] = best
                cur["events_per_sec"] = round(n / best, 1)
            level["final_rows"] = final_rows
            out["levels"].append(level)
            shutil.rmtree(ev_path, ignore_errors=True)
        print(json.dumps(out))
        os.makedirs("BENCH", exist_ok=True)
        with open("BENCH/skew.json", "w") as f:
            json.dump(out, f, indent=1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
