#!/usr/bin/env python
"""spark-submit entry point for the CDC replayer.

The SAME job runs unchanged at any cluster size (north_rule: N vs 4N
executors) — parallelism comes entirely from the cluster manager:

    spark-submit --master <cluster> --driver-memory 48g \
        --conf spark.driver.extraJavaOptions='-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2' \
        --conf spark.sql.shuffle.partitions=<cores*2> \
        --py-files medallion_etl_spark.zip scripts/replay_cli.py \
        --events /data/change_stream --table /lake/docs \
        [--streaming --checkpoint /lake/_ckpt/docs] \
        [--chunk-size 100000000] [--write-mode cow|mor|auto]

Under spark-submit the submit line is authoritative for master and ALL
sizing (get_spark sets none of them — builder confs would override
--conf); --parallelism only applies to plain `python` runs.

In the sandbox the equivalent is `python scripts/replay_cli.py` with
`--parallelism N` (local[N]).

Sizing guidance for 10^10 events: chunk_size ~ 10^8 keeps ~100 chunks
(manifest and lineage stay tiny) with each chunk's shuffle ~ tens of
GB spread over the cluster; `--n-buckets` should be ~ cluster cores ×
4 so bucket rewrites parallelize while files stay HDFS-block-sized.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medallion_etl_spark.cdc.replay import replay
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.schemas import EVENTS_SCHEMA
from medallion_etl_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", required=True, help="parquet dir of change events")
    ap.add_argument("--table", required=True, help="LakeTable root (created if absent)")
    ap.add_argument("--chunk-size", type=int, default=1_000_000)
    ap.add_argument(
        "--write-mode",
        default="cow",
        choices=["cow", "mor", "auto"],
        help="cow rewrites touched buckets; mor appends read-merged deltas "
        "(small chunks over a big base); auto picks per chunk",
    )
    ap.add_argument(
        "--on-malformed",
        default="fail",
        choices=["fail", "quarantine", "drop"],
        help="events with NULL lsn/key or unknown op: fail the replay "
        "(default), divert to <table>/_quarantine, or discard",
    )
    ap.add_argument(
        "--on-violation",
        default="fail",
        choices=["fail", "quarantine", "drop"],
        help="events violating the table's CHECK constraints: fail the "
        "replay (default), divert to <table>/_quarantine/…-checks, or discard",
    )
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--checkpoint", help="checkpoint dir (streaming mode)")
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    args = ap.parse_args()

    spark = get_spark("cdc_replay", parallelism=args.parallelism)
    if not LakeTable.exists(args.table):
        LakeTable.create(args.table, n_buckets=args.n_buckets)

    t0 = time.perf_counter()
    if args.streaming:
        if not args.checkpoint:
            ap.error("--streaming requires --checkpoint")
        from medallion_etl_spark.streaming.stream_replay import stream_replay

        res = stream_replay(
            spark,
            args.events,
            args.table,
            args.checkpoint,
            write_mode=args.write_mode,
            max_files_per_trigger=args.max_files_per_trigger,
            on_malformed=args.on_malformed,
            on_violation=args.on_violation,
        )
    else:
        events = spark.read.schema(EVENTS_SCHEMA).parquet(args.events)
        res = replay(
            spark,
            events,
            LakeTable.load(args.table),
            chunk_size=args.chunk_size,
            write_mode=args.write_mode,
            on_malformed=args.on_malformed,
            on_violation=args.on_violation,
        )
    res["wall_sec"] = round(time.perf_counter() - t0, 3)
    res["final_rows"] = LakeTable.load(args.table).read(spark).count()
    # where and how the job actually ran — under spark-submit these
    # must echo the submit line (master and --conf sizing), never a
    # builder-forced local[n] / driver-local default
    res["master"] = spark.sparkContext.master
    res["shuffle_partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
