"""Supervised change-feed runner (streaming/supervisor.py): a REAL
mid-stream schema evolution fails the live query, the supervisor
restarts it from the same checkpoint, and the drained output is
exactly-once with the evolved column present — the whole operational
loop the feed_source docstring prescribes, automated."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.cdc.apply import apply_batch
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.streaming.supervisor import (
    SupervisedRun,
    run_feed_supervised,
)
from medallion_etl_spark.synth import gen_events


def _apply(spark, table, events, batch_id, lo, hi):
    chunk = events.filter(F.col("lsn").between(lo, hi))
    apply_batch(
        spark, table, chunk, batch_id=batch_id, lsn_lo=lo, lsn_hi=hi
    )
    return LakeTable.load(table.root)


def test_supervisor_restarts_across_live_evolution(spark, tmp_path):
    events = gen_events(spark, n_events=2_000, n_keys=200).cache()
    v1_events = events.withColumn("schema_version", F.lit(1)).withColumn(
        "lang", F.lit(None).cast("string")
    )
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    table = _apply(spark, table, v1_events, 0, 0, 1_999)
    assert table.schema_version == 1

    ckpt = str(tmp_path / "ck_sup")
    out = str(tmp_path / "sup_out")
    attempts: list[int] = []

    def start_sink(feed):
        # attempt 1 polls (so the live query is running when the table
        # evolves underneath it); the restart drains and terminates
        attempts.append(1)
        writer = (
            feed.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
        )
        if len(attempts) == 1:
            writer = writer.trigger(processingTime="1 second")
        else:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    result: dict = {}

    def run():
        try:
            result["run"] = run_feed_supervised(spark, table.root, start_sink)
        except Exception as ex:  # pragma: no cover - surfaced by asserts
            result["error"] = ex

    th = threading.Thread(target=run, daemon=True)
    th.start()

    # wait until attempt 1 commits its first micro-batch (pre-evolution)
    deadline = time.time() + 120
    n_first = 0
    while time.time() < deadline and not n_first:
        try:
            n_first = spark.read.parquet(out).count()
        except Exception:
            pass
        if not n_first:
            time.sleep(0.5)
    assert n_first > 0, "attempt 1 never committed a batch"

    # evolve the table (v2 adds `lang`) while the query is live
    v2_events = (
        events.filter(F.col("lsn") < 150)
        .withColumn("lsn", F.col("lsn") + F.lit(50_000))
        .withColumn("schema_version", F.lit(2))
        .withColumn("lang", F.lit("es"))
    )
    v_before = LakeTable.load(table.root).version
    table = _apply(spark, table, v2_events, 1, 50_000, 50_149)
    assert table.schema_version == 2

    th.join(timeout=240)
    assert not th.is_alive(), "supervised run did not finish"
    assert "error" not in result, f"supervisor re-raised: {result.get('error')!r}"
    run_res: SupervisedRun = result["run"]
    assert run_res.restarts == 1
    assert len(attempts) == 2
    assert run_res.last_error and "schema evolved mid-stream" in run_res.last_error

    # exactly-once across the restart, evolved column present
    final = spark.read.option("mergeSchema", "true").parquet(out)
    new_rows = [r for r in final.collect() if r["_lsn"] >= 50_000]
    want = table.read_changes(spark, since_version=v_before).collect()
    assert sorted((r["doc_id"], r["_lsn"], r["lang"]) for r in new_rows) == sorted(
        (r["doc_id"], r["_lsn"], r["lang"]) for r in want
    )
    assert final.count() == n_first + len(new_rows)


def test_supervisor_reraises_non_evolution_failures(spark, tmp_path):
    """The retention-gate error (and any other failure) must NOT be
    retried: a restart cannot recover purged tombstones."""

    class Boom(Exception):
        pass

    class FakeQuery:
        def awaitTermination(self):
            raise Boom("stream offset version 0 predates a compaction purge")

    calls: list[int] = []

    def start_sink(feed):
        calls.append(1)
        return FakeQuery()

    # build a minimal real table so read_feed_stream can open it
    events = gen_events(spark, n_events=50, n_keys=10)
    table = LakeTable.create(str(tmp_path / "t2"), n_buckets=4)
    _apply(spark, table, events, 0, 0, 49)

    with pytest.raises(Boom):
        run_feed_supervised(spark, str(tmp_path / "t2"), start_sink)
    assert len(calls) == 1  # no retry


def test_supervisor_bounds_restart_storm(spark, tmp_path):
    """An evolution failure that never clears stops at max_restarts
    and re-raises instead of looping forever."""

    class Evolved(Exception):
        pass

    class FakeQuery:
        def awaitTermination(self):
            raise Evolved("table schema evolved mid-stream; restart the streaming query")

    calls: list[int] = []

    def start_sink(feed):
        calls.append(1)
        return FakeQuery()

    events = gen_events(spark, n_events=50, n_keys=10)
    table = LakeTable.create(str(tmp_path / "t3"), n_buckets=4)
    _apply(spark, table, events, 0, 0, 49)

    with pytest.raises(Evolved):
        run_feed_supervised(spark, str(tmp_path / "t3"), start_sink, max_restarts=2)
    assert len(calls) == 3  # initial + 2 restarts
