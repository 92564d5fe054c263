"""lake_feed backpressure: `maxVersionsPerTrigger` (the Delta
maxFilesPerTrigger analog) drains a deep backlog in bounded
micro-batches instead of one giant catch-up scan, and a checkpointed
restart resumes mid-backlog without loss or duplication."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from medallion_etl_spark.cdc.apply import apply_batch
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.streaming.feed_source import read_feed_stream
from medallion_etl_spark.synth import gen_events

N_VERSIONS = 6
SPAN = 500  # events per version


def _build(spark, tmp_path):
    events = gen_events(spark, n_events=N_VERSIONS * SPAN, n_keys=250).cache()
    events.count()
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    for i in range(N_VERSIONS):
        lo, hi = i * SPAN, (i + 1) * SPAN - 1
        apply_batch(
            spark,
            LakeTable.load(table.root),
            events.filter(F.col("lsn").between(lo, hi)),
            batch_id=i,
            lsn_lo=lo,
            lsn_hi=hi,
        )
    return LakeTable.load(table.root)


def _canon(rows):
    return sorted((r["doc_id"], r["_lsn"], r["_change_type"]) for r in rows)


def _drain_counted(spark, root, ckpt, limit, stop_after=None, timeout=120):
    """Run the feed with a processingTime trigger, collecting each
    non-empty micro-batch; stop after `stop_after` non-empty batches
    (or when idle with no backlog)."""
    batches: list[list] = []
    done = threading.Event()

    def sink(df, _bid):
        # refuse batches past the quota BEFORE touching them: under a
        # loaded box the 250ms trigger can start another micro-batch
        # between done.set() and q.stop(), and a graceful stop would
        # let it both commit and be counted — raising keeps the extra
        # batch uncommitted (a crash-stop), so the later resume drain
        # re-delivers exactly the remaining spans.
        if stop_after is not None and len(batches) >= stop_after:
            done.set()
            raise RuntimeError("stop quota reached")
        rows = df.collect()
        if rows:
            batches.append(rows)
        if stop_after is not None and len(batches) >= stop_after:
            done.set()

    feed = read_feed_stream(spark, root, max_versions_per_trigger=limit)
    q = (
        feed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + timeout
        while time.time() < deadline:
            if stop_after is not None and done.is_set():
                break
            if stop_after is None:
                # drained: every emitted row seen and the stream idle
                total = sum(len(b) for b in batches)
                prog = q.lastProgress
                if (
                    total > 0
                    and prog is not None
                    and prog["numInputRows"] == 0
                    and int(prog["batchId"]) > len(batches) + 1
                ):
                    break
            time.sleep(0.3)
    finally:
        from pyspark.errors.exceptions.captured import StreamingQueryException

        try:
            q.stop()
            q.awaitTermination(30)
        except StreamingQueryException:
            pass  # the sink's deliberate stop-quota crash
        except Exception as exc:
            # under a loaded box the same deliberate crash can surface
            # through other py4j wrapper types (seen once in a 4-shard
            # run) — swallow ONLY our own quota marker, anything else
            # is a real failure
            if "stop quota reached" not in str(exc):
                raise
    return batches


def test_backlog_drains_in_bounded_batches(spark, tmp_path):
    table = _build(spark, tmp_path)
    assert table.version == N_VERSIONS
    limit = 2
    batches = _drain_counted(
        spark, table.root, str(tmp_path / "ck"), limit, stop_after=N_VERSIONS // limit
    )
    # ceil(6/2) = 3 bounded batches, each exactly one 2-version span
    assert len(batches) == N_VERSIONS // limit
    for i, rows in enumerate(batches):
        want = table.read_changes(
            spark, since_version=i * limit, until_version=(i + 1) * limit
        )
        assert _canon(rows) == _canon(want.collect()), f"batch {i}"


def test_checkpointed_resume_mid_backlog(spark, tmp_path):
    table = _build(spark, tmp_path)
    ckpt = str(tmp_path / "ck")
    limit = 2
    first = _drain_counted(spark, table.root, ckpt, limit, stop_after=1)
    assert len(first) == 1
    want_first = table.read_changes(spark, since_version=0, until_version=limit)
    assert _canon(first[0]) == _canon(want_first.collect())

    # restart from the SAME checkpoint: the remaining backlog drains
    # STILL CAPPED (the engine re-plans the checkpointed offsets
    # through partitions() before the first latestOffset, re-seating
    # the pacing cursor — see LakeFeedStreamReader), with no loss and
    # no duplication: exactly the remaining limit-sized spans
    rest = _drain_counted(
        spark, table.root, ckpt, limit, stop_after=(N_VERSIONS - limit) // limit
    )
    assert len(rest) == (N_VERSIONS - limit) // limit
    for i, rows in enumerate(rest):
        lo = limit + i * limit
        want = table.read_changes(
            spark, since_version=lo, until_version=lo + limit
        )
        assert _canon(rows) == _canon(want.collect()), f"post-restart batch {i}"
