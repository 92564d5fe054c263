"""One change-feed planner (cdc/table.py ``plan_changes``) behind both
the batch feed (``read_changes``) and the ``lake_feed`` streaming
source: the two must accept and refuse the same spans and emit the same
rows."""

from __future__ import annotations

import pytest

from medallion_etl_spark.cdc.apply import apply_batch
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.schemas import EVENTS_SCHEMA
from medallion_etl_spark.streaming.feed_source import LakeFeedStreamReader, read_feed_stream


def _ev_df(spark, lsns):
    # every 5th event deletes its key, so the compaction below purges
    # real tombstones
    rows = [
        (lsn, "D" if lsn % 5 == 4 else "U", f"k{lsn % 11}", [lsn, 1], 2, "s", None, 2)
        for lsn in lsns
    ]
    return spark.createDataFrame(rows, EVENTS_SCHEMA)


@pytest.fixture()
def compacted(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), n_buckets=4, schema_version=2)
    for i, (lo, hi) in enumerate([(0, 40), (40, 80)]):
        apply_batch(spark, t, _ev_df(spark, range(lo, hi)), batch_id=i, lsn_lo=lo, lsn_hi=hi - 1)
        t = LakeTable.load(t.root)
    t.compact(spark, watermark_lsn=59)  # purges tombstones at or below 59
    return LakeTable.load(t.root)


def _canon(df):
    return sorted(tuple(r) for r in df.select("doc_id", "_lsn", "_change_type").collect())


def test_stream_from_empty_snapshot_equals_batch_feed_on_compacted_table(
    spark, tmp_path, compacted
):
    """A stream from version 0 is a fresh bootstrap: purged tombstones
    are net-zero from the empty snapshot, so the retention gate must not
    refuse it — exactly as read_changes(since_version=0) does not."""
    t = compacted
    want = _canon(t.read_changes(spark, since_version=0))
    assert want

    feed = read_feed_stream(spark, t.root, start_version=0)
    q = (
        feed.writeStream.format("memory")
        .queryName("feed_plan_v0")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive and q.exception() is None
    assert _canon(spark.sql("SELECT * FROM feed_plan_v0")) == want


def test_both_feeds_refuse_a_span_past_the_purge_point(spark, compacted):
    t = compacted
    with pytest.raises(ValueError, match="predates a compaction"):
        t.read_changes(spark, since_version=1)
    reader = LakeFeedStreamReader({"path": t.root, "startversion": "1"})
    with pytest.raises(ValueError, match="predates a compaction"):
        reader.partitions({"version": 1}, {"version": t.version})
    # the empty-snapshot exemption holds for the planner the stream uses
    assert reader.partitions({"version": 0}, {"version": t.version})
