"""Streaming change-feed source (PySpark Python Data Source API):
stream output ≡ batch `read_changes`, checkpointed resume emits only
new changes, and per-batch scans are bucket-pruned (partition planning
is a metadata diff). See streaming/feed_source.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.cdc.apply import apply_batch
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.streaming.feed_source import (
    LakeFeedStreamReader,
    read_feed_stream,
)
from medallion_etl_spark.synth import gen_events


def _apply(spark, table, events, batch_id, lo, hi):
    chunk = events.filter(F.col("lsn").between(lo, hi))
    apply_batch(
        spark, table, chunk, batch_id=batch_id, lsn_lo=lo, lsn_hi=hi
    )
    return LakeTable.load(table.root)


@pytest.fixture()
def built(spark, tmp_path):
    events = gen_events(spark, n_events=3_000, n_keys=300).cache()
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    table = _apply(spark, table, events, 0, 0, 1_499)
    table = _apply(spark, table, events, 1, 1_500, 2_999)
    return table, events


def _drain(spark, table_root, sink_name, ckpt, start_version=0):
    feed = read_feed_stream(spark, table_root, start_version=start_version)
    q = (
        feed.writeStream.format("memory")
        .queryName(sink_name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    return spark.sql(f"SELECT * FROM {sink_name}")


def _canon(df):
    return sorted(
        (r["doc_id"], r["_lsn"], r["_change_type"]) for r in df.collect()
    )


def test_stream_equals_batch_change_feed(spark, built, tmp_path):
    table, _ = built
    got = _drain(spark, table.root, "feed_all", str(tmp_path / "ck1"), start_version=1)
    want = table.read_changes(spark, since_version=1)
    assert _canon(got) == _canon(want)
    # full-history stream from version 0 == current snapshot as changes
    got0 = _drain(spark, table.root, "feed_zero", str(tmp_path / "ck0"), start_version=0)
    want0 = table.read_changes(spark, since_version=0)
    assert _canon(got0) == _canon(want0)


def _drain_to_parquet(spark, table_root, out, ckpt):
    """memory sink can't recover from a checkpoint; the file sink can —
    this is the resume-capable drain."""
    feed = read_feed_stream(spark, table_root)
    q = (
        feed.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    return spark.read.parquet(out)


def test_checkpointed_resume_emits_only_new_changes(spark, built, tmp_path):
    table, events = built
    ckpt = str(tmp_path / "ck_resume")
    out = str(tmp_path / "feed_out")
    first = _drain_to_parquet(spark, table.root, out, ckpt)
    n_first = first.count()
    assert n_first > 0

    v_before = table.version
    # a third batch: bump every key seen in a narrow slice
    table = _apply(
        spark,
        table,
        events.withColumn("lsn", F.col("lsn") + F.lit(10_000)).filter(
            F.col("lsn").between(10_000, 10_199)
        ),
        2,
        10_000,
        10_199,
    )
    again = _drain_to_parquet(spark, table.root, out, ckpt)
    new_rows = [r for r in again.collect() if r["_lsn"] > 9_999]
    want = table.read_changes(spark, since_version=v_before)
    assert sorted((r["doc_id"], r["_lsn"]) for r in new_rows) == sorted(
        (r["doc_id"], r["_lsn"]) for r in want.collect()
    )
    # no duplicates of the first drain's rows
    assert again.count() == n_first + len(new_rows)


def test_mid_stream_schema_evolution_fails_loudly(built):
    """A bucket written with a NEWER schema than the query started
    with must fail the stream (narrowing casts could corrupt values),
    not silently coerce — Delta's fail-on-schema-change behavior."""
    from medallion_etl_spark.streaming.feed_source import FeedPartition

    table, _ = built
    reader = LakeFeedStreamReader({"path": table.root})
    some_dir = next(iter(table.meta["buckets"].values()))["dir"]
    part = FeedPartition(
        sources=[(f"{table.root}/{some_dir}", 3)],
        key_col="doc_id",
        target_schema_version=2,
        watermark_lsn=-1,
        schemas_json={v: st.jsonValue() for v, st in table.schemas.items()},
    )
    with pytest.raises(ValueError, match="evolved mid-stream"):
        next(reader.read(part))


def test_schema_evolution_restart_continues(spark, tmp_path):
    """The evolution contract end-to-end: a run started before an
    evolution fails loudly on the evolved bucket (covered above); a
    RESTART from the same checkpoint re-pins the query schema at the
    new version and continues from the checkpointed offset — consumed
    changes are not re-emitted, new changes carry the added column,
    and pre-evolution files align (added column -> NULL)."""
    events = gen_events(spark, n_events=2_000, n_keys=200).cache()
    v1_events = events.withColumn("schema_version", F.lit(1)).withColumn(
        "lang", F.lit(None).cast("string")
    )
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    table = _apply(spark, table, v1_events, 0, 0, 1_999)
    assert table.schema_version == 1

    ckpt = str(tmp_path / "ck_evolve")
    out = str(tmp_path / "feed_evolve_out")
    first = _drain_to_parquet(spark, table.root, out, ckpt)
    n_first = first.count()
    assert n_first > 0 and "lang" not in first.columns

    # evolve: v2 batch (adds `lang`) over a narrow key slice
    v_before = table.version
    v2_events = (
        events.filter(F.col("lsn") < 150)
        .withColumn("lsn", F.col("lsn") + F.lit(50_000))
        .withColumn("schema_version", F.lit(2))
        .withColumn("lang", F.lit("es"))
    )
    table = _apply(spark, table, v2_events, 1, 50_000, 50_149)
    assert table.schema_version == 2

    # fresh query, SAME checkpoint: restart-and-continue
    again = spark.read.option("mergeSchema", "true").parquet(out)
    pre_restart = again.count()
    assert pre_restart == n_first  # nothing written between drains
    again = _drain_to_parquet(spark, table.root, out, ckpt)
    again = spark.read.option("mergeSchema", "true").parquet(out)
    new_rows = [r for r in again.collect() if r["_lsn"] >= 50_000]
    want = table.read_changes(spark, since_version=v_before).collect()
    assert sorted((r["doc_id"], r["_lsn"], r["lang"]) for r in new_rows) == sorted(
        (r["doc_id"], r["_lsn"], r["lang"]) for r in want
    )
    assert all(r["lang"] == "es" for r in new_rows if r["_change_type"] == "upsert")
    # no re-emission of the first drain's rows
    assert again.count() == n_first + len(new_rows)


def test_partition_planning_is_bucket_diff(spark, built):
    table, _ = built
    reader = LakeFeedStreamReader({"path": table.root, "startversion": "0"})
    assert reader.latestOffset() == {"version": 2}
    parts = reader.partitions({"version": 1}, {"version": 2})
    # only buckets rewritten by batch 1 are planned
    changed_dirs = {
        e["dir"]
        for b, e in table.meta["buckets"].items()
        if LakeTable.load_version(table.root, 1).meta["buckets"].get(b, {}).get("dir")
        != e["dir"]
    }
    assert len(parts) == len(changed_dirs) > 0
    assert reader.partitions({"version": 2}, {"version": 2}) == []


def test_feed_refuses_to_span_a_restore(spark, built, tmp_path):
    """A RESTORE inside the offset span resurrects rows at pre-restore
    LSNs, which the feed's watermark pruning cannot represent — the
    partition planner must fail the query (same contract as the batch
    read_changes restore gate), and a stream starting AT the restore
    commit works."""
    from medallion_etl_spark.streaming.feed_source import LakeFeedStreamReader

    table, _ = built
    LakeTable.load(table.root).restore(1)

    reader = LakeFeedStreamReader({"path": table.root})
    with pytest.raises(ValueError, match="RESTORE"):
        reader.partitions({"version": 1}, {"version": 3})

    # starting at the restore commit is fine (span contains no restore)
    got = _drain(spark, table.root, "feed_post_restore", str(tmp_path / "ckr"), start_version=3)
    assert got.count() == 0  # nothing committed after the restore yet
