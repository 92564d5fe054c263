"""Time travel (`LakeTable.load_version`) and the incremental change
feed (`LakeTable.read_changes`): snapshot isolation, net-change
semantics, bucket-diff pruning, and the fork-protection commit guard.
These are the format's Iceberg-snapshot-read / Delta-CDF analogs,
derived purely from retained metadata versions + `_lsn` bookkeeping
(see cdc/table.py docstrings)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.cdc.apply import apply_batch
from medallion_etl_spark.cdc.replay import replay
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.synth import gen_events, write_events_shuffled

N_EVENTS = 6_000
N_KEYS = 500


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tt_events") / "stream")
    df = gen_events(spark, n_events=N_EVENTS, n_keys=N_KEYS, hot_fraction=0.25, n_hot=3)
    write_events_shuffled(df, path, n_files=4)
    return path


@pytest.fixture()
def replayed(spark, tmp_path, events_path):
    """Table built in 3 chunks -> versions 0..3, one per commit."""
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    events = spark.read.parquet(events_path)
    replay(spark, events, table, chunk_size=2_000)
    return LakeTable.load(table.root), events


def test_load_version_reproduces_each_snapshot(spark, replayed):
    table, events = replayed
    assert table.version == 3
    # each historical snapshot must equal the state after replaying
    # only the batches committed as of that version
    for v in range(4):
        snap = LakeTable.load_version(table.root, v)
        wm = snap.max_committed_lsn()
        snap_keys = {
            r["doc_id"] for r in snap.read(spark).select("doc_id").collect()
        }
        # rebuild the expectation from the event stream cut at the
        # snapshot watermark: latest op per key, deletes excluded
        cut = (
            events.filter(F.col("lsn") <= F.lit(wm))
            .groupBy("doc_id")
            .agg(F.max_by("op", "lsn").alias("op"))
        )
        want = {r["doc_id"] for r in cut.filter(F.col("op") != "D").collect()}
        assert snap_keys == want, f"version {v} snapshot mismatch"


def test_change_feed_is_net_change_between_snapshots(spark, replayed):
    table, events = replayed
    old = LakeTable.load_version(table.root, 1)
    wm = old.max_committed_lsn()
    feed = table.read_changes(spark, since_version=1)
    rows = feed.collect()
    # every feed row is newer than the snapshot watermark
    assert all(r["_lsn"] > wm for r in rows)
    # net change: exactly one row per key that changed after wm
    per_key = (
        events.filter(F.col("lsn") > F.lit(wm))
        .groupBy("doc_id")
        .agg(F.max("lsn").alias("lsn"), F.max_by("op", "lsn").alias("op"))
        .collect()
    )
    want = {(r["doc_id"], r["lsn"], "delete" if r["op"] == "D" else "upsert") for r in per_key}
    got = {(r["doc_id"], r["_lsn"], r["_change_type"]) for r in rows}
    assert got == want


def test_change_feed_from_head_is_empty(spark, replayed):
    table, _ = replayed
    assert table.read_changes(spark, table.version).count() == 0


def test_change_feed_prunes_untouched_buckets(spark, tmp_path):
    """A commit that touches one bucket must produce a feed that scans
    only that bucket's files (metadata diff, not a table scan)."""
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    base = gen_events(spark, n_events=4_000, n_keys=400)
    apply_batch(
        spark, table, base, batch_id=0, lsn_lo=0,
        lsn_hi=4_000,
    )
    table = LakeTable.load(table.root)
    v_before = table.version
    one_key = base.select("doc_id").first()["doc_id"]
    delta = base.filter(F.col("doc_id") == one_key).withColumn(
        "lsn", F.col("lsn") + F.lit(10_000)
    )
    apply_batch(
        spark, table, delta, batch_id=1, lsn_lo=10_000,
        lsn_hi=20_000,
    )
    table = LakeTable.load(table.root)
    feed = table.read_changes(spark, since_version=v_before)
    # physical pruning: the scan's input files must all come from the
    # single rewritten bucket's dir — the 7 untouched buckets' files
    # (written by commit v1) are never opened
    touched_dirs = {
        e["dir"] for b, e in table.meta["buckets"].items()
        if LakeTable.load_version(table.root, v_before).meta["buckets"].get(b, {}).get("dir")
        != e["dir"]
    }
    assert len(touched_dirs) == 1
    (touched,) = touched_dirs
    assert all(touched in f for f in feed.inputFiles())
    got = feed.select("doc_id", "_change_type").collect()
    assert {r["doc_id"] for r in got} == {one_key}
    assert all(r["_change_type"] == "upsert" for r in got)


def test_lookup_reads_only_hashed_buckets(spark, replayed):
    table, _ = replayed
    rows = table.read(spark).select("doc_id").limit(3).collect()
    keys = [r["doc_id"] for r in rows]
    got = table.lookup(spark, keys)
    assert {r["doc_id"] for r in got.collect()} == set(keys)
    # physical pruning: input files limited to the keys' bucket dirs
    from medallion_etl_spark.cdc.table import bucket_expr

    kdf = spark.createDataFrame([(k,) for k in keys], "doc_id string")
    want_buckets = {
        r["b"] for r in kdf.select(bucket_expr("doc_id", table.n_buckets).alias("b")).collect()
    }
    allowed_dirs = {
        e["dir"] for b, e in table.meta["buckets"].items() if int(b) in want_buckets
    }
    assert all(any(d in f for d in allowed_dirs) for f in got.inputFiles())
    assert len({f.rsplit("/", 2)[1] for f in got.inputFiles()}) <= len(want_buckets) * 2

    assert table.lookup(spark, []).count() == 0


def test_commit_from_stale_snapshot_refuses(spark, replayed):
    table, _ = replayed
    stale = LakeTable.load_version(table.root, 1)
    with pytest.raises(RuntimeError, match="fork/rewind"):
        stale.commit({}, set(), None)


def test_expire_snapshots_reclaims_unreferenced_data(spark, replayed):
    import os

    table, _ = replayed
    before_state = sorted(tuple(r) for r in table.read(spark).collect())
    res = table.expire_snapshots(keep_last=2, grace_seconds=0)
    assert res["expired_versions"] == [0, 1]
    assert res["retained_versions"] == [2, 3]
    assert len(res["removed_dirs"]) > 0
    for rel in res["removed_dirs"]:
        assert not os.path.exists(os.path.join(table.root, rel))

    # current snapshot unharmed; retained time travel + feed still work
    table = LakeTable.load(table.root)
    assert sorted(tuple(r) for r in table.read(spark).collect()) == before_state
    assert LakeTable.load_version(table.root, 2).read(spark).count() > 0
    assert table.read_changes(spark, since_version=2).count() > 0
    with pytest.raises(ValueError, match="no snapshot"):
        LakeTable.load_version(table.root, 1)

    # idempotent: a second expiry has nothing left to remove
    res2 = table.expire_snapshots(keep_last=2, grace_seconds=0)
    assert res2["removed_dirs"] == [] and res2["expired_versions"] == []


def test_change_feed_retention_gate(spark, replayed):
    """A compaction that purges tombstones past a snapshot's watermark
    makes that snapshot's change feed incomplete — the feed must raise,
    not silently drop deletes."""
    table, _ = replayed
    wm_v1 = LakeTable.load_version(table.root, 1).max_committed_lsn()
    table.compact(spark, watermark_lsn=wm_v1 + 100)
    table = LakeTable.load(table.root)
    assert int(table.meta["compaction_watermark_lsn"]) == wm_v1 + 100
    with pytest.raises(ValueError, match="predates a compaction"):
        table.read_changes(spark, since_version=1)
    # explicit opt-in still reads (upserts are complete)
    assert table.read_changes(spark, since_version=1, allow_incomplete=True).count() >= 0
    # the streaming source enforces the same gate at planning time
    from medallion_etl_spark.streaming.feed_source import LakeFeedStreamReader

    reader = LakeFeedStreamReader({"path": table.root, "startversion": "1"})
    with pytest.raises(ValueError, match="predates a compaction"):
        reader.partitions({"version": 1}, {"version": table.version})
    # a post-compaction snapshot is past the purge point: feed is fine
    assert table.read_changes(spark, since_version=table.version).count() == 0


def test_compact_clusters_buckets_by_key(spark, replayed):
    """compact() sorts rows by key within each bucket file, so parquet
    min/max key stats support row-group pruning for lookups."""
    import pyarrow.parquet as pq

    table, _ = replayed
    table.compact(spark, watermark_lsn=0)
    table = LakeTable.load(table.root)
    checked = 0
    for entry in table.meta["buckets"].values():
        bdir = f"{table.root}/{entry['dir']}"
        import os

        for fn in os.listdir(bdir):
            if not fn.endswith(".parquet"):
                continue
            ids = pq.read_table(os.path.join(bdir, fn), columns=["doc_id"])[
                "doc_id"
            ].to_pylist()
            assert ids == sorted(ids)
            checked += 1
    assert checked >= 4


def test_load_version_missing_raises(replayed):
    table, _ = replayed
    with pytest.raises(ValueError, match="no snapshot"):
        LakeTable.load_version(table.root, 99)


def test_remove_orphans_age_guard(spark, replayed):
    """remove_orphans deletes only unreferenced dirs idle past the
    threshold: a crashed attempt's old dir goes, an in-flight writer's
    fresh dir stays, every referenced dir and snapshot survives."""
    import os
    import time

    table, _ = replayed
    data_dir = os.path.join(table.root, "data")

    old_orphan = os.path.join(data_dir, "v99-deadbeef", "_bucket=0")
    os.makedirs(old_orphan)
    with open(os.path.join(old_orphan, "part-0.parquet"), "w") as f:
        f.write("junk")
    stale = time.time() - 10 * 3600
    os.utime(os.path.join(old_orphan, "part-0.parquet"), (stale, stale))

    fresh_orphan = os.path.join(data_dir, "v99-cafebabe", "_bucket=1")
    os.makedirs(fresh_orphan)
    with open(os.path.join(fresh_orphan, "part-0.parquet"), "w") as f:
        f.write("inflight")

    before_rows = table.read(spark).count()
    res = table.remove_orphans(older_than_seconds=3600)
    assert res["removed_dirs"] == [os.path.join("data", "v99-deadbeef", "_bucket=0")]
    assert res["kept_recent"] == [os.path.join("data", "v99-cafebabe", "_bucket=1")]
    assert not os.path.exists(old_orphan)
    assert not os.path.exists(os.path.dirname(old_orphan))  # empty vdir pruned
    assert os.path.exists(fresh_orphan)

    # nothing referenced was touched: current read + every snapshot
    table = LakeTable.load(table.root)
    assert table.read(spark).count() == before_rows
    for v in range(table.version + 1):
        LakeTable.load_version(table.root, v).read(spark).count()

    # the fresh orphan is reclaimed once it ages past the guard
    res2 = table.remove_orphans(older_than_seconds=0)
    assert res2["removed_dirs"] == [os.path.join("data", "v99-cafebabe", "_bucket=1")]
    assert not os.path.exists(fresh_orphan)


def test_history_lists_every_commit(spark, replayed):
    """history() = one record per retained snapshot, oldest first:
    the batches each commit added, moved bucket-pointer counts, and
    schema/clustering state — all from metadata, no Spark job."""
    table, _ = replayed
    hist = table.history()
    assert [h["version"] for h in hist] == [0, 1, 2, 3]
    assert hist[0]["batches_added"] == [] and hist[0]["buckets_changed"] == 0
    # each replay chunk commit adds exactly one batch and moves buckets
    added = [h["batches_added"] for h in hist[1:]]
    assert added == [[0], [1], [2]]
    assert all(h["buckets_changed"] > 0 for h in hist[1:])
    # watermarks are monotone and end at the table's current watermark
    lsns = [h["max_committed_lsn"] for h in hist]
    assert lsns == sorted(lsns) and lsns[-1] == table.max_committed_lsn()
    # the synth stream evolves v1 -> v2 -> v3 mid-stream: history must
    # show a non-decreasing schema_version ending at the current one
    svs = [h["schema_version"] for h in hist]
    assert svs == sorted(svs) and svs[-1] == table.schema_version

    # a zorder compaction shows up with its clustering record
    table.compact(spark, watermark_lsn=-1, zorder_by=["n_tok"], zorder_coding="quantile")
    table = LakeTable.load(table.root)
    hist = table.history()
    assert hist[-1]["clustering"] == {
        "kind": "zorder",
        "cols": ["n_tok"],
        "coding": "quantile",
    }
    assert hist[-1]["batches_added"] == []


def test_feed_is_metadata_pruned_across_compaction_and_rebucket(spark, replayed):
    """A compaction or rebucket moves every bucket pointer without
    adding LSNs; the per-bucket max_lsn stat must let read_changes
    answer from METADATA (zero files opened), not a full scan."""
    table, _ = replayed
    v = table.version
    table.compact(spark, watermark_lsn=-1)
    table = LakeTable.load(table.root)
    feed = table.read_changes(spark, since_version=v)
    assert feed.count() == 0
    assert feed.inputFiles() == []

    v = table.version
    table.rebucket(spark, 16)
    table = LakeTable.load(table.root)
    feed = table.read_changes(spark, since_version=v)
    assert feed.count() == 0
    assert feed.inputFiles() == []


def test_history_marks_post_expiry_baseline(spark, replayed):
    """After snapshot expiry the oldest retained version has no
    predecessor on disk, but its own commit record still says what it
    added: its one batch, never all prior batches at once."""
    table, _ = replayed
    table.expire_snapshots(keep_last=2, grace_seconds=0)
    hist = LakeTable.load(table.root).history()
    assert [h["version"] for h in hist] == [2, 3]
    assert hist[0]["batches_added"] == [1] and hist[0]["buckets_changed"] > 0
    assert hist[1]["batches_added"] == [2]


def test_bounded_change_feed_until_version(spark, replayed):
    """Delta-CDF startingVersion/endingVersion pair: a bounded span is
    the until-snapshot's own feed, complete even if LATER compactions
    purged tombstones (COW files of retained versions are immutable)."""
    table, _ = replayed
    wm1 = LakeTable.load_version(table.root, 1).max_committed_lsn()
    wm2 = LakeTable.load_version(table.root, 2).max_committed_lsn()
    rows = table.read_changes(spark, since_version=1, until_version=2).collect()
    assert rows and all(wm1 < r["_lsn"] <= wm2 for r in rows)
    want = LakeTable.load_version(table.root, 2).read_changes(spark, 1).collect()
    assert sorted((r["doc_id"], r["_lsn"], r["_change_type"]) for r in rows) == sorted(
        (r["doc_id"], r["_lsn"], r["_change_type"]) for r in want
    )
    # until == since -> empty; inverted span -> error
    assert table.read_changes(spark, since_version=2, until_version=2).count() == 0
    with pytest.raises(ValueError, match="until_version"):
        table.read_changes(spark, since_version=2, until_version=1)


def test_load_as_of_timestamp(spark, replayed):
    """Delta TIMESTAMP AS OF analog: newest snapshot committed at or
    before the timestamp; unix / datetime / ISO forms agree; a time
    before creation raises."""
    import datetime as dt

    table, _ = replayed
    hist = {h["version"]: h["committed_at_unix"] for h in table.history()}
    assert hist[1] and hist[2] and hist[3]

    assert LakeTable.load_as_of(table.root, hist[2]).version == 2
    # just before version 2's commit -> version 1 (chunks are seconds
    # apart; a sub-millisecond gap would mean the clock never ticked)
    assert LakeTable.load_as_of(table.root, hist[2] - 1e-4).version == 1
    assert LakeTable.load_as_of(table.root, hist[3] + 3600).version == 3

    with pytest.raises(ValueError, match="no snapshot"):
        LakeTable.load_as_of(table.root, 1.0)

    as_dt = dt.datetime.fromtimestamp(hist[3] + 1)
    assert LakeTable.load_as_of(table.root, as_dt).version == 3
    assert LakeTable.load_as_of(table.root, as_dt.isoformat()).version == 3
