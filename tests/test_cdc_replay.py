"""End-to-end CDC replay: token-array equality vs the pandas oracle,
idempotency, kill-and-resume, non-empty base with deletes, schema
evolution, lineage/manifest contents (SURVEY.md §5 test plan)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.cdc.lineage import read_lineage
from medallion_etl_spark.cdc.manifest import manifest_df
from medallion_etl_spark.cdc.replay import replay
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.synth import gen_docs, gen_events, write_events_shuffled

from .cdc_oracle import assert_frames_equal, expected_final_state

pytestmark = pytest.mark.smoke

N_EVENTS = 8_000
N_KEYS = 600


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events") / "stream")
    df = gen_events(spark, n_events=N_EVENTS, n_keys=N_KEYS, hot_fraction=0.25, n_hot=3)
    write_events_shuffled(df, path, n_files=8)
    return path


@pytest.fixture(scope="module")
def events_pdf(spark, events_path):
    return spark.read.parquet(events_path).toPandas()


def _read_table(spark, table):
    return table.read(spark).toPandas()


def test_straight_replay_matches_oracle(spark, tmp_path, events_path, events_pdf):
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    events = spark.read.parquet(events_path)
    res = replay(spark, events, table, chunk_size=2_000)
    assert res["batches_applied"] == res["planned_chunks"] == 4
    table = LakeTable.load(table.root)
    assert_frames_equal(_read_table(spark, table), expected_final_state(events_pdf))
    # schema evolved along the way: v3 (lang present, n_tok is long)
    assert table.schema_version == 3
    assert dict(table.read(spark).dtypes)["n_tok"] == "bigint"


def test_replay_is_idempotent(spark, tmp_path, events_path, events_pdf):
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    events = spark.read.parquet(events_path)
    replay(spark, events, table, chunk_size=2_000)
    v1 = LakeTable.load(table.root).version
    res2 = replay(spark, events, LakeTable.load(table.root), chunk_size=2_000)
    assert res2["batches_applied"] == 0
    table2 = LakeTable.load(table.root)
    assert table2.version == v1  # no new snapshot
    assert_frames_equal(_read_table(spark, table2), expected_final_state(events_pdf))


def test_kill_and_resume(spark, tmp_path, events_path, events_pdf):
    """Apply half the chunks, 'die', resume from the manifest: final
    state identical to an uninterrupted replay."""
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    events = spark.read.parquet(events_path)
    partial = replay(spark, events, table, chunk_size=1_000, max_batches=3)
    assert partial["batches_applied"] == 3
    # resume with a freshly loaded table (nothing carried in memory)
    resumed = LakeTable.load(table.root)
    assert len(resumed.committed_batches()) == 3
    res = replay(spark, events, resumed, chunk_size=1_000)
    assert res["batches_applied"] == res["planned_chunks"] - 3
    assert_frames_equal(
        _read_table(spark, LakeTable.load(table.root)), expected_final_state(events_pdf)
    )


def test_replay_onto_nonempty_base(spark, tmp_path, events_path, events_pdf):
    """Seed the table with a base snapshot, then replay: touched keys
    get the stream's last word, untouched keys survive byte-identical,
    deleted keys disappear."""
    root = str(tmp_path / "t")
    table = LakeTable.create(root, n_buckets=8)
    base = gen_docs(spark, n_docs=N_KEYS + 300)  # 300 keys the stream never touches
    base_ev = (
        base.withColumn("lsn", F.lit(-1).cast("long"))
        .withColumn("op", F.lit("I"))
        .withColumn("lang", F.lit(None).cast("string"))
        .withColumn("schema_version", F.lit(1))
    )
    from medallion_etl_spark.cdc.apply import apply_batch

    apply_batch(spark, table, base_ev, batch_id=-1, lsn_lo=-1, lsn_hi=-1)
    base_pdf = base.toPandas()

    events = spark.read.parquet(events_path)
    replay(spark, events, LakeTable.load(root), chunk_size=4_000)
    got = _read_table(spark, LakeTable.load(root))
    assert_frames_equal(got, expected_final_state(events_pdf, base_pdf))
    # deletes actually removed keys that existed in base
    deleted = expected_final_state(events_pdf)  # survivors of the stream
    last = events_pdf.sort_values("lsn").drop_duplicates("doc_id", keep="last")
    del_keys = set(last[last["op"] == "D"]["doc_id"])
    assert del_keys and not (set(got["doc_id"]) & del_keys)
    assert len(deleted) > 0


def test_manifest_and_lineage(spark, tmp_path, events_path):
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    events = spark.read.parquet(events_path)
    replay(spark, events, table, chunk_size=2_000)
    table = LakeTable.load(table.root)
    man = manifest_df(spark, table).toPandas().sort_values("batch_id")
    assert man["batch_id"].tolist() == [0, 1, 2, 3]
    assert man["lsn_lo"].tolist() == [0, 2000, 4000, 6000]
    assert man["lsn_hi"].tolist() == [1999, 3999, 5999, 7999]
    lin = read_lineage(spark, table.root).toPandas()
    assert set(lin["batch_id"]) == {0, 1, 2, 3}
    # lineage rows applied per batch == events deduped per chunk; ranges nest
    assert (lin["lsn_lo"] >= lin["batch_id"] * 2000).all()
    assert (lin["lsn_hi"] <= lin["batch_id"] * 2000 + 1999).all()
    assert (lin["rows_applied"] > 0).all()
    assert (lin[lin["bytes_written"] > 0]["rows_applied"] > 0).all()


@pytest.mark.parametrize("merge_path", ["broadcast", "agg"])
def test_merge_path_invariance(spark, tmp_path, events_path, events_pdf, merge_path):
    """Both physical merge plans — broadcast semi-join and the shuffle
    LWW reduction — produce the identical final state."""
    table = LakeTable.create(str(tmp_path / f"t_{merge_path}"), n_buckets=4)
    events = spark.read.parquet(events_path)
    replay(spark, events, table, chunk_size=4_000, merge_path=merge_path)
    assert_frames_equal(
        _read_table(spark, LakeTable.load(table.root)), expected_final_state(events_pdf)
    )


def _single_key_stream(spark):
    """Every event hits one doc_id across 3 chunks of 40 LSNs: a delete
    closing chunk 1 and re-inserted at the start of chunk 2, a delete
    and re-insert inside chunk 3, and the max-LSN event delivered three
    times (a redelivery, twice) inside chunk 3."""
    from medallion_etl_spark.schemas import EVENTS_SCHEMA

    ops = {0: "I", 79: "D", 80: "I", 110: "D", 111: "I"}
    rows = [
        (lsn, ops.get(lsn, "U"), "hot", [lsn, 7], lsn % 13, f"s{lsn}", None, 1)
        for lsn in range(120)
    ]
    rows += [rows[-1], rows[-1]]
    return spark.createDataFrame(rows, EVENTS_SCHEMA)


@pytest.mark.parametrize(
    "kw",
    [{"merge_path": "auto"}, {"merge_path": "agg"}, {"write_mode": "mor"}],
    ids=["auto", "agg", "mor"],
)
def test_single_hot_key_reads_back_one_max_lsn_row(spark, tmp_path, kw):
    """All-skew through the engine: every write path reduces a stream
    on ONE key to exactly one stored row carrying the max-LSN payload."""
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=4)
    replay(spark, _single_key_stream(spark), table, chunk_size=40, **kw)
    table = LakeTable.load(table.root)
    if "write_mode" in kw:  # the read folds base ∪ deltas
        assert any(e.get("deltas") for e in table.meta["buckets"].values())
    got = table.read(spark, raw=True).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["doc_id"], r["_lsn"], r["_deleted"]) == ("hot", 119, False)
    assert (list(r["tokens"]), r["n_tok"], r["source"]) == ([119, 7], 119 % 13, "s119")


def test_crash_before_commit_leaves_previous_snapshot(spark, tmp_path, events_path, events_pdf):
    """Simulate a kill after data files land but before the metadata
    swap: the table must still read as the previous snapshot, and a
    resume must converge (BUG-001 in the reference is exactly this
    window done wrong)."""
    root = str(tmp_path / "t")
    table = LakeTable.create(root, n_buckets=8)
    events = spark.read.parquet(events_path)
    replay(spark, events, table, chunk_size=4_000, max_batches=1)
    snap_v = LakeTable.load(root).version
    before = _read_table(spark, LakeTable.load(root))

    # fake the crash: write chunk-2 data files without committing
    orphan = os.path.join(root, "data", f"v{snap_v + 1}")
    events.filter(F.col("lsn") >= 4000).limit(10).write.mode("overwrite").parquet(orphan)
    after = _read_table(spark, LakeTable.load(root))
    assert len(after) == len(before)  # orphan files invisible

    replay(spark, events, LakeTable.load(root), chunk_size=4_000)
    assert_frames_equal(
        _read_table(spark, LakeTable.load(root)), expected_final_state(events_pdf)
    )
