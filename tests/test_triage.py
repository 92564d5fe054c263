"""Change-event triage (cdc/triage.py) as both drivers run it: batch
replay chunks and streaming epochs share one reason expression, one
aggregation, one fail step and one diversion writer.

- every fail check runs before any diversion is written;
- a row that is both malformed and CHECK-violating follows the
  malformed policy only (counted once, diverted once);
- job counts: a CHECK constraint costs a clean replay no job, a
  diverting replay runs the same single triage aggregation as a
  failing one, and a streaming epoch aggregates once before its write;
- a rebucket landing between an epoch's triage and its commit
  re-aggregates under the new layout.
"""

from __future__ import annotations

import os

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException
from pyspark.sql import functions as F

from medallion_etl_spark.cdc import replay as replay_mod
from medallion_etl_spark.cdc.replay import replay
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.streaming import stream_replay as stream_mod
from medallion_etl_spark.streaming.stream_replay import stream_replay
from medallion_etl_spark.synth import gen_events

from .cdc_oracle import assert_frames_equal, expected_final_state

N_EVENTS = 1_200
N_KEYS = 100
CHECK = {"tok_cap": "n_tok <= 40"}


def _violating(df):
    return df.filter((F.col("op") != "D") & (F.col("n_tok") > 40))


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    """clean / bad_op / both: the clean stream alone, plus one bad-op
    row, plus one row that is both malformed (NULL key) and violating
    (n_tok 99 under ``n_tok <= 40``). Each is a directory of 2 files
    so a streaming drain sees them as one epoch."""
    root = tmp_path_factory.mktemp("triage")
    clean = gen_events(spark, n_events=N_EVENTS, n_keys=N_KEYS)
    one = clean.orderBy("lsn").limit(1).withColumn("op", F.lit("U"))
    bad_op = one.withColumn("lsn", F.lit(N_EVENTS).cast("long")).withColumn("op", F.lit("X"))
    both = (
        one.withColumn("lsn", F.lit(N_EVENTS + 1).cast("long"))
        .withColumn("doc_id", F.lit(None).cast("string"))
        .withColumn("n_tok", F.lit(99).cast(one.schema["n_tok"].dataType))
    )
    out = {}
    for name, df in (
        ("clean", clean),
        ("bad_op", clean.unionByName(bad_op)),
        ("both", clean.unionByName(both)),
    ):
        out[name] = str(root / name)
        df.coalesce(2).write.parquet(out[name])
    assert _violating(spark.read.parquet(out["clean"])).count() > 0
    return out


def _quarantine_entries(root: str) -> list[str]:
    qroot = os.path.join(root, "_quarantine")
    return sorted(os.listdir(qroot)) if os.path.isdir(qroot) else []


def test_batch_fails_on_malformed_before_writing_violations(spark, tmp_path, paths):
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=4, constraints=CHECK)
    with pytest.raises(ValueError, match="1 malformed"):
        replay(
            spark,
            spark.read.parquet(paths["bad_op"]),
            table,
            chunk_size=500,
            on_malformed="fail",
            on_violation="quarantine",
        )
    assert _quarantine_entries(table.root) == []
    assert LakeTable.load(table.root).committed_batches() == {}


def test_epoch_fails_on_violations_before_writing_malformed(spark, tmp_path, paths):
    root = str(tmp_path / "t")
    LakeTable.create(root, n_buckets=4, constraints=CHECK)
    with pytest.raises(StreamingQueryException, match="check:tok_cap"):
        stream_replay(
            spark,
            paths["bad_op"],
            root,
            str(tmp_path / "ckpt"),
            on_malformed="quarantine",
            on_violation="fail",
        )
    assert _quarantine_entries(root) == []
    assert LakeTable.load(root).committed_batches() == {}


def _assert_malformed_wins(spark, qroot, mal_dirs, check_dirs, n_viol):
    mal = [spark.read.parquet(os.path.join(qroot, d)) for d in mal_dirs]
    checks = [spark.read.parquet(os.path.join(qroot, d)) for d in check_dirs]
    assert sum(df.count() for df in mal) == 1
    assert [r["_reason"] for df in mal for r in df.select("_reason").collect()] == ["null_key"]
    assert sum(df.count() for df in checks) == n_viol
    for df in checks:
        assert df.filter(F.col("doc_id").isNull()).count() == 0
        assert {r["_reason"] for r in df.select("_reason").distinct().collect()} == {"check:tok_cap"}


def test_malformed_wins_in_batch_replay(spark, tmp_path, paths):
    n_viol = _violating(spark.read.parquet(paths["clean"])).count()
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=4, constraints=CHECK)
    res = replay(
        spark,
        spark.read.parquet(paths["both"]),
        table,
        chunk_size=500,
        on_malformed="quarantine",
        on_violation="quarantine",
    )
    assert res["rows_quarantined"] == 1
    assert res["rows_violating"] == n_viol
    qroot = os.path.dirname(res["quarantine_path"])
    assert os.path.basename(res["violations_path"]) == os.path.basename(res["quarantine_path"]) + "-checks"
    _assert_malformed_wins(
        spark, qroot, [os.path.basename(res["quarantine_path"])], [os.path.basename(res["violations_path"])], n_viol
    )
    passing = spark.read.parquet(paths["clean"]).filter(
        (F.col("op") == "D") | F.col("n_tok").isNull() | (F.col("n_tok") <= 40)
    )
    assert_frames_equal(
        LakeTable.load(table.root).read(spark).toPandas(), expected_final_state(passing.toPandas())
    )


def test_malformed_wins_in_streaming(spark, tmp_path, paths):
    n_viol = _violating(spark.read.parquet(paths["clean"])).count()
    root = str(tmp_path / "t")
    LakeTable.create(root, n_buckets=4, constraints=CHECK)
    totals = stream_replay(
        spark,
        paths["both"],
        root,
        str(tmp_path / "ckpt"),
        on_malformed="quarantine",
        on_violation="quarantine",
    )
    assert totals["rows_quarantined"] == 1
    assert totals["rows_violating"] == n_viol
    entries = _quarantine_entries(root)
    checks = [d for d in entries if d.endswith("-checks")]
    mal = [d for d in entries if not d.endswith("-checks")]
    assert mal and all(d.startswith("epoch-") for d in entries)
    _assert_malformed_wins(spark, os.path.join(root, "_quarantine"), mal, checks, n_viol)


class _Stop(Exception):
    pass


def _jobs(spark, group, fn) -> int:
    """Spark jobs ``fn`` launches from this thread."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_check_constraint_costs_a_clean_replay_no_job(spark, tmp_path, paths):
    def run(name, constraints):
        table = LakeTable.create(str(tmp_path / name), n_buckets=4, constraints=constraints)
        events = spark.read.parquet(paths["clean"])
        return _jobs(spark, f"triage-{name}", lambda: replay(spark, events, table, chunk_size=500))

    assert run("with", {"tok_sane": "n_tok <= 1000"}) == run("without", None)


def _stop(*_a, **_k):
    raise _Stop


def test_diverting_replay_runs_one_triage_aggregation(spark, tmp_path, paths, monkeypatch):
    """Up to the first chunk's apply a replay runs its chunk-planning
    bounds job and ONE triage aggregation, whatever the policies: the
    quarantine/drop policies ride the same aggregation as 'fail'."""
    events = spark.read.parquet(paths["clean"]).filter(F.col("n_tok") <= 40)
    monkeypatch.setattr(replay_mod, "apply_batch", _stop)

    def jobs(name, **policies):
        table = LakeTable.create(str(tmp_path / name), n_buckets=4, constraints=CHECK)
        return _jobs(
            spark,
            f"triage-{name}",
            lambda: pytest.raises(_Stop, replay, spark, events, table, chunk_size=500, **policies),
        )

    failing = jobs("fail")
    assert jobs("quarantine", on_malformed="quarantine", on_violation="quarantine") == failing
    assert jobs("drop", on_malformed="drop", on_violation="drop") == failing


def _marker_job(spark) -> int:
    """Run a one-job marker and return its id. Job ids are sequential
    per SparkContext, so two markers bracket every job launched in
    between, from any thread (a streaming query runs its epochs on its
    own)."""
    sc = spark.sparkContext
    sc.setJobGroup("triage-marker", "marker")
    try:
        sc.parallelize([0], 1).count()
        return max(sc.statusTracker().getJobIdsForGroup("triage-marker"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_epoch_aggregates_once_before_its_write(spark, tmp_path, paths, monkeypatch):
    """A streaming epoch launches exactly the jobs of one stats
    aggregation before its merge write — the same count a direct
    ``apply_batch`` runs for its own stats — and nothing more."""
    from medallion_etl_spark.cdc.apply import apply_batch

    root = str(tmp_path / "t")
    LakeTable.create(root, n_buckets=4, constraints=CHECK)
    monkeypatch.setattr(LakeTable, "new_data_dir", _stop)

    before = _marker_job(spark)
    with pytest.raises(StreamingQueryException, match="_Stop"):
        stream_replay(spark, paths["clean"], root, str(tmp_path / "ckpt"), on_violation="drop")
    epoch_jobs = _marker_job(spark) - before - 1

    events = spark.read.parquet(paths["clean"]).filter(F.col("n_tok") <= 40)
    direct = _jobs(
        spark,
        "triage-direct",
        lambda: pytest.raises(_Stop, apply_batch, spark, LakeTable.load(root), events, 0, 0, N_EVENTS),
    )
    assert epoch_jobs == direct


def test_epoch_recomputes_stats_after_concurrent_shrink_rebucket(spark, tmp_path, monkeypatch):
    """The streaming twin of the batch replayer's race: an 8 -> 5
    rebucket() commits between an epoch's triage aggregation and its
    commit. The epoch's fork/rewind retry must reload, re-aggregate
    its stats under the new layout (stale ids would merge a partial
    base) and land on exactly the clean-replay state."""
    root = str(tmp_path / "t")
    events = gen_events(spark, n_events=4_000, n_keys=300)
    LakeTable.create(root, n_buckets=8)
    replay(spark, events.filter("lsn < 1000"), LakeTable.load(root), chunk_size=1_000)
    stream_dir = str(tmp_path / "stream")
    events.filter("lsn >= 1000").repartition(4, "lsn").write.parquet(stream_dir)

    real_apply = stream_mod.apply_batch
    raced = []

    def racing_apply(spark_, table, *args, **kwargs):
        if not raced:
            raced.append(LakeTable.load(root).rebucket(spark_, 5))
        return real_apply(spark_, table, *args, **kwargs)

    monkeypatch.setattr(stream_mod, "apply_batch", racing_apply)
    totals = stream_replay(spark, stream_dir, root, str(tmp_path / "ckpt"), max_files_per_trigger=2)
    monkeypatch.undo()
    assert raced and totals["epochs"] == 2

    final = LakeTable.load(root)
    assert final.n_buckets == 5
    clean_root = str(tmp_path / "clean")
    replay(spark, events, LakeTable.create(clean_root, n_buckets=5), chunk_size=1_000)
    got = sorted(tuple(r) for r in final.read(spark).collect())
    want = sorted(tuple(r) for r in LakeTable.load(clean_root).read(spark).collect())
    assert got == want
