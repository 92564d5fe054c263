"""One commit record per version document: ``LakeTable.commit`` writes
the batches a version added, its bucket diff and its lineage rows into
that version's own ``version-N.json``, in the same swap as the data.
Lineage and ``history()`` read these records, so they follow what is
committed through write-audit-publish, restore, clone and a kill right
after the swap."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.cdc import metalog
from medallion_etl_spark.cdc.apply import apply_batch
from medallion_etl_spark.cdc.lineage import read_lineage
from medallion_etl_spark.cdc.replay import replay
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.synth import gen_events

N_EVENTS = 3_000
N_KEYS = 200
CHUNK = 1_000
FACTS = ["partition_id", "lsn_lo", "lsn_hi", "rows_applied"]


@pytest.fixture()
def events(spark):
    return gen_events(spark, n_events=N_EVENTS, n_keys=N_KEYS).cache()


def _replay(spark, events, root: str, upto: int = N_EVENTS) -> LakeTable:
    table = LakeTable.load(root) if LakeTable.exists(root) else LakeTable.create(root, n_buckets=8)
    replay(spark, events.filter(F.col("lsn") < upto), table, chunk_size=CHUNK)
    return LakeTable.load(root)


def _lineage(spark, root: str):
    return read_lineage(spark, root).toPandas().sort_values(["batch_id", "partition_id"])


def _facts(lin, batch_id: int) -> list[tuple]:
    return [tuple(int(v) for v in r) for r in lin[lin["batch_id"] == batch_id][FACTS].values]


def test_publish_carries_the_staged_lineage(spark, tmp_path, events):
    """The write-audit-publish shape of tests/test_wap.py: the source
    holds chunks 0-1, the stage (a clone) applies chunk 2, a control
    table replays everything directly."""
    src_root, stage_root = str(tmp_path / "src"), str(tmp_path / "stage")
    _replay(spark, events, src_root, upto=2 * CHUNK).clone_to(stage_root)
    _replay(spark, events, stage_root)
    ctl = _lineage(spark, _replay(spark, events, str(tmp_path / "ctl")).root)

    # a clone's lineage starts at its own version 0
    assert set(_lineage(spark, stage_root)["batch_id"]) == {2}

    src = LakeTable.load(src_root)
    src.publish_from(stage_root)
    head = LakeTable.load(src_root)
    lin = _lineage(spark, src_root)
    assert sorted(set(lin["batch_id"])) == sorted(head.committed_batches()) == [0, 1, 2]
    assert _facts(lin, 2) == _facts(ctl, 2)
    assert head.history()[-1]["batches_added"] == [2]


def test_restore_drops_the_undone_batches_lineage(spark, tmp_path, events):
    root = str(tmp_path / "t")
    table = _replay(spark, events, root)
    full = _lineage(spark, root)
    table.restore(1)
    assert sorted(LakeTable.load(root).committed_batches()) == [0]
    assert set(_lineage(spark, root)["batch_id"]) == {0}

    # re-applying the undone chunks writes their rows again: one row
    # set per batch and bucket, equal to the first application's
    _replay(spark, events, root)
    lin = _lineage(spark, root)
    assert not lin.duplicated(["batch_id", "partition_id"]).any()
    assert [_facts(lin, b) for b in (0, 1, 2)] == [_facts(full, b) for b in (0, 1, 2)]


class _Killed(BaseException):
    """A process death right after the pointer swap: not an Exception,
    so no engine handler catches it."""


def test_a_kill_after_the_swap_keeps_the_lineage(spark, tmp_path, events, monkeypatch):
    root = str(tmp_path / "t")
    table = _replay(spark, events, root, upto=CHUNK)
    real_commit = metalog.commit

    def commit_then_die(*args, **kwargs):
        real_commit(*args, **kwargs)
        raise _Killed

    monkeypatch.setattr(metalog, "commit", commit_then_die)
    with pytest.raises(_Killed):
        apply_batch(spark, table, events.filter(F.col("lsn").between(CHUNK, 2 * CHUNK - 1)),
                    1, CHUNK, 2 * CHUNK - 1)
    monkeypatch.undo()

    reloaded = LakeTable.load(root)
    assert reloaded.is_committed(1)
    lin = _lineage(spark, root)
    assert set(lin["batch_id"]) == {0, 1}
    assert sum(r[3] for r in _facts(lin, 1)) == CHUNK  # every event of the chunk


def test_each_version_records_only_its_own_batch(spark, tmp_path, events):
    root = str(tmp_path / "t")
    table = _replay(spark, events, root)
    assert not os.path.exists(os.path.join(root, "lineage"))
    for v in range(1, table.version + 1):
        with open(os.path.join(root, "metadata", f"version-{v}.json")) as f:
            rec = json.load(f)["commit"]
        assert rec["batches"] == [v - 1]
        assert rec["buckets_changed"] > 0
        assert rec["lineage"] and {r["batch_id"] for r in rec["lineage"]} == {v - 1}
    with open(os.path.join(root, "metadata", "version-0.json")) as f:
        assert json.load(f)["commit"] == {"batches": [], "buckets_changed": 0, "lineage": []}
