"""Quarantine redrive (cdc/redrive.py): remediated bad rows re-enter
the table at fresh LSNs through the normal apply path, exactly-once
via a content-stable batch id."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.cdc.manifest import REDRIVE_BASE, REDRIVE_END
from medallion_etl_spark.cdc.redrive import redrive_quarantine
from medallion_etl_spark.cdc.replay import replay
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.synth import gen_events

N_EVENTS = 2_000
N_KEYS = 150


def _dirty(spark):
    """Clean stream + 2 bad-op rows (above the clean range) + 2
    NULL-key rows — the LSN-ranged quarantine classes."""
    clean = gen_events(spark, n_events=N_EVENTS, n_keys=N_KEYS)
    bad_op = (
        clean.orderBy("lsn")
        .limit(2)
        .withColumn("lsn", F.col("lsn") + F.lit(10 * N_EVENTS).cast("long"))
        .withColumn("op", F.lit("X"))
    )
    null_key = (
        clean.orderBy("lsn")
        .limit(2)
        .withColumn("lsn", F.col("lsn") + F.lit(N_EVENTS).cast("long"))
        .withColumn("doc_id", F.lit(None).cast("string"))
    )
    return clean.unionByName(bad_op).unionByName(null_key)


def _fix(df):
    return df.withColumn(
        "op",
        F.when(F.col("_reason") == "bad_op", F.lit("U")).otherwise(F.col("op")),
    ).withColumn(
        "doc_id",
        F.when(
            F.col("_reason") == "null_key",
            F.concat(F.lit("fixed-"), F.col("lsn")),
        ).otherwise(F.col("doc_id")),
    )


@pytest.fixture()
def quarantined(spark, tmp_path):
    root = str(tmp_path / "t")
    table = LakeTable.create(root, n_buckets=8)
    res = replay(
        spark, _dirty(spark), table, chunk_size=1_000, on_malformed="quarantine"
    )
    assert res["rows_quarantined"] == 4
    return root, res["quarantine_path"]


def test_redrive_applies_cured_rows_at_fresh_lsns(spark, quarantined):
    root, qpath = quarantined
    table = LakeTable.load(root)
    hwm = table.max_committed_lsn()

    res = redrive_quarantine(spark, table, qpath, transform=_fix)
    assert res["committed"] and res["redriven"] == 4
    assert res["still_bad_dropped"] == 0
    assert REDRIVE_BASE <= res["batch_id"] < REDRIVE_END
    assert res["lsn_lo"] == hwm + 1 and res["lsn_hi"] == hwm + 4
    assert not os.path.exists(qpath)  # cleaned up after commit

    head = LakeTable.load(root)
    raw = head.read(spark, raw=True).toPandas()
    fixed = raw[raw["doc_id"].str.startswith("fixed-")]
    assert len(fixed) == 2  # NULL-key rows entered under their new keys
    assert (fixed["_lsn"] > hwm).all()  # minted above the old HWM
    # manifest records the redrive like any batch (lineage/feed ride it)
    assert res["batch_id"] in head.committed_batches()


def test_redrive_is_exactly_once_across_a_cleanup_crash(spark, quarantined, tmp_path):
    root, qpath = quarantined
    backup = str(tmp_path / "qbackup")
    shutil.copytree(qpath, backup)

    first = redrive_quarantine(spark, LakeTable.load(root), qpath, transform=_fix)
    assert first["committed"]
    v = LakeTable.load(root).version

    # simulate commit-succeeded-cleanup-failed: the dir reappears with
    # identical content — the content-stable batch id makes the re-run
    # a manifest no-op that just finishes the cleanup
    shutil.copytree(backup, qpath)
    again = redrive_quarantine(spark, LakeTable.load(root), qpath, transform=_fix)
    assert again.get("already_committed") and not again["committed"]
    assert again["batch_id"] == first["batch_id"]
    assert not os.path.exists(qpath)
    assert LakeTable.load(root).version == v  # no second commit


def test_still_bad_rows_fail_or_drop_but_never_requarantine(spark, quarantined):
    root, qpath = quarantined
    table = LakeTable.load(root)

    # cure only the bad-op rows: the NULL-key pair is still malformed
    half_fix = lambda df: df.withColumn(  # noqa: E731
        "op",
        F.when(F.col("_reason") == "bad_op", F.lit("U")).otherwise(F.col("op")),
    )
    with pytest.raises(ValueError, match="still malformed"):
        redrive_quarantine(spark, table, qpath, transform=half_fix)
    assert os.path.exists(qpath)  # fail mode touched nothing

    res = redrive_quarantine(
        spark, table, qpath, transform=half_fix, on_still_bad="drop"
    )
    assert res["committed"] and res["redriven"] == 2
    assert res["still_bad_dropped"] == 2
    assert not os.path.exists(qpath)


def test_missing_dir_and_bad_policy_raise(spark, quarantined):
    root, qpath = quarantined
    table = LakeTable.load(root)
    with pytest.raises(FileNotFoundError):
        redrive_quarantine(spark, table, qpath + "-nope")
    with pytest.raises(ValueError, match="on_still_bad"):
        redrive_quarantine(spark, table, qpath, on_still_bad="requeue")
