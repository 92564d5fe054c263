"""Predicate DML (cdc/dml.py): DELETE WHERE / UPDATE WHERE as change
events riding the normal LWW/tombstone machinery — in the manifest,
lineage, history and change feed like any replay batch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.cdc.dml import delete_where, update_where
from medallion_etl_spark.cdc.manifest import DML_BASE
from medallion_etl_spark.cdc.replay import replay
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.synth import gen_events

from .cdc_oracle import assert_frames_equal, canon, expected_final_state

N_EVENTS = 3_000
N_KEYS = 200


@pytest.fixture()
def loaded(spark, tmp_path):
    """A replayed table plus the pandas frame of its current state."""
    events = gen_events(spark, n_events=N_EVENTS, n_keys=N_KEYS)
    root = str(tmp_path / "t")
    replay(spark, events, LakeTable.create(root, n_buckets=8), chunk_size=1_000)
    table = LakeTable.load(root)
    return table, table.read(spark).toPandas()


def test_delete_where_matches_pandas_oracle(spark, loaded):
    table, before = loaded
    res = delete_where(spark, table, "source = 'web'")
    n_match = int((before["source"] == "web").sum())
    assert n_match > 0
    assert res["rows_deleted"] == n_match
    assert res["committed"] is True
    assert res["batch_id"] >= DML_BASE

    after = LakeTable.load(table.root).read(spark).toPandas()
    expected = before[before["source"] != "web"]
    assert_frames_equal(after, canon(expected))


def test_delete_where_is_visible_to_feed_and_time_travel(spark, loaded):
    table, before = loaded
    v_before = table.version
    res = delete_where(spark, table, "source = 'web'")

    # time travel: the pre-DML snapshot still has every row
    old = LakeTable.load_version(table.root, v_before).read(spark).toPandas()
    assert len(old) == len(before)

    # change feed since the pre-DML version: exactly the deletes
    fresh = LakeTable.load(table.root)
    feed = fresh.read_changes(spark, since_version=v_before).toPandas()
    assert set(feed["_change_type"]) == {"delete"}
    assert len(feed) == res["rows_deleted"]


def test_delete_where_no_match_is_a_true_noop(spark, loaded):
    table, _ = loaded
    v = table.version
    res = delete_where(spark, table, "source = 'no-such-source'")
    assert res == {"rows_deleted": 0, "committed": False}
    assert LakeTable.load(table.root).version == v


def test_delete_where_twice_second_is_noop(spark, loaded):
    table, _ = loaded
    first = delete_where(spark, table, "source = 'web'")
    assert first["committed"]
    again = delete_where(
        spark, LakeTable.load(table.root), "source = 'web'"
    )
    assert again == {"rows_deleted": 0, "committed": False}


def test_delete_where_sees_through_mor_deltas(spark, tmp_path):
    """The match set reads the FOLDED state: a key whose latest version
    lives only in an un-compacted MOR delta must still match (or stop
    matching) on its current payload."""
    events = gen_events(spark, n_events=3_000, n_keys=N_KEYS)
    root = str(tmp_path / "t")
    replay(spark, events, LakeTable.create(root, n_buckets=8), chunk_size=1_000, write_mode="mor")
    table = LakeTable.load(root)
    assert any(
        table.meta["buckets"].get(str(b), {}).get("deltas")
        for b in range(table.n_buckets)
    ), "fixture must leave un-compacted deltas"
    before = table.read(spark).toPandas()
    res = delete_where(spark, table, "n_tok >= 32")
    n_match = int((before["n_tok"] >= 32).sum())
    assert res["rows_deleted"] == n_match
    after = LakeTable.load(root).read(spark).toPandas()
    assert_frames_equal(after, canon(before[before["n_tok"] < 32]))


def test_update_where_matches_pandas_oracle(spark, loaded):
    table, before = loaded
    res = update_where(
        spark,
        table,
        "source = 'web'",
        {"lang": "'redacted'", "n_tok": F.lit(0).cast("long")},
    )
    n_match = int((before["source"] == "web").sum())
    assert res["rows_updated"] == n_match

    after = LakeTable.load(table.root).read(spark).toPandas()
    expected = before.copy()
    hit = expected["source"] == "web"
    expected.loc[hit, "lang"] = "redacted"
    expected.loc[hit, "n_tok"] = 0
    assert_frames_equal(after, canon(expected))
    # untouched rows are byte-identical (token arrays included)
    assert_frames_equal(
        after[after["source"] != "web"], canon(before[before["source"] != "web"])
    )


def test_update_where_expressions_see_the_current_row(spark, loaded):
    table, before = loaded
    res = update_where(
        spark, table, "source = 'web'", {"n_tok": "n_tok + 1000"}
    )
    assert res["rows_updated"] > 0
    after = LakeTable.load(table.root).read(spark).toPandas()
    expected = before.copy()
    hit = expected["source"] == "web"
    expected.loc[hit, "n_tok"] = expected.loc[hit, "n_tok"] + 1000
    assert_frames_equal(after, canon(expected))


def test_update_where_refuses_key_and_unknown_columns(spark, loaded):
    table, _ = loaded
    with pytest.raises(ValueError, match="key column"):
        update_where(spark, table, "true", {"doc_id": "'x'"})
    with pytest.raises(ValueError, match="unknown columns"):
        update_where(spark, table, "true", {"nope": "'x'"})
    # refusals must not have committed anything
    assert LakeTable.load(table.root).version == table.version


def test_dml_loses_to_newer_upstream_events(spark, tmp_path):
    """CDC ordering: a DML minted at high-water-mark + 1 wins against
    the past but loses to upstream events that arrive with higher
    LSNs — replaying newer events resurrects a DML-deleted key."""
    events = gen_events(spark, n_events=2_000, n_keys=100)
    root = str(tmp_path / "t")
    first = events.filter(F.col("lsn") < 1_000)
    replay(spark, first, LakeTable.create(root, n_buckets=8), chunk_size=1_000)
    table = LakeTable.load(root)
    res = delete_where(spark, table, "true")  # wipe everything so far
    assert res["committed"]
    assert LakeTable.load(root).read(spark).count() == 0
    assert res["lsn"] == 1_000  # minted at high-water-mark + 1

    # the tail arrives: replay the FULL stream (committed chunk 0 is a
    # true redelivery and skips; chunk 1 is new). lsn 1000 is excluded
    # so no upstream event ties with the DML's minted LSN.
    full = events.filter(F.col("lsn") != 1_000)
    r2 = replay(spark, full, LakeTable.load(root), chunk_size=1_000)
    assert r2["batches_applied"] == 1
    final = LakeTable.load(root).read(spark).toPandas()
    # every key's newest write is now an upstream event with lsn > 1000
    # (or the DML tombstone, for keys the tail never touched)
    expected = expected_final_state(
        events.filter(F.col("lsn") > 1_000).toPandas()
    )
    assert_frames_equal(final, expected)
