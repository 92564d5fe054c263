"""Incremental aggregate (materialized-view) maintenance
(operators/ivm.py): after any contiguous sequence of refreshes the
totals table must equal a full recompute from the corpus's current
state; group moves retract-and-add; a zeroed group tombstones and
resurrects; non-contiguous spans are refused; redelivery is a no-op;
net-empty spans still advance the cursor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.cdc.dml import delete_where
from medallion_etl_spark.cdc.replay import replay
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.operators.ivm import (
    _contrib,
    agg_cursor,
    bootstrap_agg,
    create_agg_table,
    refresh_agg,
)
from medallion_etl_spark.synth import gen_events

N_EVENTS = 3000
N_KEYS = 250

STREAM_DDL = (
    "lsn long, op string, doc_id string, tokens array<int>, n_tok long, "
    "source string, lang string, schema_version int"
)


def _totals(spark, agg):
    return {
        r["source"]: (r["n_rows"], r["sum_tok"])
        for r in agg.read(spark).collect()
    }


def _full_recompute(spark, corpus):
    live = corpus.read(spark, raw=True).filter(
        ~F.coalesce(F.col("_deleted"), F.lit(False))
    )
    rows = (
        _contrib(live, 1)
        .groupBy("source")
        .agg(F.sum("d_rows").alias("n"), F.sum("d_tok").alias("s"))
        .collect()
    )
    return {r["source"]: (r["n"], r["s"]) for r in rows}


def test_multi_span_refresh_equals_full_recompute(spark, tmp_path):
    root, aroot = str(tmp_path / "corpus"), str(tmp_path / "agg")
    events = gen_events(
        spark, n_events=N_EVENTS, n_keys=N_KEYS, with_evolution=False
    ).persist()
    corpus = LakeTable.create(root, n_buckets=8, schema_version=2)
    agg = create_agg_table(aroot, n_buckets=4)

    replay(spark, events, corpus, chunk_size=N_EVENTS // 3, max_batches=1)
    bootstrap_agg(spark, LakeTable.load(root), agg)
    assert _totals(spark, LakeTable.load(aroot)) == _full_recompute(
        spark, LakeTable.load(root)
    )

    replay(spark, events, corpus, chunk_size=N_EVENTS // 3, max_batches=1)
    refresh_agg(spark, LakeTable.load(root), LakeTable.load(aroot))
    assert _totals(spark, LakeTable.load(aroot)) == _full_recompute(
        spark, LakeTable.load(root)
    )

    replay(spark, events, corpus, chunk_size=N_EVENTS // 3)
    refresh_agg(spark, LakeTable.load(root), LakeTable.load(aroot))
    got = _totals(spark, LakeTable.load(aroot))
    assert got == _full_recompute(spark, LakeTable.load(root))
    assert len(got) > 0
    events.unpersist()


_CRAFTED = [
    # span 0 (bootstrap state)
    (0, "I", "u1", [10], 1, "X", None, 2),
    (1, "I", "u2", [20], 1, "X", None, 2),
    (2, "I", "u3", [5], 1, "Y", None, 2),
    # span 1: u1 moves X->Z (retract+add), u2 deleted (preimage
    # retraction), u4 inserts into Y: X reaches zero -> tombstoned
    (3, "U", "u1", [11], 1, "Z", None, 2),
    (4, "D", "u2", None, None, None, None, 2),
    (5, "I", "u4", [7], 1, "Y", None, 2),
    # span 2: a later insert resurrects the zeroed group
    (6, "I", "u5", [3], 1, "X", None, 2),
    (7, "I", "u6", [9], 1, "X", None, 2),
    (8, "U", "u6", [8], 1, "X", None, 2),
]


@pytest.fixture()
def crafted(spark, tmp_path):
    """Corpus over the crafted stream, advanced one 3-event chunk per
    ``step()`` call (stable chunk planning); totals bootstrapped at the
    first chunk."""
    root, aroot = str(tmp_path / "c"), str(tmp_path / "a")
    LakeTable.create(root, n_buckets=4, schema_version=2)
    agg = create_agg_table(aroot, n_buckets=4)
    stream = spark.createDataFrame(_CRAFTED, STREAM_DDL)

    def step():
        replay(spark, stream, LakeTable.load(root), chunk_size=3, max_batches=1)

    step()
    bootstrap_agg(spark, LakeTable.load(root), agg)
    return root, aroot, step


def test_group_move_delete_and_zero_group_tombstone(spark, crafted):
    root, aroot, step = crafted
    assert _totals(spark, LakeTable.load(aroot)) == {"X": (2, 30), "Y": (1, 5)}
    step()
    refresh_agg(spark, LakeTable.load(root), LakeTable.load(aroot))
    assert _totals(spark, LakeTable.load(aroot)) == {"Z": (1, 11), "Y": (2, 12)}
    step()
    refresh_agg(spark, LakeTable.load(root), LakeTable.load(aroot))
    assert _totals(spark, LakeTable.load(aroot)) == {
        "X": (2, 11),
        "Z": (1, 11),
        "Y": (2, 12),
    }


def test_non_contiguous_span_is_refused(spark, crafted):
    root, aroot, step = crafted
    step()
    cursor = agg_cursor(LakeTable.load(aroot))
    with pytest.raises(ValueError, match="must start at the cursor"):
        refresh_agg(
            spark, LakeTable.load(root), LakeTable.load(aroot),
            since_version=cursor + 1,
        )
    with pytest.raises(ValueError, match="must start at the cursor"):
        refresh_agg(
            spark, LakeTable.load(root), LakeTable.load(aroot),
            since_version=cursor - 1,
        )


def test_redelivery_is_a_noop_and_empty_span_advances_cursor(spark, crafted):
    root, aroot, _step = crafted
    # caught up: redelivered refresh skips without a commit
    before = LakeTable.load(aroot).version
    out = refresh_agg(spark, LakeTable.load(root), LakeTable.load(aroot))
    assert out.get("skipped_empty") and LakeTable.load(aroot).version == before
    # a row-net-empty corpus version (compaction) still advances the
    # cursor with an empty commit so later feeds never re-span it
    corpus = LakeTable.load(root)
    corpus.compact(spark, watermark_lsn=0)
    corpus = LakeTable.load(root)
    state_before = _totals(spark, LakeTable.load(aroot))
    refresh_agg(spark, corpus, LakeTable.load(aroot))
    assert agg_cursor(LakeTable.load(aroot)) == corpus.version
    assert _totals(spark, LakeTable.load(aroot)) == state_before


def test_dml_on_the_totals_table_does_not_move_the_cursor(spark, crafted):
    """A DELETE on the totals table commits under a DML-namespace id.
    The cursor reads only the replay namespace, so the next refresh
    still advances from the corpus version instead of taking the DML id
    for a version ahead of the corpus."""
    root, aroot, step = crafted
    cursor = agg_cursor(LakeTable.load(aroot))
    assert delete_where(spark, LakeTable.load(aroot), "source = 'Y'")["rows_deleted"] == 1
    assert agg_cursor(LakeTable.load(aroot)) == cursor
    step()
    corpus = LakeTable.load(root)
    out = refresh_agg(spark, corpus, LakeTable.load(aroot))
    assert not out.get("skipped_empty")
    assert agg_cursor(LakeTable.load(aroot)) == corpus.version > cursor


def test_bootstrap_refuses_non_empty_table(spark, crafted):
    root, aroot, _step = crafted
    with pytest.raises(ValueError, match="empty aggregate table"):
        bootstrap_agg(spark, LakeTable.load(root), LakeTable.load(aroot))


def test_restore_below_cursor_is_refused_and_rebootstrap_recovers(
    spark, crafted, tmp_path
):
    root, aroot, step = crafted
    v_mid = LakeTable.load(root).version
    step()
    refresh_agg(spark, LakeTable.load(root), LakeTable.load(aroot))
    # corpus data rolls back below the cursor (restore is a
    # roll-forward COMMIT, so the refusal comes from read_changes's
    # restore gate): totals include undone rows no feed can retract ->
    # loud refusal, not a silent freeze
    LakeTable.load(root).restore(v_mid)
    with pytest.raises(ValueError, match="re-?bootstrap"):
        refresh_agg(spark, LakeTable.load(root), LakeTable.load(aroot))
    # recovery: build-aside bootstrap from the restored snapshot
    rroot = str(tmp_path / "rebuild")
    bootstrap_agg(spark, LakeTable.load(root), create_agg_table(rroot, n_buckets=4))
    assert _totals(spark, LakeTable.load(rroot)) == _full_recompute(
        spark, LakeTable.load(root)
    )
    # resumed tail chunks then flow through the normal refresh path
    step()
    refresh_agg(spark, LakeTable.load(root), LakeTable.load(rroot))
    assert _totals(spark, LakeTable.load(rroot)) == _full_recompute(
        spark, LakeTable.load(root)
    )


def test_stale_corpus_handle_refresh_is_skipped_not_corrupting(spark, crafted):
    root, aroot, step = crafted
    step()
    stale_corpus = LakeTable.load(root)  # v2 handle
    step()
    refresh_agg(spark, LakeTable.load(root), LakeTable.load(aroot))  # cursor -> v3
    want = _totals(spark, LakeTable.load(aroot))
    # a refresh against the v2 handle is subsumed by the v3 refresh:
    # benign skip (on-disk corpus HEAD >= cursor), never a double apply
    out = refresh_agg(spark, stale_corpus, LakeTable.load(aroot))
    assert out.get("skipped_stale")
    assert _totals(spark, LakeTable.load(aroot)) == want
