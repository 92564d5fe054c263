"""Bucket-count evolution (`LakeTable.rebucket`, the Iceberg
partition-spec-evolution analog): rows/LSNs/manifest are invariant,
the change feed across the rebucket is empty (net change zero), and
every downstream surface — merge, lookup pruning, idempotent
redelivery — recomputes bucket ids from the new count."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.cdc.apply import apply_batch
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.synth import gen_events

N_EVENTS = 4_000
N_KEYS = 400


def _apply(spark, table, events, batch_id, lo, hi):
    chunk = events.filter(F.col("lsn").between(lo, hi))
    apply_batch(
        spark, table, chunk, batch_id=batch_id, lsn_lo=lo, lsn_hi=hi
    )
    return LakeTable.load(table.root)


@pytest.fixture()
def built(spark, tmp_path):
    events = gen_events(spark, n_events=N_EVENTS, n_keys=N_KEYS).cache()
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=4)
    table = _apply(spark, table, events, 0, 0, 1_999)
    return table, events


def _raw_state(spark, table):
    return sorted(
        (r["doc_id"], r["_lsn"], bool(r["_deleted"]) if r["_deleted"] is not None else False)
        for r in table.read(spark, raw=True).collect()
    )


def test_rebucket_preserves_rows_lsns_and_manifest(spark, built):
    table, _ = built
    before = _raw_state(spark, table)
    manifest_before = table.committed_batches()
    v_before = table.version

    res = table.rebucket(spark, 16)
    assert res == {
        "old_n_buckets": 4,
        "new_n_buckets": 16,
        "buckets_written": res["buckets_written"],
    }
    table = LakeTable.load(table.root)
    assert table.n_buckets == 16
    assert len(table.meta["buckets"]) == len(res["buckets_written"])
    assert _raw_state(spark, table) == before
    assert table.committed_batches() == manifest_before
    assert table.meta["clustering"] == {"kind": "key", "cols": [table.key_col]}

    # the change feed across the rebucket must be EMPTY: every bucket
    # pointer moved, but net logical change is zero
    assert table.read_changes(spark, since_version=v_before).count() == 0

    # the historical snapshot still reads its own 4-bucket layout
    snap = LakeTable.load_version(table.root, v_before)
    assert snap.n_buckets == 4
    assert _raw_state(spark, snap) == before


def test_merge_lookup_and_idempotency_use_the_new_count(spark, built):
    table, events = built

    # control: same stream applied without a rebucket in the middle
    control = LakeTable.create(table.root + "_ctl", n_buckets=4)
    control = _apply(spark, control, events, 0, 0, 1_999)
    control = _apply(spark, control, events, 1, 2_000, 3_999)

    table.rebucket(spark, 16)
    table = LakeTable.load(table.root)
    table = _apply(spark, table, events, 1, 2_000, 3_999)

    want = sorted(
        (r["doc_id"], r["n_tok"]) for r in control.read(spark).collect()
    )
    got = sorted((r["doc_id"], r["n_tok"]) for r in table.read(spark).collect())
    assert got == want

    # redelivering an already-committed chunk stays a no-op
    rows_before = table.read(spark, raw=True).count()
    _apply(spark, table, events, 1, 2_000, 3_999)
    table = LakeTable.load(table.root)
    assert table.read(spark, raw=True).count() == rows_before

    # point lookup prunes with the NEW bucket count: <= 2 of 16 dirs
    keys = [r["doc_id"] for r in table.read(spark).select("doc_id").limit(2).collect()]
    looked = table.lookup(spark, keys)
    assert {r["doc_id"] for r in looked.collect()} == set(keys)
    opened = {f.rsplit("/_bucket=", 1)[1].split("/")[0] for f in looked.inputFiles()}
    assert len(opened) <= 2


def test_rebucket_rejects_noop_and_bad_counts(spark, built):
    table, _ = built
    with pytest.raises(ValueError, match="already has"):
        table.rebucket(spark, 4)
    with pytest.raises(ValueError, match=">= 1"):
        table.rebucket(spark, 0)


def test_rebucket_preserves_zorder_clustering(spark, built):
    """A layout paid for by a Z-order compaction survives a rebucket:
    the spec is re-applied to the new buckets and stays in metadata."""
    table, _ = built
    table.compact(spark, watermark_lsn=-1, zorder_by=["n_tok"], zorder_coding="quantile")
    table = LakeTable.load(table.root)
    before = _raw_state(spark, table)
    table.rebucket(spark, 8)
    table = LakeTable.load(table.root)
    assert table.meta["clustering"] == {
        "kind": "zorder",
        "cols": ["n_tok"],
        "coding": "quantile",
    }
    assert _raw_state(spark, table) == before


def test_preimages_survive_a_shrinking_rebucket(spark, built):
    """read_changes(include_preimage=True) across a SHRINK rebucket:
    changed-bucket ids are new-layout, so the old-snapshot read must
    not use them (old buckets >= the new count would be skipped and
    their preimages silently dropped — wrong incremental gold)."""
    table, events = built  # 4 buckets
    v_before = table.version

    table.rebucket(spark, 2)  # shrink: old ids {0..3}, new ids {0,1}
    table = LakeTable.load(table.root)
    table = _apply(spark, table, events, 1, 2_000, 3_999)

    old_live = {
        r["doc_id"]: r["n_tok"]
        for r in LakeTable.load_version(table.root, v_before).read(spark).collect()
    }
    rows = table.read_changes(
        spark, since_version=v_before, include_preimage=True
    ).collect()
    post_keys = {
        r["doc_id"] for r in rows if r["_change_type"] in ("upsert", "delete")
    }
    pre = {r["doc_id"]: r["n_tok"] for r in rows if r["_change_type"] == "update_preimage"}
    want_pre_keys = {k for k in post_keys if k in old_live}
    assert want_pre_keys, "test needs at least one updated pre-existing key"
    assert set(pre) == want_pre_keys
    # preimage payloads are the OLD snapshot's values
    assert all(pre[k] == old_live[k] for k in pre)
