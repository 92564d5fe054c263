"""Preimage change feed + incremental gold maintenance: the delta
identity (bootstrap ⊕ delta ≡ full recompute), preimage correctness,
group appearance/disappearance. operators/incremental.py,
cdc/table.py read_changes(include_preimage=True)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.cdc.apply import apply_batch
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.operators.incremental import (
    aggregate_delta,
    aggregate_snapshot,
    apply_delta,
    maintain_gold,
)
from medallion_etl_spark.synth import gen_events

GROUP = ["source"]
MEASURES = {"sum_n_tok": "n_tok"}


def _canon(df):
    # NULL sums stay None: `or 0` here would mask the NULL-vs-0
    # distinction the maintenance contract includes
    return sorted(
        (
            r["source"],
            None if r["sum_n_tok"] is None else int(r["sum_n_tok"]),
            int(r["n_rows"]),
        )
        for r in df.collect()
    )


@pytest.fixture()
def built(spark, tmp_path):
    events = gen_events(spark, n_events=4_000, n_keys=400).cache()
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    for bid, (lo, hi) in enumerate([(0, 1_999), (2_000, 3_999)]):
        chunk = events.filter(F.col("lsn").between(lo, hi))
        apply_batch(
            spark, table, chunk, batch_id=bid, lsn_lo=lo, lsn_hi=hi
        )
        table = LakeTable.load(table.root)
    return table


def test_preimage_rows_are_old_snapshot_values(spark, built):
    feed = built.read_changes(spark, 1, include_preimage=True)
    old_live = LakeTable.load_version(built.root, 1).read(spark)
    pre = feed.filter(F.col("_change_type") == "update_preimage")
    changed_keys = {
        r["doc_id"]
        for r in feed.filter(F.col("_change_type") != "update_preimage")
        .select("doc_id")
        .distinct()
        .collect()
    }
    want = sorted(
        (r["doc_id"], r["n_tok"])
        for r in old_live.collect()
        if r["doc_id"] in changed_keys
    )
    got = sorted((r["doc_id"], r["n_tok"]) for r in pre.collect())
    assert got == want and len(got) > 0


def test_delta_identity_bootstrap_plus_delta_equals_recompute(spark, built):
    snap1 = LakeTable.load_version(built.root, 1)
    gold_v1 = aggregate_snapshot(snap1.read(spark), GROUP, MEASURES)
    incr = maintain_gold(spark, built, 1, gold_v1, GROUP, MEASURES)
    full = aggregate_snapshot(built.read(spark), GROUP, MEASURES)
    assert _canon(incr) == _canon(full)


def test_group_disappears_and_appears(spark, built):
    """Delete every row of one group and add a brand-new group; the
    incremental result must drop the former and include the latter."""
    full_before = built.read(spark)
    victim = full_before.select("source").first()["source"]
    victim_keys = [
        r["doc_id"]
        for r in full_before.filter(F.col("source") == victim).collect()
    ]
    max_lsn = built.max_committed_lsn()
    deletes = spark.createDataFrame(
        [(max_lsn + 1 + i, "D", k, None, None, None, None, 1)
         for i, k in enumerate(victim_keys)],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok long, source string, lang string, schema_version int",
    )
    insert = spark.createDataFrame(
        [(max_lsn + 5_000, "I", "brand-new", [1, 2], 2, "new-src", None, 1)],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok long, source string, lang string, schema_version int",
    )
    chunk = deletes.unionByName(insert)
    v_before = built.version
    apply_batch(
        spark, built, chunk, batch_id=99, lsn_lo=max_lsn + 1,
        lsn_hi=max_lsn + 5_000,
    )
    table = LakeTable.load(built.root)
    gold_before = aggregate_snapshot(full_before, GROUP, MEASURES)
    incr = maintain_gold(spark, table, v_before, gold_before, GROUP, MEASURES)
    sources = {r["source"] for r in incr.select("source").collect()}
    assert victim not in sources
    assert "new-src" in sources
    assert _canon(incr) == _canon(aggregate_snapshot(table.read(spark), GROUP, MEASURES))


def test_all_null_measure_group_stays_null(spark, built):
    """SUM over zero non-null inputs is NULL; a group whose every
    contribution is NULL must come out NULL after maintenance, exactly
    like the recompute — not coalesced to 0."""
    max_lsn = built.max_committed_lsn()
    rows = [
        (max_lsn + 1 + i, "I", f"nullgrp-{i}", None, None, "null-src", None, 1)
        for i in range(3)
    ]
    chunk = spark.createDataFrame(
        rows,
        "lsn long, op string, doc_id string, tokens array<int>, "
        "n_tok long, source string, lang string, schema_version int",
    )
    v_before = built.version
    gold_before = aggregate_snapshot(built.read(spark), GROUP, MEASURES)
    apply_batch(
        spark, built, chunk, batch_id=98, lsn_lo=max_lsn + 1,
        lsn_hi=max_lsn + 3,
    )
    table = LakeTable.load(built.root)
    incr = maintain_gold(spark, table, v_before, gold_before, GROUP, MEASURES)
    row = incr.filter(F.col("source") == "null-src").collect()[0]
    assert row["sum_n_tok"] is None
    assert row["n_rows"] == 3
    assert _canon(incr) == _canon(aggregate_snapshot(table.read(spark), GROUP, MEASURES))
