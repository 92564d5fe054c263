"""Regression tests for the round-1 advisor findings (ADVICE.md):

- batch-id collision between distinct streams must fail loudly, not
  silently skip (was: recreated streaming checkpoint restarting at
  epoch 0 silently dropped micro-batches);
- streaming epochs are namespaced per checkpoint identity;
- NULL-key rows survive the COW merge and the MOR append + read fold
  identically (was: a null-rejecting semi-join on a since-deleted
  broadcast merge path);
- unknown bucket row counts are treated as unknown (None), never 0.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.cdc.apply import apply_batch
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.schemas import EVENTS_SCHEMA
from medallion_etl_spark.cdc.manifest import (
    EPOCH_STRIDE,
    STREAM_EPOCH_BASE,
    stream_batch_id,
)


def _events(spark, rows):
    nullable = EVENTS_SCHEMA.fromJson(
        {
            "type": "struct",
            "fields": [
                {**f.jsonValue(), "nullable": True} for f in EVENTS_SCHEMA.fields
            ],
        }
    )
    return spark.createDataFrame(rows, schema=nullable)


def _row(lsn, op, doc_id, n_tok=3):
    return (lsn, op, doc_id, [1, 2, 3], n_tok, "s", None, 1)


def test_redelivered_batch_same_range_is_skipped(spark, tmp_path):
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=4)
    ev = _events(spark, [_row(0, "I", "a"), _row(1, "I", "b")])
    apply_batch(spark, table, ev, batch_id=5, lsn_lo=0, lsn_hi=1)
    res = apply_batch(
        spark, LakeTable.load(table.root), ev, batch_id=5, lsn_lo=0, lsn_hi=1
    )
    assert res["skipped"]


def test_batch_id_collision_different_range_raises(spark, tmp_path):
    """A committed batch_id re-presented with a DIFFERENT LSN range is
    a namespace collision (e.g. a second stream restarting epochs at
    0), not an idempotent redelivery — skipping would lose data."""
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=4)
    ev = _events(spark, [_row(0, "I", "a")])
    apply_batch(spark, table, ev, batch_id=5, lsn_lo=0, lsn_hi=0)
    ev2 = _events(spark, [_row(100, "U", "a")])
    with pytest.raises(RuntimeError, match="collision"):
        apply_batch(
            spark, LakeTable.load(table.root), ev2, batch_id=5, lsn_lo=100, lsn_hi=100
        )


def test_stream_batch_ids_namespaced_by_checkpoint():
    a0 = stream_batch_id("/tmp/ckpt_a", 0)
    a1 = stream_batch_id("/tmp/ckpt_a", 1)
    b0 = stream_batch_id("/tmp/ckpt_b", 0)
    assert a0 >= STREAM_EPOCH_BASE and b0 >= STREAM_EPOCH_BASE
    assert a1 == a0 + 1
    # different stream identity -> disjoint epoch space
    assert abs(a0 - b0) >= EPOCH_STRIDE - 1 and a0 != b0
    # stable across calls (same identity -> same ids, redelivery dedupes)
    assert stream_batch_id("/tmp/ckpt_a", 0) == a0


@pytest.mark.parametrize("merge_path", ["agg", "mor"])
def test_null_key_rows_survive_both_merge_paths(spark, tmp_path, merge_path):
    """Spark does not enforce declared non-nullability on parquet
    reads, so a NULL doc_id can reach the merge. The COW merge ('agg')
    and the merge-on-read append + read fold must agree: NULL keys
    form one LWW group, the groupBy semantics of the one reduction."""
    table = LakeTable.create(str(tmp_path / f"t_{merge_path}"), n_buckets=4)
    if merge_path == "mor":
        # a COW base holding a NULL-key row, then a merge-on-read delta
        # whose chunk carries two more: the append's chunk dedup and
        # the read's base ∪ delta fold both reduce the NULL group
        apply_batch(
            spark, table,
            _events(spark, [_row(0, "I", "a"), _row(1, "I", None), _row(3, "I", "b")]),
            batch_id=0, lsn_lo=0, lsn_hi=3,
        )
        table = LakeTable.load(table.root)
        apply_batch(
            spark, table,
            _events(spark, [_row(4, "U", None, n_tok=5), _row(5, "U", None, n_tok=9)]),
            batch_id=1, lsn_lo=4, lsn_hi=5, write_mode="mor",
        )
        assert any(
            e.get("deltas") for e in LakeTable.load(table.root).meta["buckets"].values()
        )
    else:
        ev = _events(
            spark,
            [
                _row(0, "I", "a"),
                _row(1, "I", None),
                _row(2, "U", None, n_tok=9),  # NULL-key LWW winner
                _row(3, "I", "b"),
            ],
        )
        apply_batch(spark, table, ev, batch_id=0, lsn_lo=0, lsn_hi=3)
    got = (
        LakeTable.load(table.root)
        .read(spark)
        .select("doc_id", "n_tok")
        .toPandas()
        .sort_values("doc_id", na_position="first")
        .reset_index(drop=True)
    )
    assert len(got) == 3
    null_row = got[got["doc_id"].isna()]
    assert len(null_row) == 1 and int(null_row["n_tok"].iloc[0]) == 9


def test_bucket_rows_unknown_is_none_not_zero(spark, tmp_path):
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=4)
    ev = _events(spark, [_row(0, "I", "a"), _row(1, "I", "b")])
    apply_batch(spark, table, ev, batch_id=0, lsn_lo=0, lsn_hi=1)
    table = LakeTable.load(table.root)
    known = table.bucket_rows()
    assert known is not None and known >= 2
    # simulate a commit that did not measure counts
    some_bucket = next(iter(table.meta["buckets"].values()))
    some_bucket.pop("rows")
    assert table.bucket_rows() is None
