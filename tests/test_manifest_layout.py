"""Spark-free tests of the batch-id layout in cdc/manifest.py: the
namespaces are disjoint and ordered, every mint lands in its own
namespace, and a derived table's cursor reads only the replay
namespace."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from medallion_etl_spark.cdc import manifest
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.operators.ivm import agg_cursor

pytestmark = pytest.mark.smoke


def _meta(ids):
    return {"committed_batches": {str(b): {"lsn_lo": 0, "lsn_hi": 0} for b in ids}}


def test_cursor_is_the_max_replay_id():
    # one id from each non-replay namespace: CONVERT, DML, redrive,
    # range refresh, streaming epoch
    others = [1 << 37, (1 << 38) + 4, (3 << 37) + 9, (1 << 39) + 7, (1 << 40) + 3]
    meta = _meta([0, 1, 2, *others])
    assert agg_cursor(LakeTable("unused", meta)) == 2
    assert manifest.replay_cursor(meta) == 2
    assert manifest.replay_cursor(_meta(others)) is None


def test_namespaces_are_disjoint_and_ordered():
    spans = manifest.NAMESPACES
    assert spans[0][1] == 0 and spans[-1][2] is None
    for (_, lo, hi), (_, next_lo, _) in zip(spans, spans[1:]):
        assert lo < hi == next_lo  # contiguous: no gap, no overlap
    assert len({name for name, _, _ in spans}) == len(spans)
    for name, lo, hi in spans:
        assert manifest.namespace_of(lo) == name
        if hi is not None:
            assert manifest.namespace_of(hi - 1) == name
    assert manifest.namespace_of(-1) is None


_paths = st.text(st.characters(blacklist_categories=["Cs"], blacklist_characters="\x00"), min_size=1)


@settings(max_examples=200, deadline=None)
@given(path=_paths, epoch=st.integers(0, (1 << 32) - 1))
def test_stream_ids_stay_in_the_stream_namespace(path, epoch):
    bid = manifest.stream_batch_id(path, epoch)
    assert manifest.namespace_of(bid) == "stream"
    # each checkpoint owns one stride
    stride, offset = divmod(bid - manifest.STREAM_EPOCH_BASE, manifest.EPOCH_STRIDE)
    assert (stride, offset) == (manifest.stream_namespace(path), epoch)


@settings(max_examples=200, deadline=None)
@given(path=_paths, sig=st.integers(-(1 << 63), (1 << 63) - 1))
def test_redrive_ids_stay_in_the_redrive_namespace(path, sig):
    assert manifest.namespace_of(manifest.redrive_batch_id(path, sig)) == "redrive"


@settings(max_examples=200, deadline=None)
@given(lo=st.integers(-(10**15), 10**15), span=st.integers(0, 10**12))
def test_refresh_ids_stay_in_the_refresh_namespace(lo, span):
    assert manifest.namespace_of(manifest.refresh_batch_id(lo, lo + span)) == "refresh"


@settings(max_examples=200, deadline=None)
@given(used=st.deferred(lambda: st.sets(st.integers(manifest.DML_BASE, manifest.REDRIVE_BASE - 1), max_size=5)))
def test_dml_counter_stays_in_the_dml_namespace(used):
    meta = _meta([0, 7, manifest.CONVERT_BATCH_ID, manifest.REDRIVE_BASE, *used])
    if used and max(used) == manifest.REDRIVE_BASE - 1:
        with pytest.raises(RuntimeError, match="exhausted"):
            manifest.next_dml_id(meta)
        return
    nxt = manifest.next_dml_id(meta)
    assert manifest.namespace_of(nxt) == "dml"
    assert nxt == (max(used) + 1 if used else manifest.DML_BASE)


def test_convert_id_is_in_the_convert_namespace():
    assert manifest.namespace_of(manifest.CONVERT_BATCH_ID) == "convert"
