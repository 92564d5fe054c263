"""MERGE INTO an arbitrary source frame (cdc/merge.py): the Delta
``MERGE INTO target USING source ON key`` analog, applied through the
same LWW/tombstone machinery as replay batches and predicate DML."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.cdc.manifest import DML_BASE
from medallion_etl_spark.cdc.merge import merge_into
from medallion_etl_spark.cdc.replay import replay
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.synth import gen_events

from .cdc_oracle import assert_frames_equal, canon

N_EVENTS = 3_000
N_KEYS = 200


@pytest.fixture()
def loaded(spark, tmp_path):
    events = gen_events(spark, n_events=N_EVENTS, n_keys=N_KEYS)
    root = str(tmp_path / "t")
    replay(spark, events, LakeTable.create(root, n_buckets=8), chunk_size=1_000)
    table = LakeTable.load(root)
    return table, table.read(spark).toPandas()


def _source(spark, table, *, existing_pd, n_new: int):
    """Deterministic source frame: every current row whose doc_id ends
    in '0' or '3' (payload rewritten: n_tok=7, lang='merged') plus
    ``n_new`` brand-new keys."""
    hit = existing_pd["doc_id"].str.endswith(("0", "3"))
    upd = existing_pd[hit].copy()
    upd["n_tok"] = 7
    upd["lang"] = "merged"
    new = pd.DataFrame(
        {
            "doc_id": [f"new-{i}" for i in range(n_new)],
            "tokens": [[i, i + 1] for i in range(n_new)],
            "n_tok": [2] * n_new,
            "source": ["merge"] * n_new,
            "lang": ["merged"] * n_new,
        }
    )
    src_pd = pd.concat([upd, new], ignore_index=True)
    cols = [f.name for f in table.schema().fields]
    src_pd = src_pd[cols].copy()
    src_pd["tokens"] = src_pd["tokens"].apply(
        lambda v: None if v is None else [int(x) for x in v]
    )
    return spark.createDataFrame(src_pd, table.schema()), upd, new


def test_upsert_merge_matches_pandas_oracle(spark, loaded):
    table, before = loaded
    src, upd, new = _source(spark, table, existing_pd=before, n_new=5)
    res = merge_into(spark, table, src)  # update + insert
    assert res["committed"] and res["rows_merged"] == len(upd) + len(new)
    assert res["batch_id"] >= DML_BASE
    assert res["lsn"] == N_EVENTS  # minted at high-water-mark + 1

    after = LakeTable.load(table.root).read(spark).toPandas()
    expected = pd.concat(
        [before[~before["doc_id"].isin(upd["doc_id"])], upd, new], ignore_index=True
    )
    assert_frames_equal(after, canon(expected))


def test_insert_if_absent_leaves_matched_rows_alone(spark, loaded):
    table, before = loaded
    src, upd, new = _source(spark, table, existing_pd=before, n_new=5)
    res = merge_into(spark, table, src, when_matched="skip")
    assert res["rows_merged"] == len(new)
    after = LakeTable.load(table.root).read(spark).toPandas()
    expected = pd.concat([before, new], ignore_index=True)
    assert_frames_equal(after, canon(expected))


def test_update_only_never_inserts(spark, loaded):
    table, before = loaded
    src, upd, new = _source(spark, table, existing_pd=before, n_new=5)
    res = merge_into(spark, table, src, when_not_matched="skip")
    assert res["rows_merged"] == len(upd)
    after = LakeTable.load(table.root).read(spark).toPandas()
    assert not after["doc_id"].str.startswith("new-").any()
    expected = pd.concat(
        [before[~before["doc_id"].isin(upd["doc_id"])], upd], ignore_index=True
    )
    assert_frames_equal(after, canon(expected))


def test_delete_matched_tombstones_source_keys(spark, loaded):
    table, before = loaded
    src, upd, new = _source(spark, table, existing_pd=before, n_new=5)
    v_before = table.version
    res = merge_into(
        spark, table, src, when_matched="delete", when_not_matched="skip"
    )
    assert res["rows_merged"] == len(upd)  # the new- keys matched nothing
    after = LakeTable.load(table.root).read(spark).toPandas()
    assert_frames_equal(
        after, canon(before[~before["doc_id"].isin(upd["doc_id"])])
    )
    # the deletes are real tombstones: visible in the change feed
    feed = (
        LakeTable.load(table.root)
        .read_changes(spark, since_version=v_before)
        .toPandas()
    )
    assert set(feed["_change_type"]) == {"delete"}
    assert len(feed) == len(upd)


def test_merge_is_a_noop_when_nothing_qualifies(spark, loaded):
    table, before = loaded
    src, _, new = _source(spark, table, existing_pd=before, n_new=3)
    only_new = src.filter(F.col("doc_id").startswith("new-"))
    v = table.version
    # update-only against keys the table doesn't have: zero events
    res = merge_into(spark, table, only_new, when_not_matched="skip")
    assert res == {"rows_merged": 0, "committed": False}
    assert LakeTable.load(table.root).version == v


def test_merge_refuses_ambiguity_and_bad_shapes(spark, loaded):
    table, before = loaded
    src, _, _ = _source(spark, table, existing_pd=before, n_new=2)
    with pytest.raises(ValueError, match="more than once"):
        merge_into(spark, table, src.unionByName(src))
    with pytest.raises(ValueError, match="missing table columns"):
        merge_into(spark, table, src.drop("n_tok"))
    with pytest.raises(ValueError, match="never do anything"):
        merge_into(spark, table, src, when_matched="skip", when_not_matched="skip")
    with pytest.raises(ValueError, match="when_matched"):
        merge_into(spark, table, src, when_matched="upsert")
    assert LakeTable.load(table.root).version == table.version


def test_merge_enforces_check_constraints(spark, loaded):
    table, before = loaded
    table.add_constraint(spark, "tok_cap", "n_tok <= 64")
    table = LakeTable.load(table.root)
    v = table.version
    src, upd, new = _source(spark, table, existing_pd=before, n_new=2)
    bad = src.withColumn("n_tok", F.lit(100).cast("long"))
    with pytest.raises(ValueError, match="check:tok_cap"):
        merge_into(spark, table, bad)
    assert LakeTable.load(table.root).version == v
    # a passing merge commits; its delete variant is exempt from the
    # payload constraint (tombstones carry NULL payloads)
    ok = merge_into(
        spark,
        LakeTable.load(table.root),
        src,
        when_matched="delete",
        when_not_matched="skip",
    )
    assert ok["committed"] and ok["rows_merged"] == len(upd)


def test_merge_loses_to_newer_upstream_events(spark, tmp_path):
    """Same CDC ordering contract as predicate DML: the merge is minted
    at high-water-mark + 1, so later upstream events override it."""
    events = gen_events(spark, n_events=2_000, n_keys=100)
    root = str(tmp_path / "t")
    first = events.filter(F.col("lsn") < 1_000)
    replay(spark, first, LakeTable.create(root, n_buckets=8), chunk_size=1_000)
    table = LakeTable.load(root)
    before = table.read(spark).toPandas()
    src, upd, _ = _source(spark, table, existing_pd=before, n_new=0)
    res = merge_into(spark, table, src, when_not_matched="skip")
    assert res["committed"] and res["lsn"] == 1_000

    # the tail (lsn > 1000) replays: every key it touches overrides the
    # merge; keys only the merge touched keep the merged payload
    full = events.filter(F.col("lsn") != 1_000)
    replay(spark, full, LakeTable.load(root), chunk_size=1_000)
    final = LakeTable.load(root).read(spark).toPandas()
    merged_only = final[final["lang"] == "merged"]
    # merged payloads survive only where no tail event outranked them
    tail_keys = set(
        r["doc_id"]
        for r in events.filter(F.col("lsn") > 1_000).select("doc_id").distinct().collect()
    )
    assert not (set(merged_only["doc_id"]) & tail_keys)


def test_merge_classifies_null_keys_null_safely(spark, loaded):
    """A NULL-key row is a normal LWW group everywhere else in the
    engine (apply.py's groupBy reduction keeps one); merge_into's
    matched/not-matched classification must agree — plain equality
    would leave a NULL-key row undeletable and re-insert it forever."""
    table, before = loaded
    schema = table.schema()

    # upsert path (no classification join) can seed a NULL-key row
    seed = before.head(1).copy()
    seed["doc_id"] = None
    seed["n_tok"] = 5
    seed["lang"] = "nullkey"
    from pyspark.sql.types import StructField, StructType

    nullable = StructType(
        [StructField(f.name, f.dataType, True) for f in schema.fields]
    )
    null_row = spark.createDataFrame(
        seed[[f.name for f in schema.fields]], nullable
    )
    merge_into(spark, table, null_row)
    t = LakeTable.load(table.root)
    state = t.read(spark).toPandas()
    assert state["doc_id"].isna().sum() == 1

    # when_not_matched='insert' must classify the NULL key as MATCHED
    # (update), never duplicate it
    upd = null_row.withColumn("lang", F.lit("nullkey2"))
    merge_into(spark, t, upd, when_matched="update", when_not_matched="insert")
    t = LakeTable.load(table.root)
    state = t.read(spark).toPandas()
    nulls = state[state["doc_id"].isna()]
    assert len(nulls) == 1
    assert nulls.iloc[0]["lang"] == "nullkey2"

    # when_matched='delete' must tombstone it
    merge_into(spark, t, null_row, when_matched="delete", when_not_matched="skip")
    state = LakeTable.load(table.root).read(spark).toPandas()
    assert state["doc_id"].isna().sum() == 0
    # and only the NULL-key row was touched
    assert len(state) == len(before)
