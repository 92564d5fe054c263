"""Schema versions live in TABLE METADATA, not the code registry
(VERDICT r2 #2): add_column/widen_column declare new versions in
version-N.json commits, so arbitrary DDL works without a code release.
The code registry (schemas.DOCS_SCHEMAS) is only the bootstrap default
at create time."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.cdc.replay import replay
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.schemas import DOCS_SCHEMAS
from medallion_etl_spark.synth import gen_events


def test_add_column_beyond_code_registry(spark, tmp_path):
    """Evolve a live table to a column NO code registry version ever
    declared; old files read as NULL for it, new writes carry it."""
    root = str(tmp_path / "t")
    LakeTable.create(root, n_buckets=4)
    ev = gen_events(spark, n_events=1_000, n_keys=100).cache()
    ev.count()
    replay(spark, ev.filter("lsn < 500"), LakeTable.load(root), chunk_size=500)

    t = LakeTable.load(root)
    base_sv = t.schema_version
    res = t.add_column("score", "double")
    new_sv = res["schema_version"]
    assert new_sv == max(DOCS_SCHEMAS) + 1  # beyond anything in code
    assert new_sv not in DOCS_SCHEMAS
    assert "score" in [f.name for f in LakeTable.load(root).schema().fields]

    # the stream GROWS past the DDL: new events carry the column at
    # the declared version (replay skips the committed first chunk)
    ev2 = ev.withColumn(
        "score",
        F.when(F.col("lsn") >= 500, (F.col("lsn") % 100).cast("double")),
    ).withColumn(
        "schema_version",
        F.when(F.col("lsn") >= 500, F.lit(new_sv)).otherwise(F.col("schema_version")),
    )
    replay(spark, ev2, LakeTable.load(root), chunk_size=500)

    final = LakeTable.load(root)
    assert final.schema_version == new_sv
    df = final.read(spark)
    assert "score" in df.columns
    rows = df.collect()
    assert any(r["score"] is not None for r in rows)  # new writes carry it
    # keys last touched before the DDL read as NULL (old files aligned)
    assert any(r["score"] is None for r in rows)

    # the declaration is IN METADATA: a fresh handle (fresh process
    # analog) resolves v4 without any code registry entry
    assert "score" in [f.name for f in LakeTable.load(root).schema_for(new_sv).fields]
    # pre-DDL snapshots still expose their own schema
    old = LakeTable.load_version(root, 1)
    assert "score" not in [f.name for f in old.schema().fields]
    assert old.schema_version == base_sv


def test_widen_column_and_refusals(spark, tmp_path):
    root = str(tmp_path / "t")
    LakeTable.create(root, n_buckets=4)
    ev = gen_events(spark, n_events=600, n_keys=60).cache()
    ev.count()

    t = LakeTable.load(root)
    sv_cnt = t.add_column("cnt", "int")["schema_version"]
    replay(
        spark,
        ev.filter("lsn < 300")
        .withColumn("cnt", (F.col("lsn") % 7).cast("int"))
        .withColumn("schema_version", F.lit(sv_cnt)),
        LakeTable.load(root),
        chunk_size=300,
    )

    t = LakeTable.load(root)
    sv_wide = t.widen_column("cnt", "bigint")["schema_version"]
    replay(
        spark,
        ev.withColumn("cnt", (F.col("lsn") % 7).cast("bigint")).withColumn(
            "schema_version",
            F.when(F.col("lsn") >= 300, F.lit(sv_wide)).otherwise(F.lit(sv_cnt)),
        ),
        LakeTable.load(root),
        chunk_size=300,
    )

    final = LakeTable.load(root)
    df = final.read(spark)
    assert dict(df.dtypes)["cnt"] == "bigint"  # old int files cast on read
    assert df.filter(F.col("cnt").isNotNull()).count() > 0

    # refusals: narrowing, non-widening rewrite, unknown column, no-op
    with pytest.raises(ValueError, match="not a lossless widening"):
        final.widen_column("cnt", "int")
    with pytest.raises(ValueError, match="not a lossless widening"):
        final.widen_column("source", "int")
    with pytest.raises(ValueError, match="no column"):
        final.widen_column("nope", "bigint")
    with pytest.raises(ValueError, match="already exists"):
        final.add_column("cnt", "int")


def test_stream_cannot_invent_schema_version(spark, tmp_path):
    """DDL-first: a stream naming an undeclared version fails loudly
    instead of silently aligning to a schema nobody defined."""
    root = str(tmp_path / "t")
    LakeTable.create(root, n_buckets=4)
    ev = gen_events(spark, n_events=200, n_keys=30).withColumn(
        "schema_version", F.lit(99)
    )
    with pytest.raises(KeyError, match="not declared"):
        replay(spark, ev, LakeTable.load(root), chunk_size=200)


def test_restore_keeps_schema_declarations(spark, tmp_path):
    """RESTORE rolls schema_version back with the snapshot, but the
    append-only declaration map survives — a post-restore resume can
    re-apply chunks that name the evolved version."""
    root = str(tmp_path / "t")
    LakeTable.create(root, n_buckets=4)
    ev = gen_events(spark, n_events=1_000, n_keys=100).cache()
    ev.count()
    replay(spark, ev.filter("lsn < 500"), LakeTable.load(root), chunk_size=500)

    t = LakeTable.load(root)
    pre_ddl_version = t.version
    new_sv = t.add_column("score", "double")["schema_version"]
    ev2 = ev.withColumn(
        "score", F.when(F.col("lsn") >= 500, F.lit(1.5))
    ).withColumn(
        "schema_version",
        F.when(F.col("lsn") >= 500, F.lit(new_sv)).otherwise(F.col("schema_version")),
    )
    replay(spark, ev2, LakeTable.load(root), chunk_size=500)

    LakeTable.load(root).restore(pre_ddl_version)
    t = LakeTable.load(root)
    assert t.schema_version < new_sv  # rolled back with the snapshot
    assert new_sv in t.schemas  # declaration survives
    # resume: the undone chunk re-applies at the evolved version
    replay(spark, ev2, LakeTable.load(root), chunk_size=500)
    final = LakeTable.load(root)
    assert final.schema_version == new_sv
    assert final.read(spark).filter(F.col("score").isNotNull()).count() > 0


def test_drop_column_and_name_reservation(spark, tmp_path):
    """DROP COLUMN is a pure metadata commit: reads at the new version
    never select the column (old files keep the bytes), and the name
    stays reserved — name-based alignment would resurrect the old
    stored values on a re-add."""
    root = str(tmp_path / "t")
    LakeTable.create(root, n_buckets=4)
    ev = gen_events(spark, n_events=400, n_keys=40)
    replay(spark, ev, LakeTable.load(root), chunk_size=400)

    t = LakeTable.load(root)
    assert "lang" in t.read(spark).columns
    with pytest.raises(ValueError, match="key column"):
        t.drop_column("doc_id")
    res = t.drop_column("lang")
    t = LakeTable.load(root)
    assert t.schema_version == res["schema_version"]
    df = t.read(spark)
    assert "lang" not in df.columns
    assert df.count() > 0
    with pytest.raises(ValueError, match="resurrect"):
        t.add_column("lang", "string")
    # pre-drop snapshots still expose the column
    old = LakeTable.load_version(root, res["version"] - 1)
    assert "lang" in old.read(spark).columns


def test_preimages_across_add_and_widen_column(spark, tmp_path):
    """A preimage feed whose span crosses ``widen_column`` and
    ``add_column`` serves the old rows at the CURRENT schema: the
    widened column cast up, the added column NULL."""
    root = str(tmp_path / "t")
    LakeTable.create(root, n_buckets=4)
    ev = gen_events(spark, n_events=600, n_keys=60, delete_pct=0).cache()
    ev.count()
    sv_cnt = LakeTable.load(root).add_column("cnt", "int")["schema_version"]
    replay(
        spark,
        ev.filter("lsn < 300")
        .withColumn("cnt", (F.col("lsn") % 7).cast("int"))
        .withColumn("schema_version", F.lit(sv_cnt)),
        LakeTable.load(root),
        chunk_size=300,
    )
    since = LakeTable.load(root).version
    LakeTable.load(root).widen_column("cnt", "bigint")
    sv = LakeTable.load(root).add_column("score", "double")["schema_version"]
    replay(
        spark,
        ev.withColumn("cnt", (F.col("lsn") % 7).cast("bigint"))
        .withColumn("score", F.lit(1.5))
        .withColumn("schema_version", F.lit(sv)),
        LakeTable.load(root),
        chunk_size=300,
    )

    feed = LakeTable.load(root).read_changes(spark, since, include_preimage=True)
    assert dict(feed.dtypes)["cnt"] == "bigint"
    assert dict(feed.dtypes)["score"] == "double"
    pre = feed.filter(F.col("_change_type") == "update_preimage").collect()
    assert pre, "the span changed no key that was live before it"
    assert all(r["score"] is None for r in pre)
    assert all(r["_lsn"] < 300 and r["cnt"] == r["_lsn"] % 7 for r in pre)
    post = feed.filter(F.col("_change_type") == "upsert").collect()
    assert post and all(r["score"] == 1.5 and r["_lsn"] >= 300 for r in post)
