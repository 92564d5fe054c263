"""Schema-evolution unit semantics: add-column fills NULL, type-widen
casts losslessly, narrowing is refused (SURVEY.md §1.2)."""

from __future__ import annotations

import pytest

from medallion_etl_spark.cdc.evolve import aligned_cols
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.schemas import DOCS_SCHEMA_V1, DOCS_SCHEMA_V3

pytestmark = pytest.mark.smoke


def test_add_column_fills_null_and_widen_casts(spark):
    df = spark.createDataFrame([("d1", [1, 2], 2, "web")], DOCS_SCHEMA_V1)
    out = df.select(*aligned_cols(set(df.columns), 3))
    assert [f.name for f in out.schema.fields] == [f.name for f in DOCS_SCHEMA_V3.fields]
    row = out.collect()[0]
    assert row["lang"] is None  # added column -> NULL
    assert dict(out.dtypes)["n_tok"] == "bigint"  # int32 -> int64 widen
    assert row["n_tok"] == 2 and row["tokens"] == [1, 2]


def test_narrowing_is_refused(spark, tmp_path):
    # the engine's one narrowing gate is the type-change DDL
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=2, schema_version=3)
    with pytest.raises(ValueError, match="narrow"):
        table.widen_column("n_tok", "int")


def test_align_frame_subset_columns(spark):
    df = spark.createDataFrame([("d1",)], ["doc_id"])
    out = df.select(*aligned_cols(set(df.columns), 2))
    row = out.collect()[0]
    assert row["doc_id"] == "d1"
    assert row["tokens"] is None and row["lang"] is None
