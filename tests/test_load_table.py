"""``sources/readers.load_table`` plans every read with a known schema.

A schema-less ``spark.read.parquet`` launches a Spark job to infer the
schema; ``load_table`` infers it once per file identity and session
settings and passes it to every later read. These tests pin that a
repeat read launches no job, that the memoized schema is the one Spark
infers, that a rewritten file or an added part file is picked up, and
that a missing path fails exactly as a schema-less read does."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from medallion_etl_spark.sources.readers import load_table

from .test_plan_shapes import _spark_jobs

pytestmark = pytest.mark.smoke


def _tables(sf_dir: str) -> list[str]:
    return sorted(f[: -len(".parquet")] for f in os.listdir(sf_dir) if f.endswith(".parquet"))


def test_a_table_read_before_plans_without_a_spark_job(spark, sf_small):
    names = _tables(sf_small)
    assert len(names) >= 8
    for name in names:
        load_table(spark, sf_small, name)
    with _spark_jobs(spark) as jobs:
        for name in names:
            load_table(spark, sf_small, name).schema  # noqa: B018
    assert jobs == []


def test_the_memoized_schema_is_the_inferred_one(spark, sf_small):
    for name in _tables(sf_small):
        path = os.path.join(sf_small, f"{name}.parquet")
        load_table(spark, sf_small, name)
        assert load_table(spark, sf_small, name).schema == spark.read.parquet(path).schema, name


def test_a_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int32())}), path)
    assert load_table(spark, str(tmp_path), "t").dtypes == [("a", "int")]

    # a widened type and an added column, at the same path
    pq.write_table(
        pa.table({"a": pa.array([2**40], pa.int64()), "b": pa.array(["x"], pa.string())}), path
    )
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("a", "bigint"), ("b", "string")]
    assert [tuple(r) for r in df.collect()] == [(2**40, "x")]


def test_a_part_file_added_to_a_directory_table_is_read(spark, tmp_path):
    root = tmp_path / "t.parquet"
    os.makedirs(root / "p=1")
    pq.write_table(pa.table({"a": [1]}), str(root / "p=1" / "part-0.parquet"))
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("a", "bigint"), ("p", "int")]
    assert df.count() == 1

    # a partition value that is not an int retypes the partition column
    os.makedirs(root / "p=x")
    pq.write_table(pa.table({"a": [2]}), str(root / "p=x" / "part-0.parquet"))
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("a", "bigint"), ("p", "string")]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "1"), (2, "x")]


def test_a_session_setting_that_retypes_columns_is_honoured(spark, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), str(tmp_path / "t.parquet"))
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    assert load_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]
    spark.conf.set(key, "true")
    try:
        assert load_table(spark, str(tmp_path), "t").dtypes == [("b", "string")]
    finally:
        spark.conf.set(key, before)
    assert load_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]


def test_a_missing_path_fails_as_a_schema_less_read(spark, tmp_path):
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(str(tmp_path / "nope.parquet"))
    with pytest.raises(AnalysisException) as got:
        load_table(spark, str(tmp_path), "nope")
    assert plain.value.getCondition() == "PATH_NOT_FOUND"
    assert got.value.getCondition() == plain.value.getCondition()
    assert type(got.value) is type(plain.value)
