"""Opt-in parquet bloom filter on the key column (Delta bloom-index
analog, recorded in table metadata): every bucket writer applies it,
default tables don't pay for it, and lookups stay correct. The filter
is verified physically via the parquet-hadoop footer (bloom offsets),
not just by option plumbing."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from medallion_etl_spark.cdc.apply import apply_batch
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.synth import gen_events


def _apply(spark, table, events, batch_id, lo, hi):
    chunk = events.filter(F.col("lsn").between(lo, hi))
    apply_batch(
        spark, table, chunk, batch_id=batch_id, lsn_lo=lo, lsn_hi=hi
    )
    return LakeTable.load(table.root)


def _bucket_files(table):
    out = []
    for entry in table.meta["buckets"].values():
        d = os.path.join(table.root, entry["dir"])
        out.extend(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))
    return out


def _bloom_columns(spark, file_path):
    """Column names with a bloom filter in the first row group, read
    from the parquet footer via the JVM parquet-hadoop classes Spark
    ships (pyarrow does not expose bloom metadata)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(file_path)
    input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(input_file)
    try:
        block = reader.getFooter().getBlocks().get(0)
        cols = block.getColumns()
        out = set()
        for i in range(cols.size()):
            col = cols.get(i)
            if col.getBloomFilterOffset() >= 0:
                out.add(".".join(col.getPath().toArray()))
        return out
    finally:
        reader.close()


def test_bloom_written_by_every_writer_and_only_when_enabled(spark, tmp_path):
    events = gen_events(spark, n_events=2_000, n_keys=300).cache()

    plain = LakeTable.create(str(tmp_path / "plain"), n_buckets=4)
    plain = _apply(spark, plain, events, 0, 0, 1_999)
    for f in _bucket_files(plain):
        assert _bloom_columns(spark, f) == set(), "default table must not pay for blooms"

    bt = LakeTable.create(str(tmp_path / "bloom"), n_buckets=4, bloom_key_filter=True)
    bt = _apply(spark, bt, events, 0, 0, 1_999)
    for f in _bucket_files(bt):
        assert _bloom_columns(spark, f) == {"doc_id"}, f

    # compact and rebucket preserve the bloom (metadata-driven, not
    # code-path-driven)
    bt.compact(spark, watermark_lsn=-1)
    bt = LakeTable.load(bt.root)
    for f in _bucket_files(bt):
        assert _bloom_columns(spark, f) == {"doc_id"}
    bt.rebucket(spark, 8)
    bt = LakeTable.load(bt.root)
    for f in _bucket_files(bt):
        assert _bloom_columns(spark, f) == {"doc_id"}

    # lookups on the bloom table are value-identical to the plain one
    keys = [r["doc_id"] for r in plain.read(spark).select("doc_id").limit(3).collect()]
    want = sorted(
        (r["doc_id"], r["n_tok"]) for r in plain.lookup(spark, keys).collect()
    )
    got = sorted((r["doc_id"], r["n_tok"]) for r in bt.lookup(spark, keys).collect())
    assert got == want and len(got) == len(keys)
