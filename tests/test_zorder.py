"""Z-order compaction (cdc/zorder.py): data is preserved, files are
physically sorted by the documented Z-value (verified bit-for-bit
against a Python mirror of the coding), and row-group min/max stats
on the interleaved dimensions get tighter than key-sorted layout —
the property that buys non-key-predicate row-group pruning."""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from medallion_etl_spark.cdc.apply import apply_batch
from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.cdc.zorder import zvalue_col

BITS = 8
N_BINS = 1 << BITS


def _events(spark, n=40_000):
    # n_tok sweeps 0..9999 (co-prime stride), source cycles s0..s7 —
    # both dimensions are uncorrelated with doc_id, so a key sort
    # leaves them unclustered
    return spark.range(n).select(
        F.col("id").alias("lsn"),
        F.lit("U").alias("op"),
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.sequence(F.lit(0), F.lit(31)).alias("tokens"),
        ((F.col("id") * 37) % 10_000).cast("long").alias("n_tok"),
        F.concat(F.lit("s"), F.col("id") % 8).alias("source"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(1).alias("schema_version"),
    )


def _build(spark, root):
    t = LakeTable.create(root, n_buckets=4)
    apply_batch(
        spark, t, _events(spark), batch_id=0, lsn_lo=0, lsn_hi=39_999
    )
    return LakeTable.load(root)


def _bucket_files(table):
    out = []
    for entry in table.meta["buckets"].values():
        d = os.path.join(table.root, entry["dir"])
        out.extend(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )
    return out


# -- Python mirror of the zvalue coding --------------------------------


def _sprefix(s):
    b = s.encode("utf-8")[:4]
    return float(int.from_bytes(b, "big")) if b else None


def _code(v, lo, hi):
    if v is None or hi <= lo:
        return 0
    return int(min(N_BINS - 1, max(0, math.floor((v - lo) / (hi - lo) * N_BINS))))


def _pyz(codes):
    z = 0
    for b in range(BITS):
        for i, c in enumerate(codes):
            z |= ((c >> b) & 1) << (b * len(codes) + i)
    return z


def test_zorder_compact_preserves_data_and_records_clustering(spark, tmp_path):
    table = _build(spark, str(tmp_path / "t"))
    before = sorted(
        (r["doc_id"], r["n_tok"], r["source"])
        for r in table.read(spark).collect()
    )
    table.compact(spark, watermark_lsn=-1, zorder_by=["n_tok", "source"])
    table = LakeTable.load(table.root)
    after = sorted(
        (r["doc_id"], r["n_tok"], r["source"])
        for r in table.read(spark).collect()
    )
    assert after == before
    assert table.meta["clustering"] == {
        "kind": "zorder",
        "cols": ["n_tok", "source"],
        "coding": "linear",
    }


def test_files_are_sorted_by_the_documented_zvalue(spark, tmp_path):
    table = _build(spark, str(tmp_path / "t"))
    table.compact(spark, watermark_lsn=-1, zorder_by=["n_tok", "source"])
    table = LakeTable.load(table.root)
    files = _bucket_files(table)
    assert files
    # global ranges over the same frame zvalue_col aggregated
    rows_all = []
    for f in files:
        tb = pq.read_table(f, columns=["n_tok", "source"])
        rows_all.append(tb.to_pylist())
    n_vals = [float(r["n_tok"]) for rows in rows_all for r in rows]
    s_vals = [_sprefix(r["source"]) for rows in rows_all for r in rows]
    lo_n, hi_n = min(n_vals), max(n_vals)
    lo_s, hi_s = min(s_vals), max(s_vals)
    for rows in rows_all:
        zs = [
            _pyz(
                [
                    _code(float(r["n_tok"]), lo_n, hi_n),
                    _code(_sprefix(r["source"]), lo_s, hi_s),
                ]
            )
            for r in rows
        ]
        assert zs == sorted(zs), "bucket file not in Z-value order"


def _avg_rowgroup_spread(files, col="n_tok"):
    spreads, groups = [], 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            spreads.append(st.max - st.min)
            groups += md.num_row_groups
    return sum(spreads) / len(spreads), len(spreads)


def test_zorder_tightens_rowgroup_stats_vs_key_sort(spark, tmp_path):
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 64 * 1024)  # force many row groups
    try:
        key_t = _build(spark, str(tmp_path / "key"))
        key_t.compact(spark, watermark_lsn=-1)  # default: key sort
        z_t = _build(spark, str(tmp_path / "z"))
        z_t.compact(spark, watermark_lsn=-1, zorder_by=["n_tok", "source"])
    finally:
        if old is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old)
    key_spread, key_groups = _avg_rowgroup_spread(_bucket_files(LakeTable.load(key_t.root)))
    z_spread, z_groups = _avg_rowgroup_spread(_bucket_files(LakeTable.load(z_t.root)))
    assert key_groups >= 8 and z_groups >= 8, "expected multiple row groups"
    # key-sorted layout leaves n_tok ~full-range per row group; the
    # Z-sorted layout must be meaningfully tighter (=> pruning works)
    assert z_spread < 0.6 * key_spread, (z_spread, key_spread)


def test_zvalue_rejects_bad_inputs(spark):
    df = _events(spark, n=10)
    with pytest.raises(ValueError, match="not in frame"):
        zvalue_col(df, ["nope"])
    with pytest.raises(ValueError, match="overflows"):
        zvalue_col(df, ["n_tok", "source", "lsn", "doc_id"], bits=16)
    with pytest.raises(ValueError, match="not Z-orderable"):
        zvalue_col(df, ["tokens"])
    with pytest.raises(ValueError, match="unknown zorder coding"):
        zvalue_col(df, ["n_tok"], coding="rank")


# -- quantile coding ---------------------------------------------------


def _skewed(spark, n=40_000):
    """95% of n_tok packed into [0, 100), 5% spread to 2_000_000 —
    the shape that collapses linear bins (nearly all rows land in
    bin 0 of a [0, 2M] range) but not quantile bins."""
    return spark.range(n).select(
        F.col("id").alias("lsn"),
        F.lit("U").alias("op"),
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.sequence(F.lit(0), F.lit(7)).alias("tokens"),
        F.when(F.col("id") % 20 != 0, (F.col("id") * 37) % 100)
        .otherwise((F.col("id") * 7919) % 2_000_000)
        .cast("long")
        .alias("n_tok"),
        F.concat(F.lit("s"), F.col("id") % 8).alias("source"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(1).alias("schema_version"),
    )


def test_quantile_codes_are_monotonic_and_balanced(spark):
    """Single-dimension Z-value == the bin code itself; on a skewed
    column quantile bins must (a) preserve value order and (b) spread
    rows across many bins where linear coding collapses to few."""
    df = _skewed(spark).cache()
    rows = (
        df.select(
            F.col("n_tok"),
            zvalue_col(df, ["n_tok"], coding="quantile").alias("qz"),
            zvalue_col(df, ["n_tok"], coding="linear").alias("lz"),
        )
        .collect()
    )
    df.unpersist()
    by_val = sorted((r["n_tok"], r["qz"]) for r in rows)
    codes_in_value_order = [q for _, q in by_val]
    assert codes_in_value_order == sorted(codes_in_value_order), "not monotonic"

    def max_bin_share(codes):
        counts: dict[int, int] = {}
        for c in codes:
            counts[c] = counts.get(c, 0) + 1
        return max(counts.values()) / len(codes)

    q_share = max_bin_share([r["qz"] for r in rows])
    l_share = max_bin_share([r["lz"] for r in rows])
    # linear coding dumps the packed 95% into a handful of bins; the
    # equal-frequency bins must be at least 5x more balanced
    assert l_share > 0.2, l_share
    assert q_share < l_share / 5, (q_share, l_share)


def test_quantile_zorder_compact_preserves_data_and_tightens_stats(spark, tmp_path):
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 64 * 1024)
    try:
        lin_t = LakeTable.create(str(tmp_path / "lin"), n_buckets=4)
        apply_batch(
            spark, lin_t, _skewed(spark), batch_id=0, lsn_lo=0, lsn_hi=39_999,
        )
        lin_t = LakeTable.load(lin_t.root)
        before = sorted(
            (r["doc_id"], r["n_tok"]) for r in lin_t.read(spark).collect()
        )
        lin_t.compact(spark, watermark_lsn=-1, zorder_by=["n_tok", "source"])

        q_t = LakeTable.create(str(tmp_path / "q"), n_buckets=4)
        apply_batch(
            spark, q_t, _skewed(spark), batch_id=0, lsn_lo=0, lsn_hi=39_999,
        )
        q_t = LakeTable.load(q_t.root)
        q_t.compact(
            spark, watermark_lsn=-1, zorder_by=["n_tok", "source"],
            zorder_coding="quantile",
        )
    finally:
        if old is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old)
    q_t = LakeTable.load(q_t.root)
    after = sorted((r["doc_id"], r["n_tok"]) for r in q_t.read(spark).collect())
    assert after == before
    assert q_t.meta["clustering"]["coding"] == "quantile"

    # row-group pruning for the hot range [0, 100): a row group prunes
    # for a `n_tok < 100` scan iff its min stat is >= 100. The skew
    # means ~95% of rows are < 100; under linear coding they share
    # bins with the tail so few groups prune — quantile coding must
    # isolate the tail into its own groups.
    def prunable_fraction(files):
        total = prunable = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index("n_tok")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                total += 1
                if st.min >= 100:
                    prunable += 1
        return prunable, total

    lin_p, lin_tot = prunable_fraction(_bucket_files(LakeTable.load(lin_t.root)))
    q_p, q_tot = prunable_fraction(_bucket_files(q_t))
    assert q_tot >= 8, "expected multiple row groups"
    assert q_p > lin_p, (q_p, lin_p)
