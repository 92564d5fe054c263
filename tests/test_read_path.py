"""Read-path pins: the driver-side Murmur3 port ``lookup`` plans its
bucket ids with equals Spark's ``hash()``, and the merge-on-read fold
breaks exact-LSN ties toward the newest append — the append ordinal is
derived per row from the file's dir, so the pin runs under roots whose
names need URI escaping, directly and through a shallow clone."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from medallion_etl_spark.cdc.apply import apply_batch
from medallion_etl_spark.cdc.table import LakeTable, bucket_expr, spark_hash

EVENT_SCHEMA = "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string"


def _random_strings(rng: random.Random, n: int) -> list[str]:
    # 1-, 2-, 3- and 4-byte UTF-8 code points, so every byte-tail
    # length (0-3) and signed (>= 0x80) tail bytes all occur
    alphabet = "abcXYZ09 _-" + "éßñ" + "€中日" + "\U0001d11e\U0001f600"
    out = ["", "a", "ab", "abc", "abcd", "é", "€", "\U0001f600"]
    while len(out) < n:
        out.append("".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 12))))
    return out


@pytest.mark.parametrize(
    "dtype, gen",
    [
        (T.StringType(), _random_strings),
        (
            T.IntegerType(),
            lambda rng, n: [0, 1, -1, 2**31 - 1, -(2**31)]
            + [rng.randrange(-(2**31), 2**31) for _ in range(n - 5)],
        ),
        (
            T.LongType(),
            lambda rng, n: [0, 1, -1, 2**63 - 1, -(2**63), 2**32, -(2**32)]
            + [rng.randrange(-(2**63), 2**63) for _ in range(n - 7)],
        ),
    ],
    ids=["string", "int", "long"],
)
def test_spark_hash_port_matches_bucket_expr(spark, dtype, gen):
    keys = gen(random.Random(7), 10_000) + [None]
    df = spark.createDataFrame([(k,) for k in keys], T.StructType([T.StructField("k", dtype)]))
    rows = df.select(
        "k",
        F.hash("k").alias("h"),
        bucket_expr("k", 7).alias("b7"),
        bucket_expr("k", 64).alias("b64"),
    ).collect()
    assert len(rows) == len(keys)
    bad = [
        r
        for r in rows
        for h in [spark_hash(r["k"], dtype)]
        if (h, h % 7, h % 64) != (r["h"], r["b7"], r["b64"])
    ]
    assert not bad, f"{len(bad)} mismatches, first: {bad[:3]}"


def test_spark_hash_port_declines_what_it_does_not_cover():
    assert spark_hash(1.5, T.DoubleType()) is None
    assert spark_hash("1", T.LongType()) is None
    assert spark_hash(2**31, T.IntegerType()) is None


def _apply(spark, table, rows, batch_id, write_mode):
    lsns = [r[0] for r in rows]
    apply_batch(
        spark,
        table,
        spark.createDataFrame(rows, EVENT_SCHEMA),
        batch_id=batch_id,
        lsn_lo=min(lsns),
        lsn_hi=max(lsns),
        write_mode=write_mode,
    )
    return LakeTable.load(table.root)


@pytest.mark.smoke
def test_exact_lsn_tie_goes_to_the_newest_append(spark, tmp_path):
    """A base row and a merge-on-read delta share one LSN with different
    payloads: the read returns the delta's. Same through a shallow
    clone, whose sources are absolute paths into the source table, and
    for a clone-local delta stacked on those at the same LSN again."""
    root = tmp_path / "lake a+b é€ %20" / "t"
    table = LakeTable.create(str(root), n_buckets=4)
    others = [(1, "I", "b", [1], 1, "s"), (2, "I", "c", [2], 1, "s")]
    table = _apply(spark, table, [(5, "I", "a", [1], 1, "base"), *others], 0, "cow")
    table = _apply(spark, table, [(5, "U", "a", [2], 2, "delta")], 1, "mor")
    bucket = table.meta["buckets"][str(spark_hash("a", T.StringType()) % 4)]
    assert len(bucket["deltas"]) == 1

    def row_a(t):
        rows = t.lookup(spark, ["a"]).collect()
        assert len(rows) == 1
        return rows[0]["source"], rows[0]["tokens"]

    assert row_a(table) == ("delta", [2])
    full = {r["doc_id"]: r["source"] for r in table.read(spark).collect()}
    assert full == {"a": "delta", "b": "s", "c": "s"}

    clone = table.clone_to(str(tmp_path / "clone + ü dir" / "t"))
    assert row_a(clone) == ("delta", [2])
    clone = _apply(spark, clone, [(5, "U", "a", [3], 3, "clone-delta")], 2, "mor")
    assert row_a(clone) == ("clone-delta", [3])
    # the source never sees the clone's append
    assert row_a(LakeTable.load(str(root))) == ("delta", [2])
