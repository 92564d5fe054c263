"""Iceberg runtime gate (SURVEY.md §7.4): detection is honest
try/except at the JVM boundary, the factory falls back to the Parquet
LakeTable, and the MERGE SQL the Iceberg path would run pins the same
LWW/tombstone semantics apply.py implements."""

from __future__ import annotations

import pandas as pd
import pytest

from medallion_etl_spark.cdc.iceberg import (
    configured_iceberg_catalogs,
    iceberg_runtime_available,
    merge_upsert_duckdb_stmts,
    merge_upsert_sql,
    open_table,
)
from medallion_etl_spark.cdc.table import LakeTable


def test_gate_detects_absent_runtime(spark):
    # this container ships no Iceberg jar; the gate must say so
    # without raising (on a cluster image with the jar it flips true)
    assert iceberg_runtime_available(spark) is False
    assert configured_iceberg_catalogs(spark) == []


@pytest.mark.skipif(
    True, reason="requires an Iceberg runtime jar; none in this container"
)
def test_gate_detects_present_runtime(spark):
    assert iceberg_runtime_available(spark) is True


def test_open_table_falls_back_to_lake_table(spark, tmp_path):
    t = open_table(spark, str(tmp_path / "t"), create=True, n_buckets=4)
    assert isinstance(t, LakeTable)
    t2 = open_table(spark, str(tmp_path / "t"))
    assert isinstance(t2, LakeTable) and t2.n_buckets == 4


def _run_chunks_in_duckdb(chunks_pdf: list, cols: list[str]):
    """Execute the generated upsert statements chunk-by-chunk in a real
    DuckDB database and return the final VISIBLE state (tombstones
    dropped, like LakeTable.read)."""
    import duckdb

    con = duckdb.connect()
    col_defs = ", ".join(
        {
            "doc_id": "doc_id VARCHAR UNIQUE",
            # serialized: DuckDB 1.0 cannot UPDATE LIST columns; the
            # merge semantics under test are per-row LWW, not typed
            "tokens": "tokens VARCHAR",
            "n_tok": "n_tok BIGINT",
            "source": "source VARCHAR",
            "lang": "lang VARCHAR",
        }[c]
        for c in cols
    )
    con.execute(f"CREATE TABLE docs_t ({col_defs}, _lsn BIGINT, _deleted BOOLEAN)")
    stmts = merge_upsert_duckdb_stmts("docs_t", "chunk_winners", "doc_id", cols)
    for pdf in chunks_pdf:
        con.register("chunk_raw", pdf)
        # per-chunk LWW dedup to one winner per key — the documented
        # precondition of BOTH renderings (apply.py fuses this with the
        # merge; here it's the arg_max the MERGE's source view would be)
        payload = ", ".join(
            c if c == "doc_id" else f"arg_max({c}, lsn) AS {c}" for c in cols
        )
        con.execute(
            "CREATE OR REPLACE VIEW chunk_winners AS "
            f"SELECT {payload}, "
            "max(lsn) AS _lsn, arg_max(op, lsn) = 'D' AS _deleted "
            "FROM chunk_raw GROUP BY doc_id"
        )
        con.execute("BEGIN")
        for s in stmts:
            con.execute(s)
        con.execute("COMMIT")
        con.unregister("chunk_raw")
    return con.execute(
        "SELECT " + ", ".join(cols) + " FROM docs_t WHERE NOT _deleted ORDER BY doc_id"
    ).df()


def test_generated_upsert_sql_executes_to_the_lake_table_state(spark, tmp_path):
    """VERDICT r4 task 4, the strengthened leg: no Iceberg runtime
    exists in this container (no jar, no network — see
    BENCH/BASELINE.md), so EXECUTE the generated merge semantics in
    DuckDB — the reference's own ON CONFLICT engine family
    (stock_transformer.py:99-106) — chunk-by-chunk over a real change
    stream, applied OUT OF ORDER, and require the final visible state
    to equal the LakeTable replay of the same stream. This turns the
    string-shape assertions below into an executed end-to-end parity
    check of the SQL the Iceberg path would run."""
    from pyspark.sql import functions as F

    from medallion_etl_spark.cdc.apply import apply_batch
    from medallion_etl_spark.synth import gen_events

    ev = gen_events(spark, n_events=3_000, n_keys=250, with_evolution=False)
    ranges = [(0, 749), (750, 1499), (1500, 2249), (2250, 2999)]

    # LakeTable path, chunks applied out of order (order-independence
    # is part of the merge contract both renderings implement)
    order = [2, 0, 3, 1]
    root = str(tmp_path / "t")
    LakeTable.create(root, n_buckets=4)
    for i in order:
        lo, hi = ranges[i]
        apply_batch(
            spark,
            LakeTable.load(root),
            ev.filter(f"lsn BETWEEN {lo} AND {hi}"),
            batch_id=i,
            lsn_lo=lo,
            lsn_hi=hi,
        )
    lake = (
        LakeTable.load(root)
        .read(spark)
        .select(
            "doc_id",
            F.array_join("tokens", ",").alias("tokens"),
            "n_tok",
            "source",
        )
        .toPandas()
    )

    # generated-SQL path, same chunk order, executed in DuckDB (tokens
    # pre-serialized — see _run_chunks_in_duckdb)
    # with_evolution=False streams carry no lang column
    cols = ["doc_id", "tokens", "n_tok", "source"]
    chunks = [
        ev.filter(f"lsn BETWEEN {ranges[i][0]} AND {ranges[i][1]}")
        .select(
            "lsn", "op", "doc_id",
            F.array_join("tokens", ",").alias("tokens"),
            "n_tok", "source",
        )
        .toPandas()
        for i in order
    ]
    duck = _run_chunks_in_duckdb(chunks, cols)
    assert len(duck) == len(lake) > 0

    def canon(pdf):
        out = pdf.copy().sort_values("doc_id").reset_index(drop=True)
        out["n_tok"] = out["n_tok"].astype("Int64").astype(object)
        for c in cols:
            out[c] = out[c].map(
                lambda v: None if pd.isna(v) else str(v)
            )
        return out

    g, e = canon(duck[cols]), canon(lake[cols])
    for c in cols:
        mism = [
            (i, a, b)
            for i, (a, b) in enumerate(zip(g[c].tolist(), e[c].tolist()))
            if a != b and not (a is None and b is None)
        ]
        assert not mism, f"column {c}: {len(mism)} mismatches, first: {mism[:3]}"


def test_generated_upsert_sql_is_redelivery_idempotent(spark, tmp_path):
    """The exactly-once-under-redelivery leg of the contract, executed
    in DuckDB: re-running every chunk a second time (equal LSNs — the
    strictly-greater guard must no-op them) leaves the state
    bit-identical to the single-delivery run."""
    from pyspark.sql import functions as F

    from medallion_etl_spark.synth import gen_events

    ev = gen_events(spark, n_events=1_500, n_keys=200, with_evolution=False)
    cols = ["doc_id", "tokens", "n_tok", "source"]
    chunks = [
        ev.filter(f"lsn BETWEEN {lo} AND {hi}")
        .select(
            "lsn", "op", "doc_id",
            F.array_join("tokens", ",").alias("tokens"),
            "n_tok", "source",
        )
        .toPandas()
        for lo, hi in [(0, 499), (500, 999), (1000, 1499)]
    ]
    once = _run_chunks_in_duckdb(chunks, cols)
    twice = _run_chunks_in_duckdb(
        [*chunks, *chunks], cols  # full second delivery of every chunk
    )
    pd.testing.assert_frame_equal(
        once.reset_index(drop=True), twice.reset_index(drop=True)
    )


def test_upsert_null_key_group_honors_lww_and_tombstones():
    """The null-safe ``<=>`` leg of the contract, executed: NULL keys
    form ONE LWW group — a higher-LSN tombstone beats the stored row,
    and a stale lower-LSN update can never resurrect it."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs_t (doc_id VARCHAR UNIQUE, n_tok BIGINT, "
        "_lsn BIGINT, _deleted BOOLEAN)"
    )
    stmts = merge_upsert_duckdb_stmts("docs_t", "chunk_winners", "doc_id", ["doc_id", "n_tok"])

    def apply(rows):
        con.register("chunk_winners", pd.DataFrame(rows))
        for s in stmts:
            con.execute(s)
        con.unregister("chunk_winners")

    apply([{"doc_id": None, "n_tok": 1, "_lsn": 10, "_deleted": False}])
    assert con.execute("SELECT n_tok FROM docs_t").fetchall() == [(1,)]
    # higher-LSN tombstone wins
    apply([{"doc_id": None, "n_tok": 2, "_lsn": 20, "_deleted": True}])
    assert con.execute("SELECT _deleted FROM docs_t").fetchall() == [(True,)]
    # stale lower-LSN update cannot resurrect the deleted group
    apply([{"doc_id": None, "n_tok": 3, "_lsn": 15, "_deleted": False}])
    assert con.execute("SELECT _lsn, _deleted FROM docs_t").fetchall() == [(20, True)]
    # exactly one NULL-group row ever exists
    assert con.execute("SELECT count(*) FROM docs_t").fetchall() == [(1,)]


def test_upsert_null_key_pair_applies_only_the_max_lsn_source_row():
    """Two NULL-key rows in one source (the one-row-per-key
    precondition broken): the INSERT twin and the UPDATE twin both
    apply only the max-_lsn row, whatever the source order."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs_t (doc_id VARCHAR UNIQUE, n_tok BIGINT, "
        "_lsn BIGINT, _deleted BOOLEAN)"
    )
    stmts = merge_upsert_duckdb_stmts("docs_t", "chunk_winners", "doc_id", ["doc_id", "n_tok"])

    def apply(rows):
        con.register("chunk_winners", pd.DataFrame(rows))
        for s in stmts:
            con.execute(s)
        con.unregister("chunk_winners")

    # not matched: one row inserted, the newest
    apply([
        {"doc_id": None, "n_tok": 7, "_lsn": 30, "_deleted": False},
        {"doc_id": None, "n_tok": 5, "_lsn": 10, "_deleted": False},
    ])
    assert con.execute("SELECT n_tok, _lsn FROM docs_t").fetchall() == [(7, 30)]
    # matched: the newest of two newer rows wins, not the first listed
    apply([
        {"doc_id": None, "n_tok": 8, "_lsn": 40, "_deleted": False},
        {"doc_id": None, "n_tok": 9, "_lsn": 50, "_deleted": False},
    ])
    assert con.execute("SELECT n_tok, _lsn FROM docs_t").fetchall() == [(9, 50)]


def test_merge_sql_pins_lww_and_tombstone_semantics():
    sql = merge_upsert_sql("cat.db.docs", "chunk_winners", "doc_id", ["tokens", "n_tok"])
    # null-safe key equality (reference BUG-004 fix)
    assert "ON t.doc_id <=> s.doc_id" in sql
    # strictly-higher LSN wins; equal-LSN redelivery is a no-op
    assert "WHEN MATCHED AND s._lsn > t._lsn THEN UPDATE" in sql
    # deletes travel as tombstone columns, never a SQL DELETE clause
    assert "_deleted" in sql and "WHEN MATCHED AND" in sql and "DELETE" not in sql.replace("_deleted", "")
    assert sql.index("WHEN NOT MATCHED THEN INSERT") > sql.index("WHEN MATCHED")
