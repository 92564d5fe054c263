"""Independent oracles for the benchmark's outputs, computed in DuckDB.

- CDC workloads: the table's visible state must equal a last-writer-wins
  (max LSN per key, deletes hide the key) query over the same events
  parquet. Compared as the visible row count plus an order-independent
  digest of ``(doc_id, n_tok, tokens)``.
- Query workloads: each registry query's output must equal its
  registered oracle SQL, canonicalized the way the repository's oracle
  parity tests do it (sorted columns, order-insensitive rows, floats
  kept distinguishable from ints, NaN == NULL).
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb


def _row_hash(doc_id, n_tok, tokens) -> int:
    toks = ",".join(str(int(t)) for t in tokens) if tokens is not None else "\x00"
    text = f"{doc_id}\x1f{n_tok}\x1f{toks}"
    return int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "little")


def state_digest(rows) -> tuple[int, int]:
    """(row count, sum of per-row hashes mod 2^64) over
    ``(doc_id, n_tok, tokens)`` tuples: independent of row order."""
    n = 0
    acc = 0
    for doc_id, n_tok, tokens in rows:
        n += 1
        acc = (acc + _row_hash(doc_id, n_tok, tokens)) & 0xFFFFFFFFFFFFFFFF
    return n, acc


def lww_oracle(events_path: str, lsn_hi: int) -> tuple[int, int]:
    """Visible state after applying every event with ``lsn <= lsn_hi``."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            SELECT doc_id, n_tok, tokens FROM (
                SELECT doc_id, op, n_tok, tokens,
                       row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
                FROM read_parquet('{os.path.join(events_path, '*.parquet')}')
                WHERE lsn <= ?
            ) WHERE rn = 1 AND op <> 'D'
            """,
            [lsn_hi],
        ).fetchall()
    finally:
        con.close()
    return state_digest(rows)


def table_state(spark, table) -> tuple[int, int]:
    rows = table.read(spark).select("doc_id", "n_tok", "tokens").collect()
    return state_digest((r[0], r[1], r[2]) for r in rows)


# ---- query oracles --------------------------------------------------------


def _canon_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return ("f", float(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or v.__class__.__name__ == "ndarray":
        return tuple(_canon_cell(x) for x in v)
    return v


def canon(df) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [
        tuple(_canon_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    return cols, sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def duck_views(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t + '.parquet')}'")
    return con


def query_matches(got_pdf, oracle_pdf) -> bool:
    return len(got_pdf) == len(oracle_pdf) and canon(got_pdf) == canon(oracle_pdf)
