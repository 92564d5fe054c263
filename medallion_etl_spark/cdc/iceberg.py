"""Iceberg runtime detection behind the table interface.

BASELINE.json's north_star names "Iceberg MERGE-style upserts through
Iceberg table metadata". This sandbox ships no Iceberg jar, so the
engine's default table is the from-scratch :class:`LakeTable`
(table.py) — the same commit model (immutable files, versioned
metadata, atomic pointer swap) built from first principles. This
module is the runtime gate SURVEY.md §7.4 promised: detect an Iceberg
runtime at session time and route table opens through it when present,
falling back to the Parquet LakeTable otherwise.

The MERGE statement the Iceberg path would execute is generated here
as a pure function (`merge_upsert_sql`) so its LWW/tombstone semantics
are unit-testable with no Iceberg jar: max-LSN-wins per key with
null-safe key equality, delete tombstones carried as rows — the exact
contract apply.py implements on the LakeTable (any divergence between
the two paths would be a correctness bug, so the SQL is pinned by
tests/test_iceberg_gate.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .table import LakeTable

ICEBERG_CATALOG_IMPLS = (
    "org.apache.iceberg.spark.SparkCatalog",
    "org.apache.iceberg.spark.SparkSessionCatalog",
)


def iceberg_runtime_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime jar is on the session's JVM
    classpath. try/except at the JVM boundary — never assume jars."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def configured_iceberg_catalogs(spark: SparkSession) -> list[str]:
    """Catalog names whose ``spark.sql.catalog.<name>`` points at an
    Iceberg implementation."""
    out = []
    for k, v in spark.sparkContext.getConf().getAll():
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3 and v in ICEBERG_CATALOG_IMPLS:
            out.append(k.rsplit(".", 1)[1])
    return sorted(out)


def merge_upsert_sql(target: str, source_view: str, key_col: str, cols: list[str]) -> str:
    """The MERGE INTO an Iceberg-backed apply would run per deduped
    chunk. Semantics mirrored from apply.py's LakeTable merge:

    - null-safe key equality (``<=>``): NULL keys form one LWW group
      on both physical paths (reference BUG-004 fixed, BUGS.md:28-33);
    - max-LSN-wins: an already-stored row only loses to a strictly
      higher ``_lsn`` (redelivered equal-LSN events are no-ops);
    - deletes are tombstone UPDATEs, not SQL DELETEs, so a stale
      lower-LSN update can never resurrect a deleted key; compaction
      purges them later (table.py compact()).
    """
    sets = ", ".join(f"t.{c} = s.{c}" for c in [*cols, "_lsn", "_deleted"])
    names = ", ".join([*cols, "_lsn", "_deleted"])
    values = ", ".join(f"s.{c}" for c in [*cols, "_lsn", "_deleted"])
    return (
        f"MERGE INTO {target} t USING {source_view} s "
        f"ON t.{key_col} <=> s.{key_col} "
        f"WHEN MATCHED AND s._lsn > t._lsn THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({names}) VALUES ({values})"
    )


def merge_upsert_duckdb_stmts(
    target: str, source_view: str, key_col: str, cols: list[str]
) -> list[str]:
    """EXECUTABLE twin of :func:`merge_upsert_sql` for engines that
    speak ``INSERT ... ON CONFLICT`` instead of ``MERGE INTO`` —
    DuckDB 1.x and PostgreSQL, the reference's own upsert primitive
    (reference stock_transformer.py:99-106). Generated from the SAME
    (target, source, key, cols) spec so the two renderings cannot
    drift, and used by tests/test_iceberg_gate.py to RUN the merge
    semantics end-to-end against a real SQL engine: this sandbox ships
    no Iceberg runtime jar and has no network for
    ``spark.jars.packages`` (attempted recipe in BENCH/BASELINE.md),
    so executing the clause semantics in DuckDB is the strongest
    available evidence that the generated MERGE does what apply.py's
    LakeTable path does.

    Returns statements to run in order (one transaction). ``target``
    needs a UNIQUE constraint on ``key_col``; the NULL-key LWW group
    (part of merge_upsert_sql's null-safe ``<=>`` contract, though the
    replay path quarantines NULL keys before any merge) needs the
    explicit UPDATE/INSERT pair because SQL unique indexes treat NULLs
    as distinct, so ON CONFLICT can never fire for them. The source
    view must already be LWW-deduped to one row per key — the same
    precondition merge_upsert_sql documents (ON CONFLICT refuses to
    update the same row twice, which conveniently ENFORCES it for
    non-NULL keys; the NULL-key pair reads only the group's max-``_lsn``
    source row, so it too applies exactly one winner)."""
    all_cols = [*cols, "_lsn", "_deleted"]
    names = ", ".join(all_cols)
    # the key column never appears in a SET list: its value is pinned
    # by the match itself, and DuckDB refuses assignments to UNIQUE
    # columns inside DO UPDATE (merge_upsert_sql's Spark rendering may
    # include it — there it's a no-op self-assignment)
    set_cols = [c for c in all_cols if c != key_col]
    sets = ", ".join(f"{c} = excluded.{c}" for c in set_cols)
    null_sets = ", ".join(f"{c} = s.{c}" for c in set_cols)
    # ON CONFLICT refuses a second source row for one key, but nothing
    # stops two NULL-key source rows: both NULL-key statements read
    # only the group's max-_lsn row, so a source that broke the
    # one-row-per-key precondition still yields the LWW winner there
    null_winner = (
        f"SELECT * FROM {source_view} WHERE {key_col} IS NULL "
        f"ORDER BY _lsn DESC LIMIT 1"
    )
    return [
        # non-NULL keys: WHEN MATCHED AND s._lsn > t._lsn THEN UPDATE
        # + WHEN NOT MATCHED THEN INSERT, as one guarded upsert
        f"INSERT INTO {target} ({names}) "
        f"SELECT {names} FROM {source_view} WHERE {key_col} IS NOT NULL "
        f"ON CONFLICT ({key_col}) DO UPDATE SET {sets} "
        f"WHERE excluded._lsn > {target}._lsn",
        # NULL-key group, WHEN MATCHED twin
        f"UPDATE {target} SET {null_sets} FROM ({null_winner}) s "
        f"WHERE {target}.{key_col} IS NULL AND s._lsn > {target}._lsn",
        # NULL-key group, WHEN NOT MATCHED twin
        f"INSERT INTO {target} ({names}) "
        f"SELECT {names} FROM ({null_winner}) s "
        f"WHERE NOT EXISTS (SELECT 1 FROM {target} WHERE {key_col} IS NULL)",
    ]


def open_table(
    spark: SparkSession,
    root: str,
    *,
    create: bool = False,
    prefer_iceberg: bool = True,
    **create_kwargs,
) -> LakeTable:
    """Table-open factory: route through Iceberg when a runtime AND a
    configured catalog exist, else the Parquet LakeTable. Today the
    Iceberg branch only reports what it would do — shipping an
    untestable MERGE executor from a jar-less sandbox would be worse
    than the honest gate — so it falls through with a warning."""
    if prefer_iceberg and iceberg_runtime_available(spark):
        catalogs = configured_iceberg_catalogs(spark)
        if catalogs:
            import warnings

            warnings.warn(
                f"Iceberg runtime + catalog(s) {catalogs} detected; the Iceberg-backed "
                "apply path (merge_upsert_sql) is not wired in this build — using the "
                "Parquet LakeTable, which implements identical MERGE semantics.",
                stacklevel=2,
            )
    if create:
        return LakeTable.create(root, **create_kwargs)
    return LakeTable.load(root)
