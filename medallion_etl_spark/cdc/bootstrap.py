"""Convert an existing parquet dataset into a LakeTable in one commit —
the Delta ``CONVERT TO DELTA`` / Iceberg ``migrate`` analog, and the
reference's initial-full-load path (reference orchestrator.py's
first-run full extract) expressed through the engine.

The source rows become one bulk batch of upsert events at a single
caller-chosen LSN (default 0 — strictly below any future change
stream, so the converted state loses to every later event, which is
exactly what an initial load must do). The batch applies through
``apply_batch``: same bucket layout, manifest entry, lineage, footer
stats and CHECK-constraint enforcement as any replay chunk, so the
converted table is indistinguishable from one built by replay and
every feature (replay resume, DML, merge, time travel, feed, clone)
works on it immediately.

Because every converted row shares the one LSN, duplicate keys would
have no defined LWW winner — they are REFUSED (dedupe upstream first),
the same determinism rule MERGE INTO applies to its source.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import DOCS_SCHEMAS
from .apply import apply_batch
from .manifest import CONVERT_BATCH_ID
from .table import LakeTable


def convert_from_parquet(
    spark: SparkSession,
    source: str | DataFrame,
    root: str,
    *,
    n_buckets: int = 16,
    schema_version: int = 1,
    key_col: str = "doc_id",
    lsn: int = 0,
    bloom_key_filter: bool = False,
    constraints: dict[str, str] | None = None,
) -> dict:
    """Create the LakeTable at ``root`` from ``source`` (a parquet path
    or a DataFrame already shaped like ``DOCS_SCHEMAS[schema_version]``).
    Refuses an existing table, missing columns, and duplicate keys. A
    failed conversion (e.g. a CHECK violation against ``constraints``)
    removes the half-created root — convert is all-or-nothing."""
    if LakeTable.exists(root):
        raise ValueError(f"{root} is already a table")
    if os.path.exists(root):
        # convert must own the root outright: the all-or-nothing
        # cleanup below removes the WHOLE directory on failure, which
        # is only safe for a directory this call created
        raise ValueError(
            f"{root} already exists (and is not a table): convert creates "
            "a fresh root — point it at a path that does not exist yet"
        )
    df = spark.read.parquet(source) if isinstance(source, str) else source
    fields = DOCS_SCHEMAS[schema_version].fields
    missing = [f.name for f in fields if f.name not in df.columns]
    if missing:
        raise ValueError(
            f"source is missing table columns {missing} for schema_version "
            f"{schema_version}; map/rename the source first"
        )
    n_dup = df.groupBy(key_col).count().filter(F.col("count") > 1).count()
    if n_dup:
        raise ValueError(
            f"{n_dup} source key(s) appear more than once: all converted "
            "rows share one LSN, so duplicates have no defined LWW winner — "
            "dedupe the source first (e.g. dedup.dedup_latest)"
        )
    events = df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in fields],
        F.lit(lsn).cast("long").alias("lsn"),
        F.lit("U").alias("op"),
    )
    table = LakeTable.create(
        root,
        n_buckets=n_buckets,
        schema_version=schema_version,
        key_col=key_col,
        bloom_key_filter=bloom_key_filter,
        constraints=constraints,
    )
    try:
        res = apply_batch(
            spark,
            table,
            events,
            batch_id=CONVERT_BATCH_ID,
            lsn_lo=lsn,
            lsn_hi=lsn,
            write_mode="cow",
        )
    except Exception:
        shutil.rmtree(root, ignore_errors=True)
        raise
    return {
        "rows_converted": res["rows_applied"],
        "buckets": len(res["buckets"]),
        "version": LakeTable.load(root).version,
        "root": root,
    }
