"""Per-partition lineage: each applied batch records, per table bucket,
the source LSN range, rows applied, and bytes written.

Reference analog: per-run throughput logging (reference
sales_transformer.py:240-242) — upgraded to a queryable table as the
north_star requires. Written under ``<table_root>/lineage/batch_id=N/``
so a resumed re-apply of the same batch overwrites its own records
(idempotent), and the whole history reads back as one partitioned
parquet table.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from ..schemas import LINEAGE_SCHEMA

_ARROW_SCHEMA = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("lsn_lo", pa.int64()),
        ("lsn_hi", pa.int64()),
        ("rows_applied", pa.int64()),
        ("bytes_written", pa.int64()),
    ]
)


def lineage_dir(table_root: str) -> str:
    return os.path.join(table_root, "lineage")


def write_lineage(spark: SparkSession, table_root: str, batch_id: int, rows: list[dict]) -> None:
    """Lineage rows are driver-side metadata (one per touched bucket),
    so they are written with pyarrow directly — no Spark job — into the
    same hive-partitioned layout spark.read.parquet discovers. A
    resumed re-apply of the same batch overwrites its own file
    (idempotent)."""
    if not rows:
        return
    out = os.path.join(lineage_dir(table_root), f"batch_id={batch_id}")
    os.makedirs(out, exist_ok=True)
    table = pa.table(
        {
            "partition_id": [int(r["partition_id"]) for r in rows],
            "lsn_lo": [int(r["lsn_lo"]) for r in rows],
            "lsn_hi": [int(r["lsn_hi"]) for r in rows],
            "rows_applied": [int(r["rows_applied"]) for r in rows],
            "bytes_written": [int(r["bytes_written"]) for r in rows],
        },
        schema=_ARROW_SCHEMA,
    )
    pq.write_table(table, os.path.join(out, "part-0.parquet"))


def read_lineage(spark: SparkSession, table_root: str) -> DataFrame:
    """Every batch's lineage rows, always in ``LINEAGE_SCHEMA``'s column
    order and types. The schema is passed, not inferred: inference
    costs a Spark job, types the ``batch_id`` partition column by the
    values on disk (``int`` below 2^31, ``bigint`` for stream-range
    ids) and puts it last."""
    path = lineage_dir(table_root)
    if not os.path.exists(path):
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return spark.read.schema(LINEAGE_SCHEMA).parquet(path).select(*LINEAGE_SCHEMA.fieldNames())
