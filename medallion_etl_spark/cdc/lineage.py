"""Per-partition lineage: each applied batch records, per table bucket,
the source LSN range, rows applied, and bytes written.

Reference analog: per-run throughput logging (reference
sales_transformer.py:240-242) — upgraded to a queryable table as the
north_star requires. Every ``version-N.json`` carries one ``commit``
record (the Delta ``commitInfo`` analog) whose ``lineage`` list holds
the rows of the batches that commit applied, written by
``LakeTable.commit`` in the same swap that makes the data visible. Like
``history()``, lineage spans the retained versions; a clone starts with
an empty record at its own version 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import LINEAGE_SCHEMA
from . import manifest, metalog


def lineage_rows(root: str) -> list[dict]:
    """The lineage rows of every batch HEAD has committed, read from the
    retained versions' commit records, oldest first. A batch applied
    again after a restore has rows in two records: the newest wins.
    Batches a restore undid are not in HEAD's manifest and are left
    out."""
    by_batch: dict[int, list[dict]] = {}
    meta: dict = {}
    for v in metalog.versions(root):
        meta = metalog.read(root, v)
        rows: dict[int, list[dict]] = {}
        for r in meta.get("commit", {}).get("lineage", []):
            rows.setdefault(int(r["batch_id"]), []).append(r)
        by_batch.update(rows)
    return [r for b, rs in sorted(by_batch.items()) if manifest.is_committed(meta, b) for r in rs]


def read_lineage(spark: SparkSession, table_root: str) -> DataFrame:
    """Every committed batch's lineage rows, always in
    ``LINEAGE_SCHEMA``'s column order and types. Built on the driver
    from the metadata log: no file scan, no Spark job."""
    names = LINEAGE_SCHEMA.fieldNames()
    return spark.createDataFrame(
        [tuple(r[n] for n in names) for r in lineage_rows(table_root)], LINEAGE_SCHEMA
    )
