"""Schema evolution: add-column and type-widen, applied on read/write.

Reference analog: dbmate migrations (reference sql/migrations/ —
add_factor_hectolitros, add_telefonos are add-column; the PK/constraint
fixes are key widening). In this engine evolution is a metadata event:
the table's ``schema_version`` bumps, old data files stay as written,
and alignment reconciles any frame to the target version:

    add-column   missing column -> NULL
    type-widen   cast on read (int32 -> int64, float -> double, ...)

Widening casts are lossless by construction; narrowing is refused.

Schema versions LIVE IN TABLE METADATA (``LakeTable.meta["schemas"]``,
one serialized StructType per version, recorded at create time and by
every ``add_column``/``widen_column`` commit — the Iceberg/Delta
schema-in-snapshot analog), so arbitrary DDL works without a code
release. The code registry ``schemas.DOCS_SCHEMAS`` is only the
bootstrap default for new tables and the fallback for pre-metadata
tables; every engine path threads the table's own map through the
``schemas=`` parameter here.
"""

from __future__ import annotations

from collections.abc import Collection, Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import DOCS_SCHEMAS

# widening matrix (Iceberg's type-promotion set, plus the byte/short
# integer chain): anything not listed is a refused narrowing/rewrite
WIDENINGS: dict[str, set[str]] = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}


def parse_type(t: str | T.DataType) -> T.DataType:
    """DDL string or DataType -> DataType (e.g. 'array<int>', 'double')."""
    if isinstance(t, T.DataType):
        return t
    return T._parse_datatype_string(t)


def is_widening(src: T.DataType, dst: T.DataType) -> bool:
    return dst.simpleString() in WIDENINGS.get(src.simpleString(), set())


def aligned_cols(
    have: Collection[str],
    to_version: int,
    schemas: Mapping[int, T.StructType] | None = None,
) -> list[Column]:
    """THE one alignment rule (add-column -> NULL, cast to target
    type), as a column list so callers can append bookkeeping columns
    (``_lsn``/``_deleted``) in the same select. Every alignment in the
    engine — read-time, upsert payloads, merge layout — goes through
    here so a schema change is reconciled in exactly one place.

    ``schemas``: the version map to resolve against — pass the table's
    own metadata map (``LakeTable.schemas``); the code registry is only
    the default for registry-shaped frames outside a table context."""
    reg = schemas if schemas is not None else DOCS_SCHEMAS
    if to_version not in reg:
        raise KeyError(
            f"schema version {to_version} is not declared (known: "
            f"{sorted(reg)}); evolve the table first (add_column / "
            "widen_column) — schema evolution is DDL-first, a stream "
            "cannot invent a version"
        )
    return [
        (
            F.col(f.name).cast(f.dataType)
            if f.name in have
            else F.lit(None).cast(f.dataType)
        ).alias(f.name)
        for f in reg[to_version].fields
    ]

