"""Canonical StructTypes for the CDC engine.

The core data model follows BASELINE.json's ``input_hint``: a lake
table of pre-tokenized training sequences keyed by ``doc_id``, plus an
LSN-ordered change-event stream over it. The ``lsn`` column plays the
role the reference's ``SERIAL id`` plays (monotonic total order used
for last-writer-wins; see reference staff_transformer.py:78-81 and
setup_medallion.sql:41).

Schema evolution versions (reference analog: sql/migrations/ add-column
and type-widen migrations):
    v1: (doc_id, tokens:array<int>, n_tok:int, source)
    v2: v1 + lang:string            (add-column)
    v3: v2 with n_tok widened to long  (type-widen int32 -> int64)
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---- base docs table (the upsert target) -------------------------------

DOCS_SCHEMA_V1 = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

DOCS_SCHEMA_V2 = T.StructType(
    list(DOCS_SCHEMA_V1.fields) + [T.StructField("lang", T.StringType(), True)]
)

DOCS_SCHEMA_V3 = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.LongType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

DOCS_SCHEMAS = {1: DOCS_SCHEMA_V1, 2: DOCS_SCHEMA_V2, 3: DOCS_SCHEMA_V3}

# ---- change-event stream ------------------------------------------------

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),  # 'I' | 'U' | 'D'
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.LongType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("schema_version", T.IntegerType(), False),
    ]
)

# ---- engine-owned bookkeeping tables ------------------------------------

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("lsn_lo", T.LongType(), True),
        T.StructField("lsn_hi", T.LongType(), True),
        T.StructField("rows_applied", T.LongType(), False),
        T.StructField("bytes_written", T.LongType(), False),
    ]
)
