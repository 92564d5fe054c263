"""Reusable column expressions re-implementing the reference's scalar
SQL idioms (SURVEY.md §2.2 / §2.8) plus oracle-stable aggregates.

Oracle stability: the driver hash-compares Spark results against a
DuckDB oracle. Floating-point SUM/AVG are order-dependent, so every
money/measure aggregate goes through an exact decimal accumulation and
only then casts to double — both engines then produce bit-identical
values regardless of partitioning. (The reference keeps NUMERIC(15,4)
for the same byte-equality reason, setup_medallion.sql:490-519.)
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,6)"


def dsum(col, alias: str | None = None) -> Column:
    """Exact, order-independent SUM for double measures: accumulate as
    decimal(38,6), return double."""
    c = F.sum(F.col(col).cast(DEC) if isinstance(col, str) else col.cast(DEC)).cast("double")
    return c.alias(alias) if alias else c


def dsum_sql(expr: str, alias: str) -> str:
    """DuckDB-side twin of dsum()."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE) AS {alias}"


def davg(col, alias: str | None = None) -> Column:
    """Exact-sum average: decimal sum cast to double, divided by count."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(DEC)).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def davg_sql(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE) / COUNT({expr}) AS {alias}"
    )


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Evaluate ``value`` once per row and pass it to ``body`` as a
    lambda variable: ``let(words, lambda w: ...)``.

    Why it exists: Spark evaluates higher-order-function lambdas
    (transform, filter, aggregate, ...) interpreted, and Catalyst shares
    no subexpression across or inside them. An outer row expression
    that a lambda reads — ``F.slice(words, i, k)`` with ``words =
    split(lower(text))`` — is re-evaluated for every array element, and
    every further use of the same array (eight MinHash transforms, a
    size, a min) copies the whole expression again: O(uses x n x |text|)
    per row where O(n) was meant. Binding the array once as the single
    element of a one-element ``transform`` makes every use read the
    lambda variable instead. It stays a JVM-side ``Column`` (no UDF,
    no extra projection) and returns exactly what ``body(value)``
    returns, NULL ``value`` included.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def safe_cast(col, dtype: str) -> Column:
    """``NULLIF(x,'')::type`` (reference sales_transformer.py:117-220):
    empty string -> NULL, then cast (bad input -> NULL, ANSI off)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c == F.lit(""), F.lit(None)).otherwise(c).cast(dtype)


def null_if_sentinel(col, *sentinels: str) -> Column:
    """Chained NULLIF for sentinel values like '0001-01-01' /
    '9999-12-31' (reference sales_transformer.py:125-134)."""
    c = F.col(col) if isinstance(col, str) else col
    out = c
    for s in sentinels:
        out = F.when(out == F.lit(s), F.lit(None)).otherwise(out)
    return out


def bool_from_token(col, true_token: str = "SI") -> Column:
    """``UPPER(x) = 'SI'`` (reference sales_transformer.py:122)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(c) == F.lit(true_token)


def split_part(col, delim: str, n: int) -> Column:
    """PostgreSQL SPLIT_PART (1-based; reference
    deposits_transformer.py:45-46). Missing part -> NULL."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, delim), n)


def md5_bucket(col, mod: int) -> Column:
    """Deterministic 0..mod-1 bucket from a string column: ascii
    polynomial (((a*31+b)*31+c)*31+d)*31+e over the first 5 md5 hex
    chars (16^5 ≈ 1.05M distinct fold values, so the output space
    covers any mod we use — VOCAB_SIZE=32768 included). The ONE
    definition of this cross-engine hash — md5_bucket_sql is its DuckDB
    twin; keep them in lockstep (oracle pairing depends on it). Salt by
    concatenating into the input ('<salt>|' + value), not by changing
    the fold. A plain row expression: whole-stage codegen computes the
    md5 once for the fold's five reads. Inside a lambda nothing is
    shared, so there bind the digest first:
    ``let(md5_hex(w), lambda h: md5_fold(h, mod))``."""
    return md5_fold(md5_hex(col), mod)


def md5_hex(col) -> Column:
    """The md5 hex digest of a string column's UTF-8 bytes."""
    return F.md5(F.encode(col, "UTF-8"))


def md5_fold(h: Column, mod: int) -> Column:
    """md5_bucket's fold over an already computed hex digest ``h``."""
    acc = F.ascii(F.substring(h, 1, 1))
    for i in range(2, 6):
        acc = acc * 31 + F.ascii(F.substring(h, i, 1))
    return (acc % mod).cast("int")


def md5_bucket_sql(expr: str, mod: int) -> str:
    """DuckDB twin of md5_bucket over an SQL expression string."""
    h = f"md5({expr})"
    acc = f"ascii(substring({h}, 1, 1))"
    for i in range(2, 6):
        acc = f"({acc} * 31 + ascii(substring({h}, {i}, 1)))"
    return f"CAST({acc} % {mod} AS INT)"
