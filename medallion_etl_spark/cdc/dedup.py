"""Last-writer-wins dedup: keep the newest event per key, newest =
highest LSN.

Reference analog: ``DISTINCT ON (id_personal, id_sucursal) ... ORDER BY
id DESC`` (reference staff_transformer.py:61-81) — the bronze SERIAL id
is the LSN. This module is the Spark-native re-expression the
north_rule names: "last-writer-wins dedup via max-LSN per key".

The one rule: ``groupBy(keys).agg(max_by(struct(payload), order))``.
Every LWW reduction in the engine is this call — the COW shuffle merge
(order ``_ord``), the MOR chunk dedup (``_lsn``) and the read-side fold
of base ∪ deltas (``struct(_lsn, _didx)``).

Why it is skew-safe: LWW has a combiner, so Spark plans a partial
(map-side) aggregate before the shuffle and each input partition
reduces a hot key to ONE row before any data moves. The hot key's
reducer receives ~n_map_tasks rows at any skew (pinned by
tests/test_plan_shapes.py). BENCH/skew.json (8M events, up to every
event on ONE key, local[8]) measured it against the two alternatives
the engine used to ship: a ``row_number()`` window (its single hot
task sorts the whole hot group, linear in the hot key) and explicit
two-phase salting (a second full shuffle for protection the combiner
already gives, 23–39% slower at every skew level).

Ties: equal order values resolve to an arbitrary one of the tied rows.
The callers make them impossible (``_ord``, ``(_lsn, _didx)``) or
harmless (the MOR chunk's redelivered copies are identical rows).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dedup_latest(
    df: DataFrame,
    keys: Sequence[str] = ("doc_id",),
    order_col: str | Column = "lsn",
    payload: Sequence[str] | None = None,
) -> DataFrame:
    """Return one row per key: the one with the highest ``order_col``
    (a column name or an expression over ``df``'s columns).

    Output columns: ``keys``, then ``payload`` — by default every other
    input column, in input order. Columns that only rank rows (a
    tie-break ordinal, say) are left out of ``payload`` so the
    aggregate buffer does not carry them.
    """
    keys = list(keys)
    if payload is None:
        payload = [c for c in df.columns if c not in keys]
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    latest = df.groupBy(*keys).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload]), order).alias("_latest")
    )
    return latest.select(*keys, *[F.col(f"_latest.{c}").alias(c) for c in payload])
