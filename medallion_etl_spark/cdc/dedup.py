"""Last-writer-wins dedup: keep the newest event per key, newest =
highest LSN.

Reference analog: ``DISTINCT ON (id_personal, id_sucursal) ... ORDER BY
id DESC`` (reference staff_transformer.py:61-81) — the bronze SERIAL id
is the LSN. This module is the Spark-native re-expression the
north_rule names: "last-writer-wins dedup via window-over-LSN per key".

Three physical strategies, same semantics (property-tested equal):

``window``   row_number() over (partition by keys order by lsn desc).
             Simple, but a hot key forces one task to sort that key's
             entire event set — O(hot) on a single core.

``agg``      groupBy(keys).agg(max_by(struct(payload), lsn)). Spark
             plans a partial (map-side) aggregate before the shuffle,
             so each input partition reduces a hot key to ONE row
             before any data moves — the built-in answer to skew.

``salted``   explicit two-phase: phase 1 groups by (keys, salt) where
             salt = pmod(xxhash64(lsn), n_salts) — the hot key's rows
             spread over ``n_salts`` reducers; phase 2 reduces the
             ≤ n_salts survivors per key. This is the explicit-salting
             path BASELINE.json's north_rule requires; at 10^10 events
             with a pathological hot doc_id it bounds any single
             reducer's work to |hot| / n_salts.

Ties are impossible by construction (LSNs unique); all strategies also
break hypothetical ties identically (max_by on a struct with lsn first;
window orders by lsn desc) so the result is deterministic either way.

Measured (BENCH/skew.json, 8M events, 90% on ONE key, local[8],
warm-up + best-of-2): window 7.4 s, agg 8.3 s, salted 11.1 s. The
combiner makes ``agg`` skew-immune — its hot-key reducer sees
O(n_partitions) rows at ANY skew, where window's single task grows
linearly with the hot key (survivable at 8M, not at 10^10) — while
salting pays a second full shuffle for protection the combiner
already provides. Hence ``agg`` is the default everywhere — here,
``apply_batch()``, ``replay()``, ``stream_replay``, the replay CLI and
bench.py — and ``salted`` is reserved for combiner-less reductions
(full-ordering window ops, collect-style aggregates).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _payload_cols(df: DataFrame, keys: Sequence[str]) -> list[str]:
    return [c for c in df.columns if c not in keys]


def dedup_latest(
    df: DataFrame,
    keys: Sequence[str] = ("doc_id",),
    order_col: str = "lsn",
    strategy: str = "agg",
    n_salts: int = 16,
) -> DataFrame:
    """Return one row per key: the one with the highest ``order_col``.

    Output columns == input columns (keys first), independent of
    strategy.
    """
    keys = list(keys)
    payload = _payload_cols(df, keys)
    if strategy == "window":
        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .select(*keys, *payload)
        )
    if strategy == "agg":
        latest = df.groupBy(*keys).agg(
            F.max_by(F.struct(*[F.col(c) for c in payload]), F.col(order_col)).alias("_latest")
        )
        return latest.select(*keys, *[F.col(f"_latest.{c}").alias(c) for c in payload])
    if strategy == "salted":
        salt = F.pmod(F.xxhash64(F.col(order_col)), F.lit(n_salts)).alias("_salt")
        phase1 = (
            df.withColumn("_salt", salt)
            .groupBy(*keys, "_salt")
            .agg(
                F.max_by(
                    F.struct(F.col(order_col), *[F.col(c) for c in payload if c != order_col]),
                    F.col(order_col),
                ).alias("_latest")
            )
        )
        inner = [order_col] + [c for c in payload if c != order_col]
        phase2 = phase1.groupBy(*keys).agg(
            F.max_by(F.col("_latest"), F.col(f"_latest.{order_col}")).alias("_latest")
        )
        out = phase2.select(*keys, *[F.col(f"_latest.{c}").alias(c) for c in inner])
        return out.select(*keys, *payload)
    raise ValueError(f"unknown dedup strategy: {strategy!r}")
