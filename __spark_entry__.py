"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship query (full CDC replay through the engine)
                 on /root/testdata/sf0.001.
queries()     -> every implemented operator from SURVEY.md §2 plus the
                 training-data pipeline ops, as (spark, sf_dir) fns.
oracle_sql()  -> matching DuckDB SQL with identical column aliases.

The real implementations live in medallion_etl_spark/operators/; this
module only assembles the registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from medallion_etl_spark.operators import collect_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: chunked CDC replay (fused LWW dedup + merge ->
    exactly-once commit) of the sf0.001 events stream, returning the
    final table state."""
    from medallion_etl_spark.operators.cdc_query import cdc_replay_latest_state

    return cdc_replay_latest_state(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in collect_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_fn, sql) in collect_queries().items() if sql is not None
    }
