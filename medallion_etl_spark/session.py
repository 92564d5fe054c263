"""SparkSession factory.

Single place where every job (tests, bench, replay driver, driver
contract) builds its session, so the scale-relevant knobs are set
uniformly:

- AQE on (runtime coalescing + skew-join splitting),
- shuffle partitions sized to parallelism (not the 200 default),
- Arrow on (all pandas-UDF paths are vectorized),
- input paths listed on the driver (no Spark listing job per read),
- session timezone pinned to UTC so results hash identically against
  the DuckDB oracle (duckdb timestamps are UTC-naive).

On a real cluster the same code runs under ``spark-submit --py-files``;
only ``master`` / executor sizing change.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# local[N] width: $SPARK_GRAFT_CPUS when set, else the CPUs this
# process may run on (the one default bench.py shares)
DEFAULT_PARALLELISM = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
# driver heap cap: $SPARK_GRAFT_DRIVER_MEM when set, else a quarter of
# physical RAM. A fixed 48g let one JVM's heap grow to 7.3 GiB of RSS
# over the test suite on a 15 GiB host, next to the JVMs of the
# replay_cli processes some tests start.
DEFAULT_DRIVER_MEM = f"{os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 4 >> 20}m"
_warned_submit_gc = False


def get_spark(
    app_name: str = "medallion_etl_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``parallelism`` maps to ``local[N]`` in the sandbox; under
    spark-submit the master URL comes from the submit args and this
    function deliberately does NOT call ``.master()`` (see below).
    """
    n = parallelism or DEFAULT_PARALLELISM
    shuffle = shuffle_partitions or max(n, 8)
    # Under spark-submit the JVM gateway already exists (PythonRunner
    # exports PYSPARK_GATEWAY_PORT) and the master + sizing came from
    # the submit args. Builder .config() values override the system
    # properties that submit-line --conf populates, so an unconditional
    # .master() or sizing conf here would silently pin a 64-executor
    # submit back to driver-local defaults. Under submit this function
    # therefore sets NO master and NO sizing confs (shuffle partitions,
    # default parallelism, driver memory, GC options) — the submit line
    # is authoritative for all of them. The remaining builder confs are
    # engine invariants (UTC timezone, Arrow, AQE, zstd, driver-side
    # listing), applied everywhere so results hash identically;
    # override via extra_conf.
    # Exercised end-to-end by tests/test_spark_submit.py.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    # SPARK_GRAFT_MASTER: master-URL override for scaling experiments —
    # e.g. local-cluster[4,1,16384] runs REAL separate executor JVMs
    # (per-executor heaps, serialization boundaries) instead of
    # local[N] threads; see bench.py --scaling --cluster-jvms
    master_override = os.environ.get("SPARK_GRAFT_MASTER")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd for BOTH parquet and shuffle/broadcast: trades CPU
        # (which scales with cores) for bytes moved (which hit the
        # DRAM/disk-bandwidth ceiling first). Measured on the CDC
        # replay: zstd shuffle gave +80-90% throughput at local[8] and
        # ~8x lower run-to-run variance vs lz4; zstd parquet a further
        # few % (BENCH/BASELINE.md). Set HERE so production sessions
        # write what the bench measured — bench.py no longer overrides.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.io.compression.codec", "zstd")
        # List input paths on the driver, not in a Spark job. Past
        # this many paths Spark launches one listing task per path;
        # LakeTable reads pass one path per source dir, known from
        # table metadata, so at the default of 32 every read of more
        # than 32 dirs (a 64-bucket table, or 4 buckets x 8 deltas)
        # paid a listing job. Planning a 36-dir read took ~300 ms with
        # the job and ~65 ms without (local[3] on a 4-core host).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if not under_submit:
        builder = (
            builder.master(master_override or f"local[{n}]")
            .config("spark.sql.shuffle.partitions", str(shuffle))
            .config("spark.default.parallelism", str(n))
            .config(
                "spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM),
            )
            # JVM ergonomics size GC threads to the HOST's cores (23 on
            # the 32-core sandbox); with local[32] task threads that is
            # a 60+ thread storm that collapses throughput ~4x on
            # agg-heavy plans. Cap parallel GC; only effective when this
            # session launches the JVM (first getOrCreate in the
            # process). Under spark-submit, pass the equivalents as
            # --driver-memory / --conf on the submit line.
            .config(
                "spark.driver.extraJavaOptions",
                "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2",
            )
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    global _warned_submit_gc
    if (
        under_submit
        and not _warned_submit_gc
        and "ParallelGCThreads"
        not in spark.conf.get("spark.driver.extraJavaOptions", "")
    ):
        _warned_submit_gc = True
        warnings.warn(
            "running under spark-submit without a ParallelGCThreads cap; on "
            "many-core driver hosts pass --driver-memory and --conf "
            "spark.driver.extraJavaOptions='-XX:ParallelGCThreads=8 "
            "-XX:ConcGCThreads=2' on the submit line (see BENCH/BASELINE.md: "
            "uncapped GC threads collapse agg-heavy plans ~4x at local[32])",
            stacklevel=2,
        )
    return spark
