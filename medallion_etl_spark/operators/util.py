"""Shared operator helpers."""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.table import LakeTable


def broadcast_if_small(df: DataFrame) -> DataFrame:
    """``F.broadcast(df)`` only when Catalyst's own size estimate is at
    or under the session's autoBroadcastJoinThreshold, else ``df``
    unchanged (AQE picks the strategy from runtime stats).

    This is the 100x-safe spelling of a broadcast hint on a table that
    SCALES WITH THE CORPUS (customer/part/supplier grow with SF; at
    1000 executors x 100 TB a forced broadcast of one of them OOMs the
    driver). True fixed-size dims (nation=25, region=5, a calendar,
    a query/centroid set) keep their unconditional hint — their size is
    a property of the schema, not the data volume. The estimate is the
    optimizer's sizeInBytes on the driver: metadata-only, no job."""
    spark = df.sparkSession
    thresh = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    ).strip()
    # Spark's ConfigHelpers.byteFromString strips the sign before
    # calling JavaUtils (which rejects '-1'); "-1" is the standard
    # spelling for broadcast-disabled, so mirror that here.
    if thresh.startswith("-"):
        return df
    jvm = spark._jvm
    thresh_bytes = int(
        jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(thresh)
    )
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return F.broadcast(df) if est <= thresh_bytes else df


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition a small-on-disk table for CPU parallelism.

    Tables like ``documents`` are one input split (a few MB), so
    size-based splitting gives every downstream per-row computation ONE
    core; any operator doing heavy expression work per row (hashing,
    regex) repartitions first. At 100 TB inputs this is a no-op
    concern — splits are plentiful — but the operator shape must not
    serialize on small inputs either."""
    return df.repartition(spark.sparkContext.defaultParallelism)


_PERSIST_SLOTS: dict[tuple, DataFrame] = {}


def persist_replacing(slot: str, key, df: DataFrame, level=None) -> DataFrame:
    """``persist()`` with a named slot: re-invoking the same operator
    in one process (the driver window plus a verify pass, bench reps)
    REPLACES — and unpersists — the previous invocation's intermediate
    instead of stacking forgotten cached blocks for the session's
    lifetime. Each invocation still computes fresh, so benchmarks
    measure real work, not slot hits; only the abandoned old blocks
    are released. Keyed by (applicationId, slot, key) so a restarted
    session never reaches through a dead handle."""
    k = (df.sparkSession.sparkContext.applicationId, slot, key)
    old = _PERSIST_SLOTS.get(k)
    if old is not None:
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass  # previous session gone: nothing to release
    out = df.persist(level) if level is not None else df.persist()
    _PERSIST_SLOTS[k] = out
    return out


def _scratch_dir(family: str, sf: str) -> str:
    """Per-(input, PROCESS) scratch dir of a query family.

    The pid component matters: these dirs used to be keyed on the
    input path alone, so two concurrent driver-contract processes
    (e.g. the round driver and a local pytest run) would rmtree/
    rebuild the SAME directory under each other's lazy reads —
    observed as PATH_NOT_FOUND mid-query.

    Dead siblings of the SAME family (any input digest) are swept on
    the way in: a SIGKILLed driver never runs its atexit cleanup and
    no later process recomputes its pid-suffixed name. Best-effort,
    not a guarantee — a family never run again stays leaked until
    /tmp cleanup, and a recycled pid that belongs to a live process
    keeps its namesake dir. A sibling whose pid is alive is always
    left alone (a concurrent run's live scratch), and another family
    whose name extends this one's (``cdc_sig`` / ``cdc_sig_restore``)
    is never matched."""
    tmp = tempfile.gettempdir()
    sibling = re.compile(re.escape(family) + r"_[0-9a-f]{8}_p(\d+)")
    for name in os.listdir(tmp):
        m = sibling.fullmatch(name)
        if m is None or int(m.group(1)) == os.getpid():
            continue
        try:
            os.kill(int(m.group(1)), 0)  # raises if no such process
        except (ProcessLookupError, OverflowError):
            # no such pid / pid impossible on this kernel: dead scratch
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
        except OSError:
            pass  # EPERM etc: some live process owns the pid, keep
    digest = hashlib.md5(sf.encode()).hexdigest()[:8]
    return os.path.join(tmp, f"{family}_{digest}_p{os.getpid()}")


_SCRATCH_ROOTS: dict[tuple[str, str], str] = {}


def scratch_table(family: str, sf: str, build: Callable[[str], str]) -> str:
    """The root of a query-built LakeTable, built once per (family,
    input) per process: ``build(tmp)`` creates its tables under the
    fresh scratch dir ``tmp`` and returns the root to read. Later calls
    return the same root while it exists, so a frame an earlier call
    returned (a lazy read of that root) stays readable; the dir is
    removed only at process exit. A root that vanished (external
    cleanup) is built again."""
    root = _SCRATCH_ROOTS.get((family, sf))
    if root is not None and LakeTable.exists(root):
        return root
    tmp = _scratch_dir(family, sf)
    shutil.rmtree(tmp, ignore_errors=True)
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    root = _SCRATCH_ROOTS[(family, sf)] = build(tmp)
    return root
