"""Flagship query: a full CDC replay through the engine, oracle-checked.

Interprets the driver's ``events`` table as a change stream —
``event_id`` is the LSN, ``user_id`` keys the doc, ``event_type =
'error'`` means delete — builds token payloads deterministically from
the row values, replays it chunked through the LakeTable (fused LWW
dedup + merge -> manifest commit), and returns the final table state.
The DuckDB oracle expresses the same semantics as one window query, so
the driver's correctness gate exercises the ENTIRE engine spine:
scan -> shuffle -> max-LSN agg -> merge -> atomic commit -> read back.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.replay import replay
from ..cdc.table import LakeTable
from ..sources.readers import load_table as T


def _as_change_stream(ev: DataFrame) -> DataFrame:
    is_del = F.col("event_type") == "error"
    tok0 = F.floor(F.col("value") * 100).cast("int")
    tokens = F.array(tok0, F.col("user_id").cast("int"), F.col("event_id").cast("int"))
    return ev.select(
        F.col("event_id").alias("lsn"),
        F.when(is_del, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.concat(F.lit("u"), F.col("user_id")).alias("doc_id"),
        F.when(is_del, F.lit(None)).otherwise(tokens).alias("tokens"),
        F.when(is_del, F.lit(None)).otherwise(F.lit(3).cast("long")).alias("n_tok"),
        F.when(is_del, F.lit(None)).otherwise(F.col("event_type")).alias("source"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(2).alias("schema_version"),
    )


def _scratch_dir(prefix: str, sf: str) -> str:
    """Per-(input, PROCESS) scratch root for a query-built LakeTable.

    The pid component matters: these dirs used to be keyed on the
    input path alone, so two concurrent driver-contract processes
    (e.g. the round driver and a local pytest run) would rmtree/
    rebuild the SAME directory under each other's lazy reads —
    observed as PATH_NOT_FOUND mid-query. Within one process the
    _*_ROOTS caches (not the dir name) provide reuse, so pid
    uniqueness costs nothing.

    Dead siblings of the SAME query family (any input digest) are
    swept on the way in: a SIGKILLed driver never runs its atexit
    cleanup and no later process recomputes its pid-suffixed name.
    Best-effort, not a guarantee — a family never run again stays
    leaked until /tmp cleanup, and a recycled pid that belongs to a
    live process keeps its namesake dir. A sibling whose pid is alive
    is always left alone (a concurrent run's live scratch)."""
    import glob
    import re

    digest = hashlib.md5(sf.encode()).hexdigest()[:8]
    family = os.path.join(tempfile.gettempdir(), f"{prefix}_")
    for stale in glob.glob(f"{family}*_p*"):
        m = re.fullmatch(r".*_p(\d+)", stale)
        if m is None:
            continue
        pid = int(m.group(1))
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)  # raises if no such process
        except (ProcessLookupError, OverflowError):
            # no such pid / pid impossible on this kernel: dead scratch
            shutil.rmtree(stale, ignore_errors=True)
        except OSError:
            pass  # EPERM etc: some live process owns the pid, keep
    return f"{family}{digest}_p{os.getpid()}"


def _latest_state_projection(final: DataFrame) -> DataFrame:
    """The ONE oracle-paired projection of a replayed table's final
    state (tokens carry [floor(value*100), user_id, event_id], so the
    comparison is value-based and position-independent) — shared by
    every flagship that must equal CDC_REPLAY_LATEST_STATE_SQL, so the
    column aliases can never drift between them."""
    return final.select(
        "doc_id",
        F.element_at("tokens", 1).alias("tok_value"),
        F.element_at("tokens", 2).alias("tok_user"),
        F.element_at("tokens", 3).alias("last_lsn"),
        "n_tok",
        F.col("source").alias("last_type"),
    ).orderBy("doc_id")


def _replay_flagship(
    spark: SparkSession,
    sf: str,
    tmp_prefix: str,
    constraints: dict[str, str] | None = None,
    **replay_kw,
) -> DataFrame:
    """Shared flagship body: replay the driver-events change stream in
    4 LSN chunks into a session-lifetime LakeTable (deterministic per
    input, fresh per call, atexit-cleaned) and return the final state
    as a LAZY read with the oracle-paired projection — no toPandas
    round-trip, so the flagship never materializes the full final
    state on the driver (at real scale that would be a driver-memory
    bottleneck). One implementation so the COW and MOR flagships can
    never diverge in chunking or column aliases."""
    events = T(spark, sf, "events")
    stream = _as_change_stream(events)
    n = events.agg(F.max("event_id")).collect()[0][0] or 0
    chunk = max(int(n) // 4, 1)
    tmp = _scratch_dir(tmp_prefix, sf)
    shutil.rmtree(tmp, ignore_errors=True)
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    root = f"{tmp}/t"
    table = LakeTable.create(root, n_buckets=8, schema_version=2, constraints=constraints)
    replay(spark, stream, table, chunk_size=chunk, **replay_kw)
    final = LakeTable.load(root).read(spark)
    return _latest_state_projection(final)


def cdc_replay_latest_state(spark: SparkSession, sf: str) -> DataFrame:
    # merge_path="agg" so the driver's correctness gate exercises
    # the shuffle LWW merge (auto would pick the broadcast path on a
    # stream this small)
    return _replay_flagship(spark, sf, "cdc_flagship", merge_path="agg")


def cdc_replay_mor_state(spark: SparkSession, sf: str) -> DataFrame:
    """The flagship replay driven through the MERGE-ON-READ write path:
    every chunk is a per-bucket delta APPEND (apply.py ``_apply_mor``,
    write cost O(|chunk|), no bucket rewrite) and the returned state is
    read THROUGH the delta fold (table.py ``_merge_sources`` — LWW over
    base ∪ deltas, scoped to delta-carrying buckets) before any
    compaction folds them. Same oracle as the COW flagship: the two
    write paths must be indistinguishable to a reader."""
    return _replay_flagship(spark, sf, "cdc_flagship_mor", write_mode="mor")


_FEED_ROOTS: dict[str, str] = {}


def _feed_table_root(spark: SparkSession, sf: str) -> str:
    """The driver-events stream replayed in TWO LSN chunks into a
    process-cached LakeTable (versions: 0 empty, 1 after chunk 0,
    2+ final) — shared by the change-feed and incremental-gold
    queries so the replay runs once per process per scale dir."""
    cached = _FEED_ROOTS.get(sf)
    if cached is not None and LakeTable.exists(cached):
        return cached
    events = T(spark, sf, "events")
    stream = _as_change_stream(events)
    n = events.agg(F.max("event_id")).collect()[0][0] or 0
    chunk = max(int(n) // 2, 1)
    tmp = _scratch_dir("cdc_feed", sf)
    shutil.rmtree(tmp, ignore_errors=True)
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    root = f"{tmp}/t"
    table = LakeTable.create(root, n_buckets=8, schema_version=2)
    replay(spark, stream, table, chunk_size=chunk, merge_path="agg")
    _FEED_ROOTS[sf] = root
    return root


def cdc_change_feed(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental change feed through the engine: replay the events
    stream in two LSN chunks, then ask the table for the NET changes
    since the snapshot after chunk 0 (``LakeTable.read_changes`` — the
    Delta-CDF analog; see cdc/table.py). The oracle recomputes the same
    net change with one window over the raw events: per key with any
    event past the chunk-0 watermark, its latest event — as an upsert
    (payload) or a delete (NULL payload)."""
    root = _feed_table_root(spark, sf)
    feed = LakeTable.load(root).read_changes(spark, since_version=1)
    return feed.select(
        "doc_id",
        F.col("_lsn").alias("lsn"),
        F.col("_change_type").alias("change_type"),
        F.element_at("tokens", 1).alias("tok_value"),
        F.element_at("tokens", 2).alias("tok_user"),
        "n_tok",
        F.col("source").alias("last_type"),
    ).orderBy("doc_id")


# chunk-0 watermark = lsn_min + chunk_size - 1 (plan_chunks contract),
# chunk_size = GREATEST(max(event_id) // 2, 1) — mirrored arithmetic
# INCLUDING the 1-floor the Spark side applies (max(int(n) // 2, 1)),
# so both engines cut the stream at the identical LSN even on a
# degenerate 1-2 event stream
CDC_CHANGE_FEED_SQL = """
WITH wm AS (
  SELECT min(event_id) + GREATEST(max(event_id) // 2, 1) - 1 AS w FROM events
), latest AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
  WHERE event_id > (SELECT w FROM wm)
)
SELECT concat('u', user_id) AS doc_id,
       event_id AS lsn,
       CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS change_type,
       CASE WHEN event_type = 'error' THEN NULL
            ELSE CAST(FLOOR(value * 100) AS INT) END AS tok_value,
       CASE WHEN event_type = 'error' THEN NULL
            ELSE CAST(user_id AS INT) END AS tok_user,
       CASE WHEN event_type = 'error' THEN NULL
            ELSE CAST(3 AS BIGINT) END AS n_tok,
       CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS last_type
FROM latest
WHERE rn = 1
ORDER BY doc_id
"""


def cdc_constrained_replay(spark: SparkSession, sf: str) -> DataFrame:
    """The flagship replay against a table created with a CHECK
    constraint (cdc/constraints.py — Delta ADD CONSTRAINT analog),
    ``on_violation='drop'``: every upsert whose first token is >= 5000
    is discarded BEFORE the LWW merge, so a key whose newest event
    violates falls back to its newest PASSING event — different
    semantics from post-hoc deletion (cdc_dml_state), which the oracle
    pins by filtering the raw stream first and windowing after.
    Tombstones are exempt (NULL payload; SQL-standard CHECK)."""
    return _replay_flagship(
        spark,
        sf,
        "cdc_flagship_check",
        constraints={"tok_cap": "element_at(tokens, 1) < 5000"},
        on_violation="drop",
    )


CDC_CONSTRAINED_REPLAY_SQL = """
WITH passing AS (
  SELECT * FROM events
  -- NULL value => NULL token => CHECK evaluates UNKNOWN => PASSES
  -- (SQL-standard semantics the engine implements); the oracle must
  -- keep those rows too, not let the NULL comparison filter them
  WHERE event_type = 'error' OR value IS NULL
     OR CAST(FLOOR(value * 100) AS INT) < 5000
)
SELECT concat('u', user_id) AS doc_id,
       CAST(FLOOR(value * 100) AS INT) AS tok_value,
       CAST(user_id AS INT) AS tok_user,
       CAST(event_id AS INT) AS last_lsn,
       CAST(3 AS INTEGER) AS n_tok,
       event_type AS last_type
FROM passing
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
  AND event_type <> 'error'
ORDER BY doc_id
"""


_DML_ROOTS: dict[str, str] = {}


def cdc_dml_state(spark: SparkSession, sf: str) -> DataFrame:
    """Predicate DML (cdc/dml.py) driven end-to-end: replay the full
    change stream, then UPDATE WHERE source='click' SET lang='redacted',
    then DELETE WHERE token[1] >= 5000, and return the final state. Both
    mutations are minted above the high-water-mark LSN and applied
    through the normal LWW/tombstone merge (write_mode='auto', so the
    sparse DELETE may land as MOR deltas the read folds). The oracle
    recomputes latest-state with one window, then applies the same SET
    as a CASE and the same DELETE as a WHERE — pinning that DML
    composes with replay exactly like ordinary change events.
    (Delta ``UPDATE``/``DELETE FROM`` analog; the reference's analog is
    out-of-pipeline hand SQL, etl/load/load_sql.py delete-by-month.)"""
    from ..cdc.dml import delete_where, update_where

    cached = _DML_ROOTS.get(sf)
    if cached is None or not LakeTable.exists(cached):
        events = T(spark, sf, "events")
        stream = _as_change_stream(events)
        n = events.agg(F.max("event_id")).collect()[0][0] or 0
        tmp = _scratch_dir("cdc_dml", sf)
        shutil.rmtree(tmp, ignore_errors=True)
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        root = f"{tmp}/t"
        table = LakeTable.create(root, n_buckets=8, schema_version=2)
        replay(spark, stream, table, chunk_size=max(int(n) // 4, 1))
        update_where(
            spark, LakeTable.load(root), "source = 'click'", {"lang": "'redacted'"}
        )
        delete_where(spark, LakeTable.load(root), "element_at(tokens, 1) >= 5000")
        _DML_ROOTS[sf] = root
    final = LakeTable.load(_DML_ROOTS[sf]).read(spark)
    return final.select(
        "doc_id",
        F.element_at("tokens", 1).alias("tok_value"),
        F.element_at("tokens", 2).alias("tok_user"),
        F.element_at("tokens", 3).alias("last_lsn"),
        "n_tok",
        F.col("source").alias("last_type"),
        "lang",
    ).orderBy("doc_id")


CDC_DML_STATE_SQL = """
WITH latest AS (
  SELECT concat('u', user_id) AS doc_id,
         CAST(FLOOR(value * 100) AS INT) AS tok_value,
         CAST(user_id AS INT) AS tok_user,
         CAST(event_id AS INT) AS last_lsn,
         CAST(3 AS BIGINT) AS n_tok,
         event_type AS last_type
  FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    AND event_type <> 'error'
)
SELECT doc_id, tok_value, tok_user, last_lsn, n_tok, last_type,
       CASE WHEN last_type = 'click' THEN 'redacted' END AS lang
FROM latest
WHERE tok_value IS NULL OR tok_value < 5000
ORDER BY doc_id
"""


_RESTORE_ROOTS: dict[str, str] = {}


def cdc_restore_reconverge(spark: SparkSession, sf: str) -> DataFrame:
    """RESTORE + resume, pinned by the driver's own correctness gate:
    replay the full change stream in 4 chunks, RESTORE to the snapshot
    after chunk 2 (rolling back data AND the batch manifest), then
    re-feed the SAME stream — the undone chunks are pending again and
    re-apply — and return the final state. Order-independent LWW means
    the result must equal the plain latest-state oracle exactly: a
    restore followed by resume reconverges, losing and inventing
    nothing (the engine-level guarantee behind
    tests/test_restore.py::test_resume_after_restore_reconverges,
    here enforced against DuckDB at every driver run)."""
    cached = _RESTORE_ROOTS.get(sf)
    if cached is None or not LakeTable.exists(cached):
        events = T(spark, sf, "events")
        stream = _as_change_stream(events)
        n = events.agg(F.max("event_id")).collect()[0][0] or 0
        tmp = _scratch_dir("cdc_restore", sf)
        shutil.rmtree(tmp, ignore_errors=True)
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        root = f"{tmp}/t"
        table = LakeTable.create(root, n_buckets=8, schema_version=2)
        chunk = max(int(n) // 4, 1)
        replay(spark, stream, table, chunk_size=chunk)
        LakeTable.load(root).restore(2)
        replay(spark, stream, LakeTable.load(root), chunk_size=chunk)
        _RESTORE_ROOTS[sf] = root
    final = LakeTable.load(_RESTORE_ROOTS[sf]).read(spark)
    return _latest_state_projection(final)


_CONVERT_ROOTS: dict[str, str] = {}


def cdc_convert_documents(spark: SparkSession, sf: str) -> DataFrame:
    """CONVERT bootstrap (cdc/bootstrap.py — Delta ``CONVERT TO
    DELTA`` analog) driven end-to-end: map the driver's ``documents``
    table onto the docs schema (tokens carry [n_chars, doc_id] so the
    oracle can check the array round-trip), convert it into a LakeTable
    in one bulk commit at LSN 0, and read it back. The oracle is the
    identity mapping over the raw parquet — converting must lose or
    invent nothing."""
    from ..cdc.bootstrap import convert_from_parquet

    cached = _CONVERT_ROOTS.get(sf)
    if cached is None or not LakeTable.exists(cached):
        docs = T(spark, sf, "documents")
        mapped = docs.select(
            F.concat(F.lit("d"), F.col("doc_id")).alias("doc_id"),
            F.array(
                F.col("n_chars").cast("int"), F.col("doc_id").cast("int")
            ).alias("tokens"),
            F.col("n_chars").cast("long").alias("n_tok"),
            "source",
            "lang",
        )
        tmp = _scratch_dir("cdc_convert", sf)
        shutil.rmtree(tmp, ignore_errors=True)
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        root = f"{tmp}/t"
        convert_from_parquet(spark, mapped, root, n_buckets=8, schema_version=3)
        _CONVERT_ROOTS[sf] = root
    final = LakeTable.load(_CONVERT_ROOTS[sf]).read(spark)
    return final.select(
        "doc_id",
        F.element_at("tokens", 1).alias("tok_chars"),
        F.element_at("tokens", 2).alias("tok_id"),
        "n_tok",
        "source",
        "lang",
    ).orderBy("doc_id")


CDC_CONVERT_DOCUMENTS_SQL = """
SELECT concat('d', doc_id) AS doc_id,
       CAST(n_chars AS INT) AS tok_chars,
       CAST(doc_id AS INT) AS tok_id,
       n_chars AS n_tok,
       source,
       lang
FROM documents
ORDER BY doc_id
"""


_MERGE_ROOTS: dict[str, str] = {}


def cdc_merge_into_state(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO (cdc/merge.py — the Delta ``MERGE INTO … USING``
    analog) driven end-to-end: replay the full change stream, then
    merge a deterministic source frame — one row per ``user_id % 3 ==
    0`` with a rewritten payload — with when_matched='update',
    when_not_matched='insert'. Keys the stream had DELETED (or never
    created) re-enter via the insert clause; live keys take the source
    payload; every other key keeps its replayed state. The oracle
    recomputes latest-state with one window and stitches the same
    overlay with an anti-join + union."""
    from ..cdc.merge import merge_into

    cached = _MERGE_ROOTS.get(sf)
    if cached is None or not LakeTable.exists(cached):
        events = T(spark, sf, "events")
        stream = _as_change_stream(events)
        n = events.agg(F.max("event_id")).collect()[0][0] or 0
        tmp = _scratch_dir("cdc_merge", sf)
        shutil.rmtree(tmp, ignore_errors=True)
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        root = f"{tmp}/t"
        table = LakeTable.create(root, n_buckets=8, schema_version=2)
        replay(spark, stream, table, chunk_size=max(int(n) // 4, 1))
        src = (
            events.select("user_id")
            .distinct()
            .filter(F.col("user_id") % 3 == 0)
            .select(
                F.concat(F.lit("u"), F.col("user_id")).alias("doc_id"),
                F.array(
                    (F.col("user_id") * 2).cast("int"),
                    F.col("user_id").cast("int"),
                    F.lit(0),
                ).alias("tokens"),
                F.lit(3).cast("long").alias("n_tok"),
                F.lit("merge").alias("source"),
                F.lit("m").alias("lang"),
            )
        )
        merge_into(spark, LakeTable.load(root), src)
        _MERGE_ROOTS[sf] = root
    final = LakeTable.load(_MERGE_ROOTS[sf]).read(spark)
    return final.select(
        "doc_id",
        F.element_at("tokens", 1).alias("tok_value"),
        F.element_at("tokens", 2).alias("tok_user"),
        F.element_at("tokens", 3).alias("last_lsn"),
        "n_tok",
        F.col("source").alias("last_type"),
        "lang",
    ).orderBy("doc_id")


CDC_MERGE_INTO_STATE_SQL = """
WITH latest AS (
  SELECT concat('u', user_id) AS doc_id, user_id,
         CAST(FLOOR(value * 100) AS INT) AS tok_value,
         CAST(user_id AS INT) AS tok_user,
         CAST(event_id AS INT) AS last_lsn,
         CAST(3 AS BIGINT) AS n_tok,
         event_type AS last_type
  FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    AND event_type <> 'error'
), src AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 3 = 0
)
SELECT doc_id, tok_value, tok_user, last_lsn, n_tok, last_type,
       CAST(NULL AS VARCHAR) AS lang
FROM latest
WHERE user_id NOT IN (SELECT user_id FROM src)
UNION ALL
SELECT concat('u', user_id) AS doc_id,
       CAST(user_id * 2 AS INT) AS tok_value,
       CAST(user_id AS INT) AS tok_user,
       0 AS last_lsn,
       CAST(3 AS BIGINT) AS n_tok,
       'merge' AS last_type,
       'm' AS lang
FROM src
ORDER BY doc_id
"""


CDC_REPLAY_LATEST_STATE_SQL = """
SELECT concat('u', user_id) AS doc_id,
       CAST(FLOOR(value * 100) AS INT) AS tok_value,
       CAST(user_id AS INT) AS tok_user,
       CAST(event_id AS INT) AS last_lsn,
       CAST(3 AS INTEGER) AS n_tok,
       event_type AS last_type
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
  AND event_type <> 'error'
ORDER BY doc_id
"""


_REDRIVE_ROOTS: dict[str, str] = {}


def cdc_redrive_reconverge(spark: SparkSession, sf: str) -> DataFrame:
    """Quarantine → redrive → reconverge, under the driver's own
    correctness gate: corrupt a deterministic slice of the change
    stream (every 97th LSN's upsert gets op='X'), replay with
    ``on_malformed='quarantine'`` (the bad rows divert, their chunks
    still commit), then ``redrive_quarantine`` with the curing
    transform — the rows re-enter at fresh LSNs above the HWM. The
    oracle pins the documented remediation semantics exactly: a
    redriven event WINS against everything already applied (it sits
    later in the total order), so per key the winner is the corrupted
    event with the highest original LSN when one exists, else the
    plain latest event — one priority-sorted window in DuckDB. The
    payload carries the original event_id in the token array, so the
    comparison is over values, not minted positions."""
    from ..cdc.redrive import redrive_quarantine

    cached = _REDRIVE_ROOTS.get(sf)
    if cached is None or not LakeTable.exists(cached):
        events = T(spark, sf, "events")
        stream = _as_change_stream(events)
        corrupt = (F.col("lsn") % 97 == 0) & (F.col("op") == "U")
        dirty = stream.withColumn(
            "op", F.when(corrupt, F.lit("X")).otherwise(F.col("op"))
        )
        n = events.agg(F.max("event_id")).collect()[0][0] or 0
        tmp = _scratch_dir("cdc_redrive", sf)
        shutil.rmtree(tmp, ignore_errors=True)
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        root = f"{tmp}/t"
        table = LakeTable.create(root, n_buckets=8, schema_version=2)
        res = replay(
            spark,
            dirty,
            table,
            chunk_size=max(int(n) // 4, 1),
            on_malformed="quarantine",
        )
        assert res["rows_quarantined"] > 0, "corruption slice was empty"
        redrive_quarantine(
            spark,
            LakeTable.load(root),
            res["quarantine_path"],
            transform=lambda df: df.withColumn(
                "op",
                F.when(F.col("_reason") == "bad_op", F.lit("U")).otherwise(
                    F.col("op")
                ),
            ),
        )
        _REDRIVE_ROOTS[sf] = root
    final = LakeTable.load(_REDRIVE_ROOTS[sf]).read(spark)
    return _latest_state_projection(final)


CDC_REDRIVE_RECONVERGE_SQL = """
SELECT concat('u', user_id) AS doc_id,
       CAST(FLOOR(value * 100) AS INT) AS tok_value,
       CAST(user_id AS INT) AS tok_user,
       CAST(event_id AS INT) AS last_lsn,
       CAST(3 AS INTEGER) AS n_tok,
       event_type AS last_type
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY
          (CASE WHEN event_id % 97 = 0 AND event_type <> 'error' THEN 1 ELSE 0 END) DESC,
          event_id DESC) = 1
  AND event_type <> 'error'
ORDER BY doc_id
"""


_WAP_ROOTS: dict[str, str] = {}


def cdc_wap_publish_state(spark: SparkSession, sf: str) -> DataFrame:
    """Write-audit-publish under the driver's own correctness gate
    (``LakeTable.publish_from`` — the Iceberg WAP / branch-fast-forward
    analog): replay the first half of the change stream into the
    source, fork a zero-copy staging clone, replay the FULL stream
    into the stage (the cloned manifest dedupes the already-applied
    half), audit the stage (row-count sanity, as a pipeline would),
    then publish — one atomic source commit adopting the staged
    buckets + manifest. The final source state must equal the plain
    latest-state oracle exactly: the stage detour loses and invents
    nothing, which is the entire point of WAP."""
    cached = _WAP_ROOTS.get(sf)
    if cached is None or not LakeTable.exists(cached):
        events = T(spark, sf, "events")
        stream = _as_change_stream(events)
        n = events.agg(F.max("event_id")).collect()[0][0] or 0
        chunk = max(int(n) // 4, 1)
        tmp = _scratch_dir("cdc_wap", sf)
        shutil.rmtree(tmp, ignore_errors=True)
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        root = f"{tmp}/t"
        table = LakeTable.create(root, n_buckets=8, schema_version=2)
        # first half lands directly on the source...
        replay(
            spark,
            stream.filter(F.col("lsn") < 2 * chunk),
            table,
            chunk_size=chunk,
        )
        # ...the tail goes through a staged WAP cycle
        stage_root = f"{tmp}/stage"
        LakeTable.load(root).clone_to(stage_root)
        replay(spark, stream, LakeTable.load(stage_root), chunk_size=chunk)
        staged = LakeTable.load(stage_root)
        if staged.read(spark).count() == 0:  # the audit step
            raise RuntimeError("WAP audit failed: staged table is empty")
        res = LakeTable.load(root).publish_from(stage_root)
        assert res["published"], res
        _WAP_ROOTS[sf] = root
    final = LakeTable.load(_WAP_ROOTS[sf]).read(spark)
    return _latest_state_projection(final)


def cdc_schema_evolution_state(spark: SparkSession, sf: str) -> DataFrame:
    """Mid-stream DDL under the driver's own correctness gate: replay
    the first half of the change stream at the bootstrap schema, run
    ``add_column('score','double')`` — a pure-metadata commit declaring
    a version NO code registry ever knew — then resume with the tail
    carrying the column at the declared version. The final state is
    read at the evolved schema: keys last touched before the DDL read
    NULL (old files aligned on read), keys touched after carry the
    payload value. The oracle expresses the same rule as one window
    query, so the gate checks the whole DDL-first evolution contract:
    declare -> resume -> align -> merge -> read.

    Keys are sub-partitioned (user x lsn%16) so each key has only a
    handful of events and a visible share of keys' LAST event precedes
    the DDL — the oracle rows then exercise BOTH alignment sides
    (payload carried vs NULL read from pre-DDL files)."""
    events = T(spark, sf, "events")
    stream = _as_change_stream(events).withColumn(
        "doc_id", F.concat(F.col("doc_id"), F.lit("-"), F.col("lsn") % 16)
    )
    bounds = events.agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).collect()[0]
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    chunk = max(hi // 4, 1)
    split = lo + 3 * chunk  # DDL lands at the 3/4 chunk boundary
    tmp = _scratch_dir("cdc_evolve", sf)
    shutil.rmtree(tmp, ignore_errors=True)
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    root = f"{tmp}/t"
    table = LakeTable.create(root, n_buckets=8, schema_version=2)
    replay(spark, stream.filter(F.col("lsn") < split), table, chunk_size=chunk)

    new_sv = LakeTable.load(root).add_column("score", "double")["schema_version"]
    # floor-based payload: bit-identical in Spark and DuckDB (FLOOR
    # yields an integer; one IEEE division each side)
    score = F.when(
        (F.col("op") != "D") & (F.col("lsn") >= split),
        F.floor(F.col("_value") * 1000) / 100.0,
    )
    evolved = (
        stream.join(
            events.select(
                F.col("event_id").alias("lsn"), F.col("value").alias("_value")
            ),
            "lsn",
        )
        .withColumn("score", score)
        .withColumn(
            "schema_version",
            F.when(F.col("lsn") >= split, F.lit(new_sv)).otherwise(
                F.col("schema_version")
            ),
        )
        .drop("_value")
    )
    replay(spark, evolved, LakeTable.load(root), chunk_size=chunk)

    final = LakeTable.load(root).read(spark)
    return final.select(
        "doc_id",
        F.element_at("tokens", 1).alias("tok_value"),
        F.element_at("tokens", 2).alias("tok_user"),
        F.element_at("tokens", 3).alias("last_lsn"),
        "n_tok",
        F.col("source").alias("last_type"),
        "score",
    ).orderBy("doc_id")


CDC_SCHEMA_EVOLUTION_STATE_SQL = """
WITH split AS (
  SELECT min(event_id) + 3 * GREATEST(max(event_id) // 4, 1) AS at FROM events
),
latest AS (
  SELECT concat('u', user_id, '-', event_id % 16) AS doc_id,
         CAST(FLOOR(value * 100) AS INT) AS tok_value,
         CAST(user_id AS INT) AS tok_user,
         CAST(event_id AS INT) AS last_lsn,
         CAST(3 AS BIGINT) AS n_tok,
         event_type AS last_type,
         CASE WHEN event_id >= (SELECT at FROM split)
              THEN FLOOR(value * 1000) / 100.0 END AS score
  FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id, event_id % 16 ORDER BY event_id DESC) = 1
    AND event_type <> 'error'
)
SELECT doc_id, tok_value, tok_user, last_lsn, n_tok, last_type, score
FROM latest
ORDER BY doc_id
"""


QUERIES = {
    "cdc_replay_latest_state": (cdc_replay_latest_state, CDC_REPLAY_LATEST_STATE_SQL),
    "cdc_replay_mor_state": (cdc_replay_mor_state, CDC_REPLAY_LATEST_STATE_SQL),
    "cdc_change_feed": (cdc_change_feed, CDC_CHANGE_FEED_SQL),
    "cdc_dml_state": (cdc_dml_state, CDC_DML_STATE_SQL),
    "cdc_constrained_replay": (cdc_constrained_replay, CDC_CONSTRAINED_REPLAY_SQL),
    "cdc_merge_into_state": (cdc_merge_into_state, CDC_MERGE_INTO_STATE_SQL),
    "cdc_convert_documents": (cdc_convert_documents, CDC_CONVERT_DOCUMENTS_SQL),
    "cdc_restore_reconverge": (cdc_restore_reconverge, CDC_REPLAY_LATEST_STATE_SQL),
    "cdc_wap_publish_state": (cdc_wap_publish_state, CDC_REPLAY_LATEST_STATE_SQL),
    "cdc_redrive_reconverge": (cdc_redrive_reconverge, CDC_REDRIVE_RECONVERGE_SQL),
    "cdc_schema_evolution_state": (
        cdc_schema_evolution_state,
        CDC_SCHEMA_EVOLUTION_STATE_SQL,
    ),
}
