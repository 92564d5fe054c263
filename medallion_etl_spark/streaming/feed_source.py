"""LakeTable change feed as a native Structured Streaming source.

PySpark 4's Python Data Source API lets the lake table act like
Delta's `readStream` + change-data-feed: offsets are TABLE VERSIONS,
each micro-batch is the net row-level change between two snapshots
(`LakeTable.read_changes` semantics), and the scan is pruned to
buckets whose data pointer moved between the two versions — per batch
the work is O(changed data), never O(table).

    from medallion_etl_spark.streaming.feed_source import read_feed_stream
    feed = read_feed_stream(spark, table_root, start_version=0)
    q = feed.writeStream.format(...).start()

Execution shape (why this scales): `latestOffset`/`partitions` are
driver-side metadata reads (two small JSON documents); `read` runs on
EXECUTORS, one partition per changed bucket, reading that bucket's
parquet directly with pyarrow and yielding Arrow RecordBatches —
no driver materialization, and the `_lsn > watermark` filter uses
parquet row-group statistics via pyarrow's predicate pushdown.

Contracts (same as `read_changes`; both plan with
`cdc.table.plan_changes`): the feed is the NET change per key between
offsets; tombstones older than a later
`compact()` watermark are not replayable; the output schema is fixed
at query start. A schema evolution DURING a run fails the query
loudly (Delta's fail-on-schema-change behavior — narrowing the
evolved bucket to the query-start schema could corrupt values);
restarting the query from the SAME checkpoint re-pins the schema at
the new version and continues from the checkpointed offset —
pre-evolution files align on read (added column -> NULL, widen ->
cast) and no consumed change is re-emitted
(tests/test_feed_source.py::test_schema_evolution_restart_continues).

Reference analog: the reference has no streaming surface at all
(SURVEY.md §2.9); this is the north_rule's streaming-consumption leg
built on the table format's own metadata.
"""

from __future__ import annotations

import dataclasses
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from ..cdc.table import LakeTable, plan_changes

FORMAT_NAME = "lake_feed"

FEED_EXTRA_FIELDS = [
    T.StructField("_lsn", T.LongType(), True),
    T.StructField("_change_type", T.StringType(), True),
]


def feed_schema_of(docs_schema: T.StructType) -> T.StructType:
    return T.StructType(list(docs_schema.fields) + FEED_EXTRA_FIELDS)


@dataclasses.dataclass
class FeedPartition(InputPartition):
    # (abs dir, schema_version) of every qualifying source of ONE
    # bucket — base first, then merge-on-read deltas in append order.
    # Sources whose footer max_lsn proves them at/below the watermark
    # are pruned at planning time (a MOR delta-append span reads ONLY
    # the appended delta files). One bucket = one partition, so the
    # cross-delta LWW dedup in read() is complete without a shuffle.
    sources: list[tuple[str, int]]
    key_col: str
    target_schema_version: int  # schema the query surfaces
    watermark_lsn: int  # emit only rows with _lsn strictly above
    # serialized StructType per schema version (the TABLE's metadata
    # map, pinned at query start): executors have no LakeTable handle,
    # so the declared schemas ride in the partition — the engine never
    # consults the code registry for a live table
    schemas_json: dict[int, dict]


class LakeFeedStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("lake_feed requires .option('path', <table root>)")
        self.start_version = int(options.get("startversion", options.get("startVersion", 0)))
        # backpressure (Delta maxFilesPerTrigger analog): cap each
        # micro-batch at this many table VERSIONS so a large backlog
        # drains in bounded batches instead of one giant catch-up scan.
        # 0 / absent = unlimited (current behavior).
        self.max_versions = (
            int(
                options.get(
                    "maxversionspertrigger", options.get("maxVersionsPerTrigger", 0)
                )
            )
            or None
        )
        # the pacing cursor: the highest offset this reader has seen —
        # handed out by latestOffset OR shown to us by the engine
        # (partitions()/commit()). The Python DS API has no admission-
        # control hook (latestOffset takes no start), so the cap is
        # cursor-relative, which is safe because (verified against the
        # Spark 4.1 microbatch engine, pinned by
        # tests/test_feed_backpressure.py): on ANY restart the engine
        # re-plans the checkpointed offsets through partitions() —
        # completed last batch included, as an (end, end) probe —
        # BEFORE the first latestOffset, so the cursor is always at
        # the checkpoint before we cap, and resume mid-backlog stays
        # bounded. The cursor only ever moves forward: handing back an
        # offset below the engine's log would rewind the stream.
        self._cursor: int = self.start_version
        # schema (and the declared-version map) is pinned at query
        # start — see module docstring. When the DataSource resolved
        # the query schema it recorded the version it read
        # (pinnedVersion); pinning the reader to the SAME version
        # closes the window where a DDL commit lands between the two
        # loads and the reader would emit batches in a schema the
        # query never declared. Fallback to HEAD if that version file
        # was expired in the meantime.
        pv = options.get("pinnedVersion")
        try:
            t = (
                LakeTable.load_version(self.root, int(pv))
                if pv is not None
                else LakeTable.load(self.root)
            )
        except (FileNotFoundError, ValueError) as exc:
            # load_version raises ValueError ("no snapshot ...") when
            # the version file is gone (expired between schema() pin
            # and reader init), not FileNotFoundError — but ONLY that
            # ValueError may fall back to HEAD: a corrupt/hand-edited
            # version file raising some other ValueError must stay
            # loud, not silently re-pin the stream to HEAD's schema.
            if isinstance(exc, ValueError) and "no snapshot" not in str(exc):
                raise
            t = LakeTable.load(self.root)
        self.target_sv = t.schema_version
        self.schemas_json = {v: st.jsonValue() for v, st in t.schemas.items()}

    # -- offsets (driver-side, metadata only) ---------------------------

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        head = LakeTable.load(self.root).version
        if self.max_versions is None:
            return {"version": head}
        end = min(head, self._cursor + self.max_versions)
        end = max(end, self._cursor)  # never move backward
        self._cursor = end
        return {"version": end}

    def partitions(self, start: dict, end: dict) -> list[FeedPartition]:
        start_v, end_v = int(start["version"]), int(end["version"])
        # recovery path: a restart re-plans the checkpointed batch
        # through here before any latestOffset call (an in-flight batch
        # as a real span, a completed one as an (end, end) probe) —
        # adopt the offsets as the pacing cursor so the next trigger
        # caps from the checkpoint, never from start_version
        self._cursor = max(self._cursor, start_v, end_v)
        if end_v <= start_v:
            return []
        new = LakeTable.load_version(self.root, end_v)
        # the batch feed's own planner (cdc/table.py plan_changes): same
        # gates (restore, retention, watermark crossing) and the same
        # bucket diff with per-source max_lsn pruning (a MOR delta-append
        # span reads ONLY the appended delta files)
        watermark, changed = plan_changes(
            LakeTable.load_version(self.root, start_v).meta, new.meta
        )
        return [
            FeedPartition(
                sources=[(os.path.join(self.root, s["dir"]), s["schema_version"]) for s in srcs],
                key_col=new.key_col,
                target_schema_version=self.target_sv,
                watermark_lsn=watermark,
                schemas_json=self.schemas_json,
            )
            for srcs in changed.values()
        ]

    # -- data (executor-side, Arrow batches) ----------------------------

    def read(self, partition: FeedPartition):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        from ..cdc.table import INTERNAL_FIELDS

        def _stored(sv: int) -> T.StructType:
            declared = T.StructType.fromJson(partition.schemas_json[sv])
            return T.StructType(list(declared.fields) + INTERNAL_FIELDS)

        target = to_arrow_schema(_stored(partition.target_schema_version))
        parts: list[pa.Table] = []
        for src_idx, (src_dir, src_sv) in enumerate(partition.sources):
            if src_sv > partition.target_schema_version:
                # the table evolved past the schema this query started
                # with: narrowing casts could corrupt values, so fail
                # the stream explicitly (Delta's fail-on-schema-change
                # behavior) — restarting picks up the new schema
                raise ValueError(
                    f"bucket written with schema v{src_sv} "
                    f"but this stream started at v{partition.target_schema_version}: "
                    "table schema evolved mid-stream; restart the streaming query"
                )
            stored = to_arrow_schema(_stored(src_sv))
            data = ds.dataset(src_dir, schema=stored, format="parquet")
            # row-group pruning on the _lsn statistic, then exact filter
            tbl = data.to_table(filter=ds.field("_lsn") > partition.watermark_lsn)
            cols = [
                tbl[f.name].cast(f.type)
                if f.name in tbl.column_names
                else pa.nulls(tbl.num_rows, f.type)  # added by later schema -> NULL
                for f in target
            ]
            aligned = pa.table(cols, schema=target)
            if len(partition.sources) > 1:
                aligned = aligned.append_column(
                    "_src", pa.repeat(pa.scalar(src_idx, pa.int32()), tbl.num_rows)
                )
            parts.append(aligned)
        tbl = pa.concat_tables(parts)

        if len(partition.sources) > 1 and tbl.num_rows:
            # merge-on-read: the span stacked >1 source on this bucket
            # (base + deltas), so a key may carry several versions —
            # keep the LWW winner, max (_lsn, append ordinal), to stay
            # NET-change (batch read_changes semantics). One bucket =
            # one partition, so this local dedup is globally complete.
            # Vectorized pandas (sort + drop_duplicates), never per-row.
            key = partition.key_col
            d = tbl.select([key, "_lsn", "_src"]).to_pandas()
            d["_row"] = range(len(d))
            keep = (
                d.sort_values(["_lsn", "_src"], kind="stable")
                .drop_duplicates(subset=[key], keep="last")["_row"]
                .to_numpy()
            )
            keep.sort()
            tbl = tbl.take(pa.array(keep))
            tbl = tbl.drop_columns(["_src"])
        elif "_src" in tbl.column_names:
            tbl = tbl.drop_columns(["_src"])

        out_fields = to_arrow_schema(
            feed_schema_of(
                T.StructType.fromJson(
                    partition.schemas_json[partition.target_schema_version]
                )
            )
        )
        n = tbl.num_rows
        cols = []
        for field in out_fields:
            if field.name == "_change_type":
                deleted = pc.fill_null(tbl["_deleted"], False)
                cols.append(
                    pc.if_else(deleted, pa.scalar("delete"), pa.scalar("upsert")).cast(
                        field.type
                    )
                )
            else:
                cols.append(tbl[field.name].cast(field.type))
        yield from pa.table(cols, schema=out_fields).to_batches()

    def commit(self, end: dict) -> None:
        # exactly-once is the SINK's job; offsets live in the
        # checkpoint. Adopt the committed end as the pacing cursor
        # (belt to partitions()' braces — whichever the engine calls
        # first after a restart wins).
        self._cursor = max(self._cursor, int(end["version"]))


class LakeFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> T.StructType:
        root = self.options.get("path")
        if not root:
            raise ValueError("lake_feed requires .option('path', <table root>)")
        t = LakeTable.load(root)
        # remember which version the declared query schema came from so
        # the stream reader (a separate load, possibly a separate
        # process) pins the SAME snapshot — see LakeFeedStreamReader
        self._pinned_version = t.version
        return feed_schema_of(t.schema())

    def streamReader(self, schema) -> LakeFeedStreamReader:
        opts = dict(self.options)
        pv = getattr(self, "_pinned_version", None)
        if pv is not None:
            opts["pinnedVersion"] = str(pv)
        return LakeFeedStreamReader(opts)


def read_feed_stream(
    spark: SparkSession,
    table_root: str,
    *,
    start_version: int = 0,
    max_versions_per_trigger: int | None = None,
) -> DataFrame:
    """Register the source (idempotent) and open the change-feed stream.

    ``max_versions_per_trigger``: bound each micro-batch to this many
    table versions (Delta ``maxFilesPerTrigger`` analog) so a deep
    backlog drains in ceil(backlog/limit) bounded batches, INCLUDING
    across a checkpointed restart mid-backlog (the engine re-plans the
    checkpointed offsets through partitions() before the first
    latestOffset, which re-seats the pacing cursor — see
    LakeFeedStreamReader). With ``trigger(availableNow=True)`` the
    engine snapshots ONE end offset per run, so a capped query drains
    one bounded batch per run; use a processingTime trigger for a
    continuously draining bounded feed."""
    spark.dataSource.register(LakeFeedDataSource)
    reader = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", table_root)
        .option("startVersion", str(start_version))
    )
    if max_versions_per_trigger is not None:
        reader = reader.option("maxVersionsPerTrigger", str(max_versions_per_trigger))
    return reader.load()
