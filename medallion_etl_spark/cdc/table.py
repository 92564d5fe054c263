"""LakeTable: a minimal Iceberg-style table format on plain Parquet.

The sandbox has no Iceberg/Delta jars, so exactly-once upserts are
built from first principles the same way those formats do it:

- **Immutable data files**, grouped into hash buckets:
  ``bucket = pmod(murmur3(doc_id), n_buckets)``. An upsert batch only
  rewrites the buckets that contain changed keys (copy-on-write at
  bucket granularity); untouched buckets keep their existing files.
  At 100 TB this is the difference between rewriting the table per
  batch and rewriting ~|batch|-proportional data.
- **Versioned metadata** (``metadata/version-N.json``) listing, per
  bucket, the current data directory and the schema version its files
  were written with (so type-widen evolution reads old files with
  their own schema and casts — no reliance on parquet mergeSchema).
- **Atomic commit**: a tiny ``metadata/CURRENT`` pointer file replaced
  with ``os.replace`` (atomic on POSIX). The commit manifest
  (batch_id -> lsn range) lives INSIDE the metadata document, so data
  visibility and the exactly-once bookkeeping change in the same
  atomic operation. A crash before the swap leaves the table exactly
  at the previous snapshot — this closes the reference's BUG-001
  (bronze DELETE committed before INSERT; reference BUGS.md:9-14).

Readers recompute the bucket id from ``doc_id`` — it is never stored —
so bucket pruning is always consistent with the data.
"""

from __future__ import annotations

import json
import re
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import DOCS_SCHEMAS
from .dedup import dedup_latest
from .evolve import aligned_cols

# v2: bucket function changed xxhash64 -> murmur3 (F.hash); a v1
# table's bucket layout is unreadable by v2 code and vice versa, so
# load() refuses on mismatch instead of silently mis-bucketing.
FORMAT_VERSION = 2

# Row-level bookkeeping persisted in every data file (never surfaced by
# a non-raw read):
#   _lsn      the LSN that produced the row — lets a merge decide
#             last-writer-wins against rows already in the table, so
#             batches may be applied in ANY order (out-of-order
#             micro-batches, kill-and-resume in any order) and still
#             converge to the same state.
#   _deleted  tombstone flag. A delete keeps a row (payload NULLed)
#             so an out-of-order earlier update can never resurrect
#             the key. Purged by compact() once the low-watermark LSN
#             passes them — the Iceberg snapshot-expiry analog.
INTERNAL_FIELDS = [
    T.StructField("_lsn", T.LongType(), True),
    T.StructField("_deleted", T.BooleanType(), True),
]
INTERNAL_COLS = [f.name for f in INTERNAL_FIELDS]


def count_dir_rows(abs_dir: str) -> int:
    """Row count of a bucket dir from parquet footers (driver-side,
    no Spark job — footers only)."""
    return dir_footer_stats(abs_dir)[0]


def dir_footer_stats(abs_dir: str) -> tuple[int, int | None]:
    """(row count, max ``_lsn``) of a bucket dir from parquet footers
    (driver-side, no Spark job). The max LSN goes into the bucket's
    commit metadata so change-feed planning can skip buckets whose
    pointer moved without any row above the feed watermark — a
    compaction or rebucket rewrites every bucket but adds no LSNs, and
    without this stat a feed spanning one degrades to opening every
    file for zero output rows."""
    import pyarrow.parquet as pq

    total, max_lsn = 0, None
    for dirpath, _dirs, files in os.walk(abs_dir):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(dirpath, fn)).metadata
            total += md.num_rows
            try:
                idx = md.schema.names.index("_lsn")
            except ValueError:
                continue
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is not None and st.has_min_max:
                    v = int(st.max)
                    max_lsn = v if max_lsn is None else max(max_lsn, v)
    return total, max_lsn


def map_bucket_dirs(root: str, rel_dir: str) -> dict[int, str]:
    """Map the ``_bucket=K`` partition dirs a write produced under
    ``rel_dir`` to table-relative paths, keyed by bucket id. The ONE
    place that knows the partition-dir naming — every writer (COW
    apply, MOR append, compact, rebucket) resolves its output through
    this, so the layout convention cannot drift between paths."""
    out: dict[int, str] = {}
    for entry in os.listdir(os.path.join(root, rel_dir)):
        if entry.startswith("_bucket="):
            out[int(entry.split("=", 1)[1])] = os.path.join(rel_dir, entry)
    return out


def bucket_footer_stats(root: str, new_dirs: dict[int, str]) -> dict[int, tuple[int, int | None]]:
    """Footer (rows, max_lsn) for each freshly written bucket dir —
    the per-bucket stats every commit records (see dir_footer_stats
    for why feeds need them)."""
    return {b: dir_footer_stats(os.path.join(root, rel)) for b, rel in new_dirs.items()}


def entry_sources(entry: dict) -> list[dict]:
    """Physical sources of one bucket entry, base first then merge-on-
    read deltas in append order. Each source: ``dir`` /
    ``schema_version`` / optional ``rows`` / ``max_lsn`` footer stats,
    plus ``didx`` — the append ordinal (0 = base) read-side LWW uses
    to break exact-LSN ties toward the newest write, mirroring the
    copy-on-write merge's chunk-wins-tie rule."""
    out = [
        {
            "dir": entry["dir"],
            "schema_version": int(entry["schema_version"]),
            "rows": entry.get("rows"),
            "max_lsn": entry.get("max_lsn"),
            "didx": 0,
        }
    ]
    for i, d in enumerate(entry.get("deltas", []), start=1):
        out.append(
            {
                "dir": d["dir"],
                "schema_version": int(d["schema_version"]),
                "rows": d.get("rows"),
                "max_lsn": d.get("max_lsn"),
                "didx": i,
            }
        )
    return out


def entry_signature(entry: dict) -> tuple:
    """Identity of a bucket's physical layout (base dir + delta dirs,
    in order) — what change-feed planning diffs. A delta append moves
    the signature without moving the base pointer."""
    return (entry["dir"], tuple(d["dir"] for d in entry.get("deltas", [])))


def entry_max_lsn(entry: dict) -> int | None:
    """Highest ``_lsn`` stored anywhere in the bucket (base + deltas),
    None when any source lacks the footer stat (unknown must mean
    'scan', never 'skip')."""
    best: int | None = None
    for s in entry_sources(entry):
        if s["max_lsn"] is None:
            return None
        v = int(s["max_lsn"])
        best = v if best is None else max(best, v)
    return best


def watermark_crossing_batches(old_meta: dict, new_meta: dict, watermark: int) -> list[int]:
    """Batch ids committed in the (old, new] span whose planned LSN
    range starts at or below the old snapshot's commit watermark.

    The engine deliberately supports out-of-LSN-order APPLICATION
    (late chunks, LSN-range backfills — LWW makes them converge), but
    an LSN-watermark change feed cannot represent such a commit: its
    rows become newly visible at LSNs the ``_lsn > watermark`` pruning
    skips, so a feed spanning it would silently lose them — the same
    hazard class as RESTORE, and it gets the same loud gate. Empty
    commits (rows_applied 0 — resume probes, net-empty refresh spans)
    are exempt: they add no rows."""
    old_b = old_meta.get("committed_batches", {})
    return sorted(
        int(bid)
        for bid, rec in new_meta.get("committed_batches", {}).items()
        if bid not in old_b
        and int(rec.get("rows_applied", 0)) > 0
        and int(rec["lsn_lo"]) <= watermark
    )


def bucket_expr(key_col: str, n_buckets: int) -> F.Column:
    """Bucket id = pmod(murmur3(key), n_buckets) — deliberately THE
    SAME function Spark's HashPartitioning uses, so any frame that was
    shuffled on the key (groupBy, window) already has every bucket
    contained in a single partition whenever n_buckets is a multiple
    of the shuffle partition count. The merge write exploits this:
    no extra repartition, one file per bucket dir. ``spark_hash`` is
    its driver-side twin for point lookups (pinned equal by
    tests/test_read_path.py)."""
    return F.pmod(F.hash(F.col(key_col)), F.lit(n_buckets)).cast("int")


_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    return (_rotl32((k1 * 0xCC9E2D51) & _M32, 15) * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    return (_rotl32(h1 ^ k1, 13) * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 = ((h1 ^ (h1 >> 16)) * 0x85EBCA6B) & _M32
    h1 = ((h1 ^ (h1 >> 13)) * 0xC2B2AE35) & _M32
    return h1 ^ (h1 >> 16)


def spark_hash(value, dtype: T.DataType) -> int | None:
    """Spark's ``hash(col)`` (Murmur3 x86_32, seed 42) of one value,
    computed in Python: ``hashInt`` for int/short/byte, ``hashLong``
    for long, and ``hashUnsafeBytes`` over UTF-8 for binary-collated
    strings — which mixes the trailing 1-3 bytes one SIGNED byte at a
    time, not as the standard Murmur3 tail. NULL hashes to the seed.
    Returns None for types (or values) this port does not cover, so
    callers can fall back to Spark."""
    h = 42
    if value is None:
        return h
    kind = type(dtype)
    if kind in (T.IntegerType, T.ShortType, T.ByteType, T.LongType):
        if type(value) is not int:
            return None
        if kind is T.LongType:
            if not -(1 << 63) <= value < 1 << 63:
                return None
            v = value & 0xFFFFFFFFFFFFFFFF
            h = _fmix(_mix_h1(_mix_h1(h, _mix_k1(v & _M32)), _mix_k1(v >> 32)), 8)
        else:
            if not -(1 << 31) <= value < 1 << 31:
                return None
            h = _fmix(_mix_h1(h, _mix_k1(value & _M32)), 4)
    elif kind is T.StringType and getattr(dtype, "collation", "UTF8_BINARY") == "UTF8_BINARY":
        if type(value) is not str:
            return None
        b = value.encode("utf-8")
        aligned = len(b) - len(b) % 4
        for i in range(0, aligned, 4):
            h = _mix_h1(h, _mix_k1(int.from_bytes(b[i : i + 4], "little")))
        for byte in b[aligned:]:
            h = _mix_h1(h, _mix_k1(((byte ^ 0x80) - 0x80) & _M32))
        h = _fmix(h, len(b))
    else:
        return None
    return h - (1 << 32) if h & 0x80000000 else h


def _source_ordinal(srcs: list[tuple[str, int]]) -> F.Column:
    """Per-row append ordinal (``didx``) of a multi-source scan, from
    the parent dir of the row's file. Spark reports ``file_path`` as a
    URI — ``file:`` + the absolute path with space and ``%``
    percent-encoded, ``+`` and non-ASCII literal — so the path is
    percent-decoded first; ``url_decode`` is form decoding ('+' means
    space), hence the literal '+' is re-escaped before it. A row whose
    dir maps to no source fails the query: a silent NULL ordinal would
    lose exact-LSN ties."""
    path = F.col("_metadata.file_path")
    decoded = F.url_decode(F.replace(path, F.lit("+"), F.lit("%2B")))
    parent = F.regexp_replace(decoded, "/[^/]*$", "")
    ordinals = F.create_map(
        *[x for d, didx in srcs for x in (F.lit("file:" + os.path.abspath(d)), F.lit(didx))]
    )
    return F.coalesce(
        ordinals[parent],
        F.raise_error(F.concat(F.lit("file outside the read's sources: "), path)),
    )


def _fsync_dir(path: str) -> None:
    """Make the renames inside ``path`` durable: a rename lives in the
    directory, so fsyncing the renamed file alone can lose it on power
    loss."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def retry_on_fork_rewind(apply_fn, on_retry=None, *, attempts: int = 3):
    """Run ``apply_fn()`` retrying ONLY on the commit-time fork/rewind
    guard (a concurrent commit moved the on-disk HEAD between a
    handle's load and its commit — see ``_commit_meta``). Any other
    error, and the final attempt's failure, propagate unchanged.

    ``on_retry()`` runs before each re-attempt so the caller can
    refresh whatever the conflict invalidated (reload the table
    handle, recompute layout-addressed stats); callers that load a
    fresh handle inside ``apply_fn`` itself don't need one. This is
    the ONE retry policy for every optimistic-commit path (batch
    replay, streaming epochs, DML, signature maintenance) — change
    attempt count or the retryable test here, nowhere else."""
    for attempt in range(attempts):
        try:
            return apply_fn()
        except RuntimeError as exc:
            if "fork/rewind" not in str(exc) or attempt == attempts - 1:
                raise
            if on_retry is not None:
                on_retry()
    raise AssertionError("unreachable")


class LakeTable:
    def __init__(self, root: str, meta: dict):
        self.root = root
        self.meta = meta

    # ---- lifecycle -------------------------------------------------------

    @classmethod
    def create(
        cls,
        root: str,
        *,
        n_buckets: int = 16,
        schema_version: int = 1,
        key_col: str = "doc_id",
        bloom_key_filter: bool = False,
        constraints: dict[str, str] | None = None,
        schemas: dict[int, T.StructType] | None = None,
    ) -> "LakeTable":
        """``schemas=`` overrides the bootstrap schema map (default:
        the token-sequence ``DOCS_SCHEMAS``), making the format usable
        for ANY keyed table — e.g. a derived signature store
        (operators/dedup_incremental.py). The map lands in table
        metadata exactly like the default; every later surface
        (merge, evolution DDL, feeds, restore) reads it from there.

        ``bloom_key_filter=True`` writes a parquet bloom filter on
        the key column in every bucket file (merge, compact, rebucket
        — all writers consult table metadata). Point lookups between
        compactions hit arrival-ordered buckets where min/max stats
        can't prune; the bloom skips row groups whose key set provably
        misses. Opt-in: it costs write-side CPU and ~1 MB/row-group,
        worth it for lookup-heavy tables only (the Delta bloom-filter
        index analog, recorded in table metadata the same way)."""
        reg = schemas if schemas is not None else DOCS_SCHEMAS
        if schema_version not in reg:
            raise ValueError(
                f"schema_version {schema_version} not in the bootstrap "
                f"schema map (declared: {sorted(reg)})"
            )
        for v, s in reg.items():
            if key_col not in {f.name for f in s.fields}:
                raise ValueError(
                    f"key column {key_col!r} missing from schema version {v}"
                )
        os.makedirs(os.path.join(root, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        meta = {
            "format_version": FORMAT_VERSION,
            "version": 0,
            "schema_version": schema_version,
            # schema versions live IN TABLE METADATA (the Iceberg/Delta
            # schema-in-snapshot analog): one serialized StructType per
            # version, appended to by add_column()/widen_column() so
            # arbitrary DDL works without a code release. The code
            # registry DOCS_SCHEMAS is only this bootstrap default.
            "schemas": {str(v): s.jsonValue() for v, s in reg.items()},
            "n_buckets": n_buckets,
            "key_col": key_col,
            "bloom_key_filter": bool(bloom_key_filter),
            "buckets": {},  # bucket_id(str) -> {"dir": rel, "schema_version": int}
            "committed_batches": {},  # batch_id(str) -> {lsn_lo, lsn_hi, rows_applied}
            # CHECK constraints (cdc/constraints.py): name -> SQL predicate
            # every non-tombstone write must not evaluate to FALSE
            "constraints": dict(constraints or {}),
        }
        table = cls(root, meta)
        table._write_metadata(meta)
        return table

    @classmethod
    def load(cls, root: str) -> "LakeTable":
        current = os.path.join(root, "metadata", "CURRENT")
        with open(current) as f:
            name = f.read().strip()
        with open(os.path.join(root, "metadata", name)) as f:
            meta = json.load(f)
        if meta.get("format_version") != FORMAT_VERSION:
            raise ValueError(
                f"table at {root} has format_version {meta.get('format_version')}, "
                f"this engine reads {FORMAT_VERSION} (bucket layouts differ; "
                "rewrite the table with the matching engine version)"
            )
        return cls(root, meta)

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "metadata", "CURRENT"))

    @classmethod
    def load_version(cls, root: str, version: int) -> "LakeTable":
        """Time travel: open the snapshot as of ``version``.

        Every commit retains its ``metadata/version-N.json`` and data
        files are immutable (copy-on-write), so an old snapshot is just
        the old metadata document — the Iceberg snapshot-id read
        analog. The returned table is read-only in spirit: committing
        from it would fork history, so ``commit`` refuses when the
        on-disk CURRENT is ahead of this snapshot.
        """
        path = os.path.join(root, "metadata", f"version-{version}.json")
        if not os.path.exists(path):
            raise ValueError(f"no snapshot version {version} at {root}")
        with open(path) as f:
            meta = json.load(f)
        if meta.get("format_version") != FORMAT_VERSION:
            raise ValueError(
                f"snapshot {version} at {root} has format_version "
                f"{meta.get('format_version')}, this engine reads {FORMAT_VERSION}"
            )
        return cls(root, meta)

    @classmethod
    def load_as_of(cls, root: str, timestamp) -> "LakeTable":
        """Time travel by TIMESTAMP (the Delta ``TIMESTAMP AS OF``
        analog): open the newest snapshot committed at or before
        ``timestamp`` — a unix float/int, a ``datetime``, or an ISO
        string (naive values are interpreted in local time, matching
        ``datetime.timestamp()``).

        Commit times come from each retained version document's
        ``committed_at_unix`` (version 0 — creation — falls back to the
        file's mtime: it is written once and never touched). Cost is
        O(retained versions) of driver-side JSON reads, no Spark job.
        A timestamp before the oldest retained snapshot raises — after
        ``expire_snapshots`` that history is genuinely gone."""
        import datetime as _dt

        if isinstance(timestamp, str):
            timestamp = _dt.datetime.fromisoformat(timestamp)
        if isinstance(timestamp, _dt.datetime):
            timestamp = timestamp.timestamp()
        ts = float(timestamp)
        md_dir = os.path.join(root, "metadata")
        best: int | None = None
        earliest: float | None = None
        for name in os.listdir(md_dir):
            if not (name.startswith("version-") and name.endswith(".json")):
                continue
            v = int(name.removeprefix("version-").removesuffix(".json"))
            path = os.path.join(md_dir, name)
            with open(path) as f:
                committed_at = json.load(f).get("committed_at_unix")
            if committed_at is None:
                committed_at = os.path.getmtime(path)
            earliest = committed_at if earliest is None else min(earliest, committed_at)
            if committed_at <= ts and (best is None or v > best):
                best = v
        if best is None:
            raise ValueError(
                f"no snapshot at or before unix {ts} at {root}: the oldest "
                f"retained commit is unix {earliest} (earlier history may "
                "have been removed by expire_snapshots)"
            )
        return cls.load_version(root, best)

    # ---- properties ------------------------------------------------------

    @property
    def version(self) -> int:
        return self.meta["version"]

    @property
    def schema_version(self) -> int:
        return self.meta["schema_version"]

    @property
    def n_buckets(self) -> int:
        return self.meta["n_buckets"]

    @property
    def key_col(self) -> str:
        return self.meta["key_col"]

    @property
    def schemas(self) -> dict[int, T.StructType]:
        """Every declared schema version (metadata-recorded; the code
        registry is the fallback for pre-metadata tables only)."""
        raw = self.meta.get("schemas")
        if raw is None:
            return dict(DOCS_SCHEMAS)
        return {int(v): T.StructType.fromJson(d) for v, d in raw.items()}

    def schema_for(self, schema_version: int) -> T.StructType:
        reg = self.schemas
        if schema_version not in reg:
            raise KeyError(
                f"schema version {schema_version} is not declared for this "
                f"table (known: {sorted(reg)}); run add_column()/"
                "widen_column() first — evolution is DDL-first"
            )
        return reg[schema_version]

    def stored_schema_for(self, schema_version: int) -> T.StructType:
        """Physical file schema of a bucket source written at the given
        version: the declared columns plus the engine bookkeeping."""
        return T.StructType(list(self.schema_for(schema_version).fields) + INTERNAL_FIELDS)

    def schema(self) -> T.StructType:
        return self.schema_for(self.schema_version)

    def add_column(self, name: str, dtype) -> dict:
        """``ALTER TABLE ADD COLUMN`` (nullable): declare schema version
        ``max+1`` = current schema + the new column, recorded in table
        metadata by one atomic commit. Old files stay as written and
        read as NULL for the column; new writes at the new version
        carry it. No data job runs. ``dtype`` is a DataType or a DDL
        string ('double', 'array<int>', ...)."""
        from .evolve import parse_type

        dt = parse_type(dtype)
        cur = self.schema()
        if name in {f.name for f in cur.fields} or name in INTERNAL_COLS:
            raise ValueError(f"column {name!r} already exists in schema v{self.schema_version}")
        # alignment is NAME-based (no Iceberg field ids): re-adding a
        # name that any declared version ever carried would resurrect
        # the dropped column's old stored values on read — refuse
        ever = {f.name for st in self.schemas.values() for f in st.fields}
        if name in ever:
            raise ValueError(
                f"column {name!r} existed in an earlier schema version of this "
                "table; name-based alignment would resurrect its old stored "
                "values — use a fresh name"
            )
        new_sv = max(self.schemas) + 1
        new_schema = T.StructType(list(cur.fields) + [T.StructField(name, dt, True)])
        schemas = dict(self.meta.get("schemas") or {str(v): s.jsonValue() for v, s in DOCS_SCHEMAS.items()})
        schemas[str(new_sv)] = new_schema.jsonValue()
        self.commit(
            {}, set(), None,
            schema_version=new_sv,
            meta_updates={"schemas": schemas},
        )
        return {"column": name, "type": dt.simpleString(), "schema_version": new_sv, "version": self.version}

    def drop_column(self, name: str) -> dict:
        """``ALTER TABLE DROP COLUMN``: declare schema version ``max+1``
        without the column — a pure metadata commit. Old files keep the
        bytes (immutable); reads at the new version simply never select
        the column (alignment projects the TARGET schema's fields
        only), and the next compaction/COW rewrite physically sheds it.
        The key column and engine bookkeeping cannot be dropped, and
        the name stays reserved forever (see add_column: name-based
        alignment would resurrect old values on re-add)."""
        cur = self.schema()
        fields = {f.name for f in cur.fields}
        if name == self.key_col:
            raise ValueError(f"cannot drop the key column {name!r}")
        if name not in fields:
            raise ValueError(f"no column {name!r} in schema v{self.schema_version}")
        # a CHECK constraint referencing the column would make every
        # later write fail to even RESOLVE its predicate — the table
        # becomes un-writable until the constraint is dropped. Refuse
        # up front (Delta refuses this DDL for the same reason). The
        # word-boundary match can false-positive on a literal inside
        # the predicate; the remedy is the same drop_constraint either
        # way, so loud-and-conservative wins.
        dependent = sorted(
            cname
            for cname, pred in self.constraints.items()
            if re.search(rf"\b{re.escape(name)}\b", pred)
        )
        if dependent:
            raise ValueError(
                f"cannot drop column {name!r}: CHECK constraint(s) "
                f"{dependent} reference it — drop_constraint first"
            )
        new_sv = max(self.schemas) + 1
        new_schema = T.StructType([f for f in cur.fields if f.name != name])
        schemas = dict(self.meta.get("schemas") or {str(v): s.jsonValue() for v, s in DOCS_SCHEMAS.items()})
        schemas[str(new_sv)] = new_schema.jsonValue()
        updates: dict = {"schemas": schemas}
        clustering = self.meta.get("clustering")
        if clustering and name in clustering.get("cols", []):
            # keep the recorded layout spec truthful: a later rebucket
            # re-applies it and must not sort on a dropped column
            remaining = [c for c in clustering["cols"] if c != name]
            updates["clustering"] = (
                {**clustering, "cols": remaining}
                if remaining
                else {"kind": "key", "cols": [self.key_col]}
            )
        self.commit(
            {}, set(), None,
            schema_version=new_sv,
            meta_updates=updates,
        )
        return {"column": name, "schema_version": new_sv, "version": self.version}

    def widen_column(self, name: str, new_type) -> dict:
        """``ALTER TABLE ALTER COLUMN TYPE`` restricted to lossless
        widenings (Iceberg's promotion set: int->long, float->double,
        plus the byte/short chain). Declares schema version ``max+1``
        with the column's type widened — cast-on-read aligns old files,
        so like add_column this is a pure metadata commit."""
        from .evolve import WIDENINGS, is_widening, parse_type

        dt = parse_type(new_type)
        cur = self.schema()
        fields = {f.name: f for f in cur.fields}
        if name not in fields:
            raise ValueError(f"no column {name!r} in schema v{self.schema_version}")
        old_dt = fields[name].dataType
        if old_dt == dt:
            raise ValueError(f"column {name!r} already has type {dt.simpleString()}")
        if not is_widening(old_dt, dt):
            raise ValueError(
                f"cannot change {name!r} {old_dt.simpleString()} -> "
                f"{dt.simpleString()}: not a lossless widening "
                f"(allowed: {WIDENINGS})"
            )
        new_sv = max(self.schemas) + 1
        new_schema = T.StructType(
            [T.StructField(f.name, dt if f.name == name else f.dataType, f.nullable) for f in cur.fields]
        )
        schemas = dict(self.meta.get("schemas") or {str(v): s.jsonValue() for v, s in DOCS_SCHEMAS.items()})
        schemas[str(new_sv)] = new_schema.jsonValue()
        self.commit(
            {}, set(), None,
            schema_version=new_sv,
            meta_updates={"schemas": schemas},
        )
        return {"column": name, "type": dt.simpleString(), "schema_version": new_sv, "version": self.version}

    def writer_options(self) -> dict[str, str]:
        """Parquet writer options every bucket-file writer (merge,
        compact, rebucket) must apply — derived from table metadata so
        layout features follow the table, not the code path."""
        if self.meta.get("bloom_key_filter"):
            return {f"parquet.bloom.filter.enabled#{self.key_col}": "true"}
        return {}

    def is_committed(self, batch_id: int) -> bool:
        return str(batch_id) in self.meta["committed_batches"]

    def max_committed_lsn(self) -> int:
        """Highest LSN any committed batch has applied (-1 for an empty
        table) — the snapshot's change-feed watermark."""
        batches = self.meta["committed_batches"].values()
        return max((int(r["lsn_hi"]) for r in batches), default=-1)

    def committed_batches(self) -> dict[int, dict]:
        return {int(k): v for k, v in self.meta["committed_batches"].items()}

    @property
    def constraints(self) -> dict[str, str]:
        """CHECK constraints (name -> SQL predicate) every writer
        enforces; absent key (pre-constraints table) = none."""
        return self.meta.get("constraints", {})

    def add_constraint(self, spark: SparkSession, name: str, predicate: str) -> dict:
        """Record a CHECK constraint in table metadata (metadata-only
        commit — the Delta ``ALTER TABLE ADD CONSTRAINT`` analog).

        Like Delta, adding VALIDATES the existing data first: every
        current row must not evaluate the predicate to FALSE (NULL
        passes — SQL-standard CHECK), otherwise this raises with the
        violation count and commits nothing. From the new version on,
        every write path (batch replay, streaming epochs, predicate
        DML) enforces it per its ``on_violation`` policy."""
        if name in self.constraints:
            raise ValueError(f"constraint {name!r} already exists: {self.constraints[name]!r}")
        from .constraints import violation_reason

        reason = violation_reason({name: predicate}, op_aware=False)
        n_bad = self.read(spark).filter(reason.isNotNull()).count()
        if n_bad:
            raise ValueError(
                f"cannot add constraint {name!r} CHECK ({predicate}): "
                f"{n_bad} existing row(s) violate it; clean the data "
                "first (e.g. delete_where/update_where) or fix the predicate"
            )
        self.commit({}, set(), None, meta_updates={"constraints": {**self.constraints, name: predicate}})
        return {"constraint": name, "predicate": predicate, "version": self.version}

    def drop_constraint(self, name: str) -> dict:
        """Remove a CHECK constraint (metadata-only commit). Unknown
        names are refused — silently 'dropping' a typo would leave the
        real constraint enforced against the caller's expectation."""
        if name not in self.constraints:
            raise ValueError(f"no constraint {name!r}; table has {sorted(self.constraints)}")
        remaining = {k: v for k, v in self.constraints.items() if k != name}
        self.commit({}, set(), None, meta_updates={"constraints": remaining})
        return {"constraint": name, "version": self.version}

    # ---- read ------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        raw: bool = False,
        *,
        merge_deltas: bool = True,
        min_lsn_exclusive: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Current snapshot, optionally pruned to the given buckets.

        Bucket pruning never touches the files of other buckets — the
        physical analog of partition pruning. Files written under older
        schema versions are read with their own schema and aligned
        (add-column -> NULL, type-widen -> cast) to the current one.

        ``raw=True`` keeps tombstone rows and the ``_lsn``/``_deleted``
        bookkeeping columns (the merge path needs them); the default
        read is the clean user-facing table.

        Merge-on-read: buckets carry append-only delta dirs when the
        writer chose the MOR path (apply.py ``write_mode='mor'``); the
        read LWW-merges base ∪ deltas to one row per key — winner =
        max ``(_lsn, append ordinal)``. A pure-COW table takes the
        exact pre-MOR plan (no extra columns, no merge node).
        ``merge_deltas=False`` returns the raw union instead — for the
        merge apply, whose own max-LSN reduction folds the deltas in
        the same shuffle that merges the chunk (one reduction, not
        two).

        ``min_lsn_exclusive``: drop rows at or below this LSN *before*
        the merge — sources whose footer ``max_lsn`` proves them empty
        are skipped entirely (zero I/O) and survivors get a scan-level
        ``_lsn >`` filter (parquet row-group pruning). Winner-exact for
        change feeds: the LWW winner survives the pre-filter iff its
        LSN qualifies, so filter-then-merge ≡ merge-then-filter. NOT
        equivalent for plain state reads (a key whose winner is below
        the bound would resurrect an older row) — feed/maintenance use
        only.

        ``columns``: project to these payload columns (the key is kept
        implicitly) BEFORE the MOR fold, so the ``max_by(struct)``
        carries only the requested payload and — decisively at scale —
        the parquet scans of delta-carrying buckets prune the other
        columns at the reader. Catalyst pushes a downstream ``select``
        into a plain scan by itself, but it cannot prune through the
        fold's struct aggregate; this parameter is how a narrow
        projection over a MOR table avoids shuffling wide payloads it
        never asked for.
        """
        if columns is not None:
            known = {f.name for f in self.schema().fields}
            bad = [c for c in columns if c not in known]
            if bad:
                raise ValueError(f"unknown columns {bad}; table has {sorted(known)}")
            # order-preserving dedupe: a repeated name would make the
            # fold's struct fields ambiguous
            keep = list(
                dict.fromkeys([self.key_col] + [c for c in columns if c != self.key_col])
            )
        wanted = set(buckets) if buckets is not None else None
        # (schema_version, bucket-has-deltas) -> [(dir, didx)]: ONE
        # parquet scan per group, however many delta dirs it spans. The
        # has-deltas flag splits the read per BUCKET: a key lives in
        # exactly one bucket and a clean bucket is a single COW dir
        # already holding one row per key, so only delta-carrying
        # buckets need the fold — the merge shuffle is O(|delta
        # buckets|), not O(|table|). The fold tells sources apart by
        # the append ordinal (didx), derived per row from the file path
        # (see _source_ordinal) instead of one scan per ordinal.
        groups: dict[tuple[int, bool], list[tuple[str, int]]] = {}
        for b_str, entry in self.meta["buckets"].items():
            if wanted is not None and int(b_str) not in wanted:
                continue
            srcs = entry_sources(entry)
            has_deltas = len(srcs) > 1 and merge_deltas
            for s in srcs:
                if (
                    min_lsn_exclusive is not None
                    and s["max_lsn"] is not None
                    and int(s["max_lsn"]) <= min_lsn_exclusive
                ):
                    continue  # footer stat proves no qualifying rows
                groups.setdefault((s["schema_version"], has_deltas), []).append(
                    (os.path.join(self.root, s["dir"]), s["didx"])
                )
        target_sv = self.schema_version
        clean_parts: list[DataFrame] = []
        merge_parts: list[DataFrame] = []
        for (sv, has_deltas), srcs in sorted(groups.items()):
            df = spark.read.schema(self.stored_schema_for(sv)).parquet(*[d for d, _ in srcs])
            if min_lsn_exclusive is not None:
                df = df.filter(F.col("_lsn") > F.lit(min_lsn_exclusive))
            ordinal = ["_didx"] if has_deltas else []
            if has_deltas:
                df = df.withColumn("_didx", _source_ordinal(srcs))
            have = {f.name for f in self.schema_for(sv).fields}
            df = df.select(
                *aligned_cols(have, target_sv, self.schemas), *INTERNAL_COLS, *ordinal
            )
            if columns is not None:
                df = df.select(*keep, *INTERNAL_COLS, *ordinal)
            (merge_parts if has_deltas else clean_parts).append(df)
        parts = list(clean_parts)
        if merge_parts:
            folded = merge_parts[0]
            for p in merge_parts[1:]:
                folded = folded.unionByName(p)
            parts.append(self._merge_sources(folded))
        if not parts:
            out = spark.createDataFrame([], self.stored_schema_for(target_sv))
            if columns is not None:
                out = out.select(*keep, *INTERNAL_COLS)
        else:
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        if raw:
            return out
        return out.filter(~F.coalesce(F.col("_deleted"), F.lit(False))).drop(*INTERNAL_COLS)

    def _merge_sources(self, df: DataFrame) -> DataFrame:
        """Read-side LWW fold of base + delta rows to one row per key,
        with the engine's one LWW reduction (dedup.py, skew-safe by its
        map-side partial aggregate): winner = max ``(_lsn, _didx)``.
        Same-LSN ties are redelivered copies of one event (identical
        rows); ``_didx`` resolves them toward the newest append,
        mirroring the COW merge's chunk-wins-tie convention. ``_didx``
        only ranks, so it stays out of the carried payload."""
        cols = [c for c in df.columns if c != "_didx"]
        return dedup_latest(
            df,
            keys=(self.key_col,),
            order_col=F.struct(F.col("_lsn"), F.col("_didx")),
            payload=[c for c in cols if c != self.key_col],
        ).select(*cols)

    def read_changes(
        self,
        spark: SparkSession,
        since_version: int,
        *,
        until_version: int | None = None,
        include_preimage: bool = False,
        allow_incomplete: bool = False,
    ) -> DataFrame:
        """Incremental change feed: net row-level changes between the
        ``since_version`` snapshot and this one — or the
        ``until_version`` snapshot when given (the Delta CDF
        startingVersion/endingVersion pair; a bounded span is just the
        ``until`` snapshot's own feed, so this delegates to time
        travel). Built from what the format already stores — no extra
        change log is written.

        Returns payload columns plus ``_lsn`` and ``_change_type``
        ('upsert' | 'delete'). Because the table is LWW-merged, the
        feed is the NET change per key — intermediate overwritten
        versions inside the span are not replayed, which is exactly
        what a downstream incremental materialization wants.

        Scale shape: only buckets whose data pointer CHANGED between
        the two snapshots are scanned (metadata diff — untouched
        buckets physically cannot contain newer rows), then the
        ``_lsn > watermark`` filter prunes row groups via parquet
        min/max stats. Cost is O(|changed data|), not O(|table|).

        Retention contract (ENFORCED): ``compact()`` purges tombstones
        at or below its ``watermark_lsn`` and records it in the
        metadata; a feed whose ``since_version`` watermark is older
        than that purge point may have lost delete records, so it
        RAISES instead of silently under-reporting deletes — the Delta
        CDF retention-window error, not its silent variant. Pass
        ``allow_incomplete=True`` to read anyway (upserts are always
        complete; only tombstones can be missing).
        """
        if until_version is not None:
            if until_version < since_version:
                raise ValueError(
                    f"until_version {until_version} < since_version {since_version}"
                )
            return LakeTable.load_version(self.root, until_version).read_changes(
                spark,
                since_version,
                include_preimage=include_preimage,
                allow_incomplete=allow_incomplete,
            )
        old = LakeTable.load_version(self.root, since_version)
        # a RESTORE inside the span resurrects rows at their ORIGINAL
        # LSNs — below the old watermark, so the `_lsn > watermark`
        # pruning below would silently miss them (and miss un-deletes
        # entirely). No completeness flag can fix that; the downstream
        # must re-bootstrap from the current snapshot.
        last_restore = int(self.meta.get("last_restore_commit", 0))
        if since_version < last_restore:
            raise ValueError(
                f"change feed since version {since_version} crosses the "
                f"RESTORE committed at version {last_restore}: restored "
                "rows carry pre-restore LSNs that an LSN-watermark feed "
                "cannot represent — re-bootstrap the downstream from the "
                "current snapshot (or feed from a version >= the restore)."
            )
        watermark = old.max_committed_lsn()
        purge_lsn = int(self.meta.get("compaction_watermark_lsn", -1))
        # a feed from the EMPTY snapshot (watermark -1: no batch ever
        # committed) is the current live row set; purged tombstones are
        # net-zero from empty, so nothing is actually missing
        if watermark == -1 and not old.meta.get("committed_batches"):
            purge_lsn = -1
        if watermark < purge_lsn and not allow_incomplete:
            raise ValueError(
                f"change feed since version {since_version} (watermark LSN "
                f"{watermark}) predates a compaction that purged tombstones "
                f"up to LSN {purge_lsn}: delete records in that span are "
                "gone. Re-bootstrap from the current snapshot, or pass "
                "allow_incomplete=True if missing deletes are acceptable."
            )
        crossers = watermark_crossing_batches(old.meta, self.meta, watermark)
        if crossers:
            raise ValueError(
                f"change feed since version {since_version} (watermark LSN "
                f"{watermark}) spans batch(es) {crossers} committed with LSN "
                "ranges at or below it (an out-of-order chunk or an LSN-range "
                "backfill): their rows are invisible to an LSN-watermark "
                "feed — re-bootstrap the downstream from the current snapshot."
            )
        # layout-diff (base dir + delta list — a MOR delta append moves
        # the signature without moving the base pointer), then the
        # max_lsn stat: a bucket rewritten by a compaction/rebucket
        # moved its pointer but holds no row above the watermark, so
        # its files provably contribute nothing — skipping keeps a feed
        # spanning a full-table rewrite at ZERO data I/O instead of
        # opening every file for zero rows. An entry without the stat
        # (older commits) scans as before.
        old_sigs = {b: entry_signature(e) for b, e in old.meta["buckets"].items()}
        changed = []
        for b, e in self.meta["buckets"].items():
            if old_sigs.get(b) == entry_signature(e):
                continue
            m = entry_max_lsn(e)
            if m is not None and m <= watermark:
                continue
            changed.append(int(b))
        # the watermark is pushed into the read: per-source footer
        # stats skip whole dirs (a delta-append span reads ONLY the
        # appended delta files, never the base), and the scan-level
        # filter prunes row groups before the MOR merge — winner-exact,
        # see read()
        # (the watermark filter itself lives inside read() — every
        # surviving scan group already carries `_lsn > watermark`)
        raw = self.read(spark, buckets=changed, raw=True, min_lsn_exclusive=watermark)
        feed = (
            raw.withColumn(
                "_change_type",
                F.when(
                    F.coalesce(F.col("_deleted"), F.lit(False)), F.lit("delete")
                ).otherwise(F.lit("upsert")),
            )
            .drop("_deleted")
        )
        if not include_preimage:
            return feed
        # Delta-CDF 'update_preimage' analog, derived via time travel:
        # for every changed key that was LIVE in the old snapshot, emit
        # its OLD row — what incremental aggregate maintenance needs to
        # SUBTRACT (delta = +postimages − preimages). Pruned to the same
        # changed buckets (a key can only change inside a changed
        # bucket) and keys are matched with a semi join, so the cost
        # stays O(changed data). The key semi-join is null-safe only in
        # theory — keys are declared non-null — but eqNullSafe keeps
        # the two sides consistent with the merge paths' convention.
        key = self.key_col
        # the changed-bucket ids are CURRENT-layout; they only address
        # the OLD snapshot's files while the bucket count is unchanged.
        # Across a rebucket the ids mean different hash ranges — a
        # shrink would silently skip old buckets >= the new count and
        # drop their preimages — so the old side falls back to a full
        # read (every pointer moved in that span anyway)
        old_buckets = changed if old.n_buckets == self.n_buckets else None
        old_raw = old.read(spark, buckets=old_buckets, raw=True)
        old_live = old_raw.filter(~F.coalesce(F.col("_deleted"), F.lit(False))).drop(
            "_deleted"
        )
        # align to the CURRENT schema (the old snapshot may predate an
        # add-column / type-widen evolution): missing columns -> NULL,
        # narrower types -> cast up
        feed_types = dict(feed.dtypes)
        old_live = old_live.select(
            *[
                F.col(c).cast(t) if c in old_live.columns else F.lit(None).cast(t).alias(c)
                for c, t in feed_types.items()
                if c != "_change_type"
            ]
        )
        # no forced broadcast: the changed-key set is O(|batch|); let
        # AQE pick broadcast when it is actually small
        changed_keys = feed.select(F.col(key).alias("_ck")).distinct()
        pre = old_live.join(
            changed_keys, F.col(key).eqNullSafe(F.col("_ck")), "left_semi"
        ).withColumn("_change_type", F.lit("update_preimage"))
        return feed.unionByName(pre)

    def detail(self) -> dict:
        """One-call operator summary of the snapshot this handle sees —
        the Delta ``DESCRIBE DETAIL`` analog. Pure metadata (no Spark
        job): ``stored_rows`` comes from the per-bucket commit stats
        and INCLUDES delete tombstones not yet compacted away (the
        user-visible count needs a read); merge-on-read delta rows
        count on top of their base (same entry_sources walk
        bucket_rows() uses, so the two can never disagree); it is None
        when any source predates counted commits — unknown must never
        read as 0, the same rule the broadcast gate follows."""
        buckets = self.meta["buckets"]
        counted = [s["rows"] for e in buckets.values() for s in entry_sources(e)]
        rows = None if any(r is None for r in counted) else sum(int(r) for r in counted)
        return {
            "root": self.root,
            "format_version": self.meta.get("format_version"),
            "version": self.version,
            "committed_at_unix": self.meta.get("committed_at_unix"),
            "schema_version": self.schema_version,
            "key_col": self.key_col,
            "n_buckets": self.n_buckets,
            "buckets_populated": len(buckets),
            "delta_dirs": sum(len(e.get("deltas", [])) for e in buckets.values()),
            "stored_rows": rows,
            "committed_batches": len(self.meta["committed_batches"]),
            "max_committed_lsn": self.max_committed_lsn(),
            "compaction_watermark_lsn": int(self.meta.get("compaction_watermark_lsn", -1)),
            "clustering": self.meta.get("clustering"),
            "bloom_key_filter": bool(self.meta.get("bloom_key_filter", False)),
            "constraints": dict(self.constraints),
            "cloned_from": self.meta.get("cloned_from"),
            "clones": list(self.meta.get("clones", [])),
            "last_restore_commit": int(self.meta.get("last_restore_commit", 0)) or None,
        }

    def restore(self, version: int) -> dict:
        """Roll the table back to ``version`` — the Delta ``RESTORE
        TABLE … TO VERSION AS OF`` analog — by COMMITTING a new version
        whose data-bearing fields (bucket pointers, batch manifest,
        schema version, bucket count, clustering, compaction watermark)
        are the old snapshot's. History is preserved: this is a
        roll-FORWARD to an old state, so time travel to the undone
        versions still works and the restore itself is one atomic,
        concurrency-checked commit (copy-on-write makes it pure
        metadata — the old dirs still exist while ``version`` is
        retained; a version removed by ``expire_snapshots`` raises).

        Rolling the MANIFEST back together with the data is what makes
        resume-after-restore correct: batches committed after
        ``version`` become pending again, so re-feeding the stream
        re-applies exactly the undone chunks and converges to the
        pre-restore head (order-independent LWW).

        Restored rows carry their ORIGINAL LSNs, which an LSN-watermark
        change feed cannot represent (a resurrected row is below every
        post-restore watermark) — the commit records itself in
        ``last_restore_commit`` and ``read_changes`` refuses to span
        it. CHECK constraints are metadata, not data: they stay as they
        are now and are NOT re-validated against the restored rows
        (Delta behaves the same)."""
        if version >= self.version:
            raise ValueError(
                f"cannot restore to version {version}: table is at "
                f"{self.version} (restore targets a STRICTLY older snapshot)"
            )
        old = LakeTable.load_version(self.root, version)
        self.commit(
            {},
            set(),
            None,
            meta_updates={
                "buckets": old.meta["buckets"],
                "committed_batches": old.meta["committed_batches"],
                "schema_version": old.meta["schema_version"],
                "n_buckets": old.meta["n_buckets"],
                "clustering": old.meta.get("clustering"),
                "compaction_watermark_lsn": old.meta.get("compaction_watermark_lsn", -1),
                "last_restore_commit": self.version + 1,
            },
        )
        return {"restored_to": version, "version": self.version}

    def lookup(
        self, spark: SparkSession, keys: list, columns: list[str] | None = None
    ) -> DataFrame:
        """Point lookup: current rows for the given keys, reading ONLY
        the buckets those keys hash to. The bucket id is recomputed
        driver-side with the same murmur3 the writer used, so an
        M-key lookup on a B-bucket table opens at most min(M, B)
        bucket dirs — at 100 TB with thousands of buckets this is the
        difference between a metadata-sized read and a table scan.
        For int, long and string keys the bucket ids come from
        ``spark_hash`` with no Spark job; other key types run one."""
        if not keys:
            return self.read(spark, buckets=[], columns=columns)
        key_field = next(f for f in self.schema().fields if f.name == self.key_col)
        hashes = [spark_hash(k, key_field.dataType) for k in keys]
        if None not in hashes:
            # pmod(hash, n): Python's % with a positive divisor is pmod
            buckets = sorted({h % self.n_buckets for h in hashes})
        else:
            # a key type the driver-side port does not cover: let Spark
            # evaluate bucket_expr, THE bucket function (FORMAT_VERSION
            # exists because it changed once) — never re-inline it
            key_df = spark.createDataFrame(
                [(k,) for k in keys],
                T.StructType([T.StructField("_k", key_field.dataType, True)]),
            )
            buckets = [
                r["_b"]
                for r in key_df.select(bucket_expr("_k", self.n_buckets).alias("_b"))
                .distinct()
                .collect()
            ]
        return self.read(spark, buckets=buckets, columns=columns).filter(
            F.col(self.key_col).isin(keys)
        )

    # ---- maintenance -----------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        watermark_lsn: int,
        *,
        zorder_by: list[str] | None = None,
        zorder_coding: str = "linear",
    ) -> dict:
        """Garbage-collect delete tombstones at or below the low
        watermark (an LSN every producer is known to have passed —
        events with lower LSNs can no longer arrive, so the tombstones
        have nothing left to block). Rewrites the table at the current
        schema version; one atomic commit. The Iceberg snapshot-expiry
        / Delta VACUUM analog, LSN-based instead of time-based.

        ``zorder_by``: optionally cluster each bucket by the Z-value
        of these columns instead of by key (the Delta ``OPTIMIZE ...
        ZORDER BY`` analog; see cdc/zorder.py) — row-group min/max
        stats become tight on every listed dimension, so scans
        filtered on non-key columns prune row groups. Key point
        lookups keep their bucket pruning either way.
        ``zorder_coding``: ``linear`` (equal-width bins, one min/max
        aggregate) or ``quantile`` (equal-frequency bins from an
        approxQuantile sketch — use for skewed dimensions)."""
        base = self.read(spark, raw=True)
        purgeable = F.coalesce(F.col("_deleted"), F.lit(False)) & (
            F.col("_lsn") <= F.lit(watermark_lsn)
        )
        keep = base.filter(~purgeable).withColumn(
            "_bucket", bucket_expr(self.key_col, self.n_buckets)
        )
        # cluster within each bucket: merge writes are arrival-ordered,
        # so compaction is the write-amortized place to sort — parquet
        # min/max statistics on the sort dimensions then give scans
        # row-group pruning on top of bucket pruning. Default sort is
        # the key (point lookups); zorder_by trades that for tight
        # stats on several non-key dimensions at once.
        new_dirs, fstats = self._write_sorted_buckets(
            keep,
            n_partitions=self.n_buckets,
            zorder_by=zorder_by,
            zorder_coding=zorder_coding,
        )
        removed = {int(b) for b in self.meta["buckets"]} - set(new_dirs)
        self.commit(
            new_dirs,
            removed,
            None,
            bucket_row_counts={b: s[0] for b, s in fstats.items()},
            bucket_max_lsns={b: s[1] for b, s in fstats.items()},
            meta_updates={
                # the purge point, for the change feed's retention gate
                "compaction_watermark_lsn": max(
                    int(self.meta.get("compaction_watermark_lsn", -1)), watermark_lsn
                ),
                # operator legibility only — readers never depend on layout
                "clustering": (
                    {"kind": "zorder", "cols": list(zorder_by), "coding": zorder_coding}
                    if zorder_by
                    else {"kind": "key", "cols": [self.key_col]}
                ),
            },
        )
        return {"buckets": sorted(new_dirs), "buckets_dropped": sorted(removed)}

    def _write_sorted_buckets(
        self,
        keep: DataFrame,
        *,
        n_partitions: int,
        zorder_by: list[str] | None,
        zorder_coding: str,
    ) -> tuple[dict[int, str], dict]:
        """The ONE bucket-rewrite tail both maintenance paths share
        (``compact`` and ``fold_deltas``): sort within buckets — by key
        or by Z-value — write one dir per bucket, and return (bucket ->
        new dir, footer stats). Any change to the dir layout or the
        footer-stat contract lands in both paths by construction."""
        if zorder_by:
            from .zorder import zvalue_col

            # materialize the Z-value as a column and sort by the
            # attribute: a raw expression in the sort order is re-eval'd
            # interpreted during the sort (the quantile coding's
            # array-fold measured ~20x the whole write that way), while
            # a projected column is computed once per row
            keep = keep.withColumn(
                "_zsort", zvalue_col(keep, zorder_by, coding=zorder_coding)
            )
            sort_col = "_zsort"
        else:
            sort_col = self.key_col
        rel_dir = self.new_data_dir()
        out_dir = os.path.join(self.root, rel_dir)
        sorted_keep = keep.repartition(
            n_partitions, F.col("_bucket")
        ).sortWithinPartitions("_bucket", sort_col)
        if zorder_by:
            sorted_keep = sorted_keep.drop("_zsort")
        (
            sorted_keep.write.mode("overwrite")
            .options(**self.writer_options())
            .partitionBy("_bucket")
            .parquet(out_dir)
        )
        new_dirs = map_bucket_dirs(self.root, rel_dir)
        return new_dirs, bucket_footer_stats(self.root, new_dirs)

    def fold_deltas(
        self,
        spark: SparkSession,
        *,
        min_deltas: int = 1,
        buckets: list[int] | None = None,
    ) -> dict:
        """Targeted merge-on-read delta compaction (the Iceberg
        ``rewrite_data_files`` / Delta delete-vector-compaction analog):
        fold base ∪ deltas into a fresh base for ONLY the buckets
        carrying at least ``min_deltas`` stacked deltas (or an explicit
        ``buckets`` list) — cost O(touched buckets), never O(table).

        This is the standing-maintenance half of the MOR trade: the
        write path's ``mor_max_deltas`` cap folds a bucket on its NEXT
        write, but a bucket that stops receiving writes keeps paying
        the read-side fold forever — at 10^10 rows a full ``compact()``
        to fix three hot buckets is the wrong tool. ``fold_deltas``
        rewrites exactly the delta-carrying buckets and commits their
        new pointers in one atomic swap.

        Deliberately NOT ``compact()``: no tombstone purge (the
        compaction watermark is untouched, so change-feed retention is
        unaffected) and no clustering CHANGE — the recorded clustering
        is HONORED, so folding a z-ordered table re-sorts the rewritten
        buckets by the same Z-spec the metadata claims. Clean buckets'
        entries keep their exact dir strings — a feed spanning the fold
        stays a metadata bucket-diff and reads zero data (the new
        pointers carry max_lsn footer stats at or below the old
        watermark)."""
        chosen = sorted(
            int(b)
            for b, e in self.meta["buckets"].items()
            if (buckets is None or int(b) in set(buckets))
            and len(e.get("deltas", [])) >= max(min_deltas, 1)
        )
        if not chosen:
            return {"folded_buckets": [], "committed": False}
        folded = self.read(spark, buckets=chosen, raw=True)
        keep = folded.withColumn(
            "_bucket", bucket_expr(self.key_col, self.n_buckets)
        )
        # honor the table's recorded clustering: folding a z-ordered
        # bucket must re-sort it by the SAME Z-value, or the rewritten
        # buckets silently lose the row-group pruning the metadata
        # still claims
        clustering = self.meta.get("clustering") or {}
        zorder_by = (
            list(clustering.get("cols", []))
            if clustering.get("kind") == "zorder"
            else None
        )
        # same live-column guard as rebucket: a recorded spec naming a
        # since-dropped column degrades to key sort instead of crashing
        if zorder_by and not set(zorder_by) <= {
            f.name for f in self.schema().fields
        }:
            zorder_by = None
        new_dirs, fstats = self._write_sorted_buckets(
            keep,
            n_partitions=len(chosen),
            zorder_by=zorder_by,
            zorder_coding=clustering.get("coding", "linear"),
        )
        # a chosen bucket folding to zero rows (possible only if every
        # source file was empty) simply loses its entry
        removed = set(chosen) - set(new_dirs)
        self.commit(
            new_dirs,
            removed,
            None,
            bucket_row_counts={b: s[0] for b, s in fstats.items()},
            bucket_max_lsns={b: s[1] for b, s in fstats.items()},
        )
        return {
            "folded_buckets": chosen,
            "buckets_dropped": sorted(removed),
            "committed": True,
            "version": self.version,
        }

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> dict:
        """Bucket-count evolution (the Iceberg partition-spec-evolution
        analog): rewrite the table under a new murmur3 bucket count in
        ONE shuffle job and one atomic commit. A bucket count chosen at
        create time cannot fit a table that grows 100x — too few
        buckets means huge per-bucket rewrites on every merge; this is
        the escape hatch, run in a maintenance window like compaction.

        Everything else is invariant: rows (tombstones included) are
        carried byte-for-byte, LSNs don't change, the batch manifest
        survives (so redelivered chunks stay no-ops), and the change
        feed across the rebucket version is EMPTY — every bucket
        pointer moves, but no row has an LSN above the previous
        snapshot's watermark, which is exactly the "net change is
        zero" a downstream consumer should see. The per-bucket
        ``max_lsn`` commit stat keeps that feed METADATA-ONLY (zero
        files opened), preserving the feed-cost invariant through a
        full-table rewrite. Later merges, lookups and feeds recompute
        bucket ids from the new count in metadata; historical
        snapshots keep reading their own layout.

        Scale shape: one full-table shuffle (unavoidable — every row
        changes bucket), hash-aligned so the write stays one file per
        bucket; the recorded clustering spec is re-applied on the way
        out (key sort by default, the Z-order spec if the last
        compaction recorded one) — a layout the operator paid a
        compaction for must not silently vanish in a rebucket."""
        if new_n_buckets < 1:
            raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")
        if new_n_buckets == self.n_buckets:
            raise ValueError(f"table already has {new_n_buckets} buckets")
        keep = self.read(spark, raw=True).withColumn(
            "_bucket", bucket_expr(self.key_col, new_n_buckets)
        )
        clustering = self.meta.get("clustering") or {"kind": "key", "cols": [self.key_col]}
        live = {f.name for f in self.schema().fields}
        if clustering.get("kind") == "zorder" and not set(clustering["cols"]) <= live:
            # a column in the recorded spec no longer exists (pre-fix
            # drop_column, or a hand-edited spec): a key sort keeps the
            # rebucket usable; the next compact re-establishes layout
            clustering = {"kind": "key", "cols": [self.key_col]}
        is_zorder = clustering.get("kind") == "zorder"
        new_dirs, fstats = self._write_sorted_buckets(
            keep,
            n_partitions=new_n_buckets,
            zorder_by=list(clustering["cols"]) if is_zorder else None,
            zorder_coding=clustering.get("coding", "linear"),
        )
        removed = {int(b) for b in self.meta["buckets"]} - set(new_dirs)
        old_n = self.n_buckets
        self.commit(
            new_dirs,
            removed,
            None,
            bucket_row_counts={b: s[0] for b, s in fstats.items()},
            bucket_max_lsns={b: s[1] for b, s in fstats.items()},
            meta_updates={
                "n_buckets": new_n_buckets,
                "clustering": clustering,
            },
        )
        return {
            "old_n_buckets": old_n,
            "new_n_buckets": new_n_buckets,
            "buckets_written": sorted(new_dirs),
        }

    def clone_to(self, dst_root: str) -> "LakeTable":
        """Zero-copy SHALLOW CLONE (the Delta ``CREATE TABLE … SHALLOW
        CLONE`` analog): a new table whose version-0 metadata points at
        THIS snapshot's data files — no data is copied, the clone is
        O(metadata) regardless of table size.

        The clone carries the source's bucket entries rewritten to
        ABSOLUTE paths (every reader resolves dirs with
        ``os.path.join(root, dir)``, which passes absolute paths
        through), plus the batch manifest (so replaying the same stream
        into the clone dedupes redeliveries exactly like the source
        would), schema version, clustering, compaction watermark and
        CHECK constraints. From there the two tables diverge freely:
        copy-on-write means every write lands in NEW dirs under the
        writer's own root, so neither side can touch the other's data —
        and a compaction in the clone rewrites it onto clone-local
        files, making it self-contained.

        Shared-file hazard (same as Delta), now GUARDED: the clone is
        registered in the source's metadata (``meta["clones"]``, one
        commit on the source HEAD), and the source's
        ``expire_snapshots`` refuses to delete a data dir a registered,
        still-existing clone points at (``force=True`` overrides,
        accepting the dangle). ``remove_orphans`` needs no guard: a
        clone only references dirs of a source snapshot, which stay
        referenced by that retained version file. Compacting the clone
        self-contains it (all pointers local), after which source
        retention is free again. The clone's own expiry is safe by
        construction: absolute references never match its local
        ``data/`` names, so they are simply never up for deletion."""
        if LakeTable.exists(dst_root):
            raise ValueError(f"destination {dst_root} is already a table")
        src_root = os.path.abspath(self.root)

        def absolutize(d: str) -> str:
            return d if os.path.isabs(d) else os.path.join(src_root, d)

        meta = json.loads(json.dumps(self.meta))  # deep copy
        for entry in meta["buckets"].values():
            entry["dir"] = absolutize(entry["dir"])
            for d in entry.get("deltas", []):
                d["dir"] = absolutize(d["dir"])
        meta["version"] = 0
        meta["cloned_from"] = {"root": src_root, "version": self.version}
        # version numbers restart at 0: a restore-guard watermark from
        # the source's numbering would block feeds in the clone's
        meta.pop("last_restore_commit", None)
        # the SOURCE's clone registry is not the clone's: inheriting it
        # would make the clone guard scan unrelated tables (and report
        # phantom clones in detail()); the stale commit time would make
        # load_as_of resolve timestamps from before the clone existed
        meta.pop("clones", None)
        meta["committed_at_unix"] = time.time()
        os.makedirs(os.path.join(dst_root, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(dst_root, "data"), exist_ok=True)
        clone = LakeTable(dst_root, meta)
        clone._write_metadata(meta)
        # register the clone on the SOURCE HEAD (not this possibly-old
        # snapshot handle) so retention can refuse to unreference dirs
        # the clone points at; bounded reload-and-retry absorbs commit
        # races with concurrent writers
        dst_abs = os.path.abspath(dst_root)

        def _register() -> None:
            src = LakeTable.load(src_root)  # fresh handle per attempt
            clones = list(src.meta.get("clones", []))
            if dst_abs in clones:
                return  # already registered: idempotent re-run
            src.commit({}, set(), None, meta_updates={"clones": clones + [dst_abs]})

        try:
            retry_on_fork_rewind(_register, attempts=5)
        except RuntimeError as exc:
            if "fork/rewind" not in str(exc):
                raise  # not a commit race: surface the real failure
            # an UNREGISTERED clone is silent data-loss bait: the
            # expire guard would never protect it. Fail loudly; the
            # clone dir itself is cheap to retry.
            raise RuntimeError(
                f"clone written to {dst_root} but its registration on "
                "the source lost 5 commit races; re-run clone_to "
                "(idempotent for the same destination) so retention "
                "can protect it"
            ) from exc
        return clone

    def publish_from(self, stage_root: str) -> dict:
        """Write-audit-publish (the Iceberg WAP / branch-fast-forward
        analog): atomically adopt everything committed on a staging
        clone of THIS table since it forked. The audited-CDC pattern is
        ``stage = src.clone_to(...)`` (zero-copy) → replay/DML into the
        stage → run whatever audits the pipeline needs against the
        stage → ``src.publish_from(stage_root)``. Until publish, the
        source serves its unchanged snapshot; a failed audit simply
        drops the stage and nothing was ever visible.

        Fast-forward ONLY: the source HEAD must still be the version
        the stage forked from. If the source advanced, publishing would
        silently discard those commits (the stage's metadata is a full
        snapshot, not a diff), so this RAISES and the recovery is to
        re-stage from the new HEAD — same loud-gate philosophy as the
        feed's restore/backfill refusals. Rebase is deliberately not
        offered: replaying the same stream into a fresh stage IS the
        rebase, and LWW makes it converge.

        Mechanics: stage-local data dirs are MOVED (same-filesystem
        ``os.rename``, O(1) per dir) into the source's ``data/``;
        dirs the stage inherited from the source are re-relativized to
        the exact strings the source already holds, so untouched
        buckets keep their entry signature and a change feed spanning
        the publish stays a metadata bucket-diff. Then ONE source
        commit adopts the stage's buckets, batch manifest, schema map,
        clustering, compaction watermark and constraints — the staged
        batches become pending-dedupe history exactly as if they had
        been applied directly. The stage is invalidated afterwards
        (its ``metadata/CURRENT`` is replaced by a ``PUBLISHED``
        marker): its local dirs moved away, so leaving it loadable
        would be silent-corruption bait.

        Crash windows (documented, not hidden): a crash between the
        dir moves and the commit leaves the SOURCE unchanged — publish
        is never partially visible (the atomic-commit invariant) — but
        the stage broken; recovery is re-staging from the source, and
        the already-moved dirs are unreferenced YOUNG orphans (moved
        files are utime-touched precisely so the ``remove_orphans``
        in-flight-writer age guard covers them, however long the stage
        was audited before publishing) that the sweep reclaims once
        they age out. A crash between the commit and the stage
        invalidation is detected on re-run: the head's data state
        equals this stage's adopted state, so ``publish_from`` finishes
        the invalidation and reports ``already_published`` instead of
        mis-diagnosing divergence. On an object store the move step
        would be a server-side copy or a shared-prefix pointer
        rewrite; the single-filesystem rename is the sandbox analog."""
        stage = LakeTable.load(stage_root)
        src_root = os.path.abspath(self.root)
        origin = stage.meta.get("cloned_from")
        if not origin or os.path.abspath(origin["root"]) != src_root:
            raise ValueError(
                f"table at {stage_root} is not a clone of {self.root} "
                "(publish_from only fast-forwards a stage forked from "
                "this table)"
            )
        if stage.version == 0:
            return {"published": False, "reason": "stage has no commits"}
        if int(stage.meta.get("last_restore_commit", 0)) > 0:
            raise ValueError(
                "stage was RESTOREd after forking: its restore watermark "
                "is numbered in stage versions, which the source's feed "
                "gate cannot represent — re-stage and re-apply instead"
            )
        if stage.meta.get("clones"):
            raise ValueError(
                f"stage has registered clones of its own "
                f"({stage.meta['clones']}): publishing moves its data "
                "dirs, which would break them — self-contain or drop "
                "those clones first"
            )
        fork = int(origin["version"])
        head = LakeTable.load(src_root)

        def rewrite_dir(d: str) -> str:
            if os.path.isabs(d):
                if d.startswith(src_root + os.sep):
                    return os.path.relpath(d, src_root)
                raise ValueError(
                    f"stage bucket dir {d} points outside the source "
                    "table (a clone-of-a-clone?): refusing to publish"
                )
            return d  # stage-local: keeps its relative name under src

        def rewritten_buckets() -> dict:
            out = json.loads(json.dumps(stage.meta["buckets"]))  # deep copy
            for entry in out.values():
                entry["dir"] = rewrite_dir(entry["dir"])
                for dlt in entry.get("deltas", []):
                    dlt["dir"] = rewrite_dir(dlt["dir"])
            return out

        def finish_invalidate(version: int) -> None:
            # CURRENT goes FIRST: from that instant the stage fails to
            # load (loudly) instead of serving entries whose dirs moved
            # away; the marker is diagnostics, written second so a
            # crash between the two only loses the breadcrumb
            md = os.path.join(stage.root, "metadata")
            cur = os.path.join(md, "CURRENT")
            if os.path.exists(cur):
                os.remove(cur)
            marker = os.path.join(md, "PUBLISHED")
            with open(marker + ".tmp", "w") as f:
                json.dump({"published_to": src_root, "source_version": version}, f)
            os.replace(marker + ".tmp", marker)

        adopted = rewritten_buckets()

        def data_state(meta: dict) -> tuple:
            # everything the publish would overwrite; NOT the clone
            # registry (clone_to itself commits a registration, so the
            # version NUMBER always moves — only data divergence blocks
            # a fast-forward)
            return (
                meta["buckets"],
                meta["committed_batches"],
                meta["schema_version"],
                meta["schemas"],
                meta["n_buckets"],
                meta.get("clustering"),
                meta.get("compaction_watermark_lsn", -1),
                meta.get("constraints", {}),
                meta.get("bloom_key_filter", False),
            )

        # idempotent re-publish: if a previous attempt COMMITTED but
        # crashed before invalidating the stage, the head's data state
        # is exactly this stage's FULL adopted state — finish the
        # invalidation instead of mis-reporting "source advanced". The
        # comparison must cover every field the publish would write
        # (constraints, clustering, watermark, bloom included): a
        # 3-field subset once swallowed a metadata-only staged commit
        # (e.g. add_constraint on the stage) as "already published",
        # destroying the stage without committing anything.
        adopted_state = (
            adopted,
            stage.meta["committed_batches"],
            stage.meta["schema_version"],
            stage.meta["schemas"],
            stage.meta["n_buckets"],
            stage.meta.get("clustering"),
            stage.meta.get("compaction_watermark_lsn", -1),
            stage.meta.get("constraints", {}),
            stage.meta.get("bloom_key_filter", False),
        )
        if data_state(head.meta) == adopted_state:
            finish_invalidate(head.version)
            return {
                "published": True,
                "already_published": True,
                "version": head.version,
                "staged_commits": stage.version,
                "staged_batches": [],
            }

        fork_state = data_state(LakeTable.load_version(src_root, fork).meta)

        def check_not_diverged(h: "LakeTable") -> None:
            if data_state(h.meta) != fork_state:
                raise RuntimeError(
                    f"source advanced past the stage's fork point (version "
                    f"{fork}, HEAD {h.version}, data state differs): "
                    "fast-forward publish would discard those commits — "
                    "re-stage from the current HEAD and re-apply the "
                    "stream (LWW reconverges)"
                )

        check_not_diverged(head)

        moved: list[str] = []  # stage-relative dirs now living under src
        now = time.time()

        def move_local(d: str) -> None:
            if os.path.isabs(d):
                return
            dst = os.path.join(src_root, d)
            if os.path.exists(dst):
                raise RuntimeError(
                    f"publish collision: {dst} already exists under the "
                    "source (stage-local dir names are expected unique)"
                )
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(os.path.join(stage.root, d), dst)
            moved.append(d)
            # rename preserves mtimes, but remove_orphans' in-flight-
            # writer age guard reads them: a stage audited for longer
            # than the guard window would otherwise be deletable in the
            # move-to-commit gap (and after a crash, as an "old"
            # orphan). Touch everything so the moved dirs are YOUNG
            # unreferenced dirs until the commit references them.
            os.utime(dst, (now, now))
            for dp, _, fs in os.walk(dst):
                for fn in fs:
                    os.utime(os.path.join(dp, fn), (now, now))

        stage_abs = os.path.abspath(stage_root)
        try:
            for entry in stage.meta["buckets"].values():
                move_local(entry["dir"])
                for dlt in entry.get("deltas", []):
                    move_local(dlt["dir"])

            def commit_once() -> "LakeTable":
                # fresh handle per attempt (the ONE fork/rewind retry
                # policy): a benign concurrent commit — another
                # clone_to registration, an expire — re-checks data
                # state and retries instead of aborting the publish
                h = LakeTable.load(src_root)
                check_not_diverged(h)
                h.commit(
                    {},
                    set(),
                    None,
                    meta_updates={
                        "buckets": adopted,
                        "committed_batches": stage.meta["committed_batches"],
                        "schema_version": stage.meta["schema_version"],
                        "schemas": stage.meta["schemas"],
                        "n_buckets": stage.meta["n_buckets"],
                        "clustering": stage.meta.get("clustering"),
                        "compaction_watermark_lsn": stage.meta.get(
                            "compaction_watermark_lsn", -1
                        ),
                        "constraints": stage.meta.get("constraints", {}),
                        "bloom_key_filter": stage.meta.get(
                            "bloom_key_filter", False
                        ),
                        # deregister the stage in the SAME atomic
                        # commit: it stops existing as a clone the
                        # moment it is published
                        "clones": [
                            c
                            for c in h.meta.get("clones", [])
                            if c != stage_abs
                        ],
                    },
                )
                return h

            head = retry_on_fork_rewind(commit_once)
        except BaseException:
            # a lost race (divergence mid-flight, or a collision
            # partway through the moves) must leave the STAGE intact,
            # not half-gutted: move everything back before surfacing
            # the error. Renames on one filesystem don't fail for data
            # reasons, so this undo is as reliable as the moves.
            for d in moved:
                os.rename(os.path.join(src_root, d), os.path.join(stage.root, d))
            raise
        finish_invalidate(head.version)
        return {
            "published": True,
            "version": head.version,  # commit() advanced the handle in place
            "staged_commits": stage.version,
            "staged_batches": sorted(
                int(b)
                for b in stage.meta["committed_batches"]
                if b not in self.meta.get("committed_batches", {})
            ),
        }

    def expire_snapshots(
        self, *, keep_last: int = 1, force: bool = False, grace_seconds: float = 3 * 86400
    ) -> dict:
        """Storage reclamation (the Iceberg ``expire_snapshots`` /
        Delta VACUUM analog): drop metadata versions older than the
        newest ``keep_last`` and delete every data directory no
        retained version references.

        Copy-on-write means superseded bucket dirs accumulate forever
        otherwise — at production scale that is unbounded storage for
        bounded state. After expiry, ``load_version`` only works for
        retained versions; the change feed's ``since_version`` must
        stay within the retained window (same retention contract as
        Delta CDF). Driver-side metadata + filesystem work only; no
        Spark job. Crash-safe: expired metadata documents are deleted
        FIRST, so an interrupted expiry leaves only orphan data dirs
        (reclaimable by a re-run or ``remove_orphans``) — never a
        loadable version pointing at deleted data. ``grace_seconds``
        (default: the same 3-day window ``remove_orphans`` uses) skips
        unreferenced dirs younger than the window — they may be an
        in-flight writer's pre-commit output; tests pass 0.

        Clone guard: a dir a REGISTERED, still-existing shallow clone
        points at (see ``clone_to``) is never silently deleted — this
        raises listing the clone(s) and dirs instead; ``force=True``
        proceeds anyway (accepting dangling clones). Compact the clone
        to self-contain it and re-run."""
        md_dir = os.path.join(self.root, "metadata")
        # HEAD from disk, not this handle — expiring from a stale
        # handle must never delete versions the real HEAD still needs
        with open(os.path.join(md_dir, "CURRENT")) as f:
            head = int(f.read().strip().removeprefix("version-").removesuffix(".json"))
        cutoff = head - max(keep_last, 1) + 1
        retained_versions = []
        expired_versions = []
        for name in os.listdir(md_dir):
            if not name.startswith("version-") or not name.endswith(".json"):
                continue
            v = int(name.removeprefix("version-").removesuffix(".json"))
            (retained_versions if v >= cutoff else expired_versions).append(v)

        referenced: set[str] = set()
        for v in retained_versions:
            with open(os.path.join(md_dir, f"version-{v}.json")) as f:
                meta = json.load(f)
            for entry in meta["buckets"].values():
                for s in entry_sources(entry):  # base + MOR delta dirs
                    referenced.add(os.path.normpath(s["dir"]))

        # a dir is deletable only if NO retained version references it
        # (referenced paths are bucket dirs like data/vN/_bucket=K; a
        # version dir data/vN survives while any of its buckets is
        # referenced). Two phases: PLAN every removal first so the
        # clone guard can veto the whole expiry before a byte is lost.
        data_dir = os.path.join(self.root, "data")
        to_remove: list[str] = []
        for vdir in sorted(os.listdir(data_dir)):
            vpath = os.path.join(data_dir, vdir)
            if not os.path.isdir(vpath):
                continue
            for bdir in sorted(os.listdir(vpath)):
                rel = os.path.normpath(os.path.join("data", vdir, bdir))
                if rel not in referenced:
                    to_remove.append(rel)

        # the clone registry comes from the on-disk HEAD metadata for
        # the same reason the head version does: a clone registered
        # after this handle loaded must still be protected
        with open(os.path.join(md_dir, f"version-{head}.json")) as f:
            head_meta = json.load(f)
        if not force and to_remove:
            src_abs = os.path.abspath(self.root)
            endangered: dict[str, list[str]] = {}
            for croot in head_meta.get("clones", []):
                if not LakeTable.exists(croot):
                    continue  # clone deleted out from under us: nothing to protect
                refs: set[str] = set()
                for entry in LakeTable.load(croot).meta["buckets"].values():
                    for s in entry_sources(entry):
                        d = os.path.normpath(s["dir"])
                        if os.path.isabs(d):
                            relp = os.path.relpath(d, src_abs)
                            if not relp.startswith(".."):
                                refs.add(os.path.normpath(relp))
                hit = sorted(refs.intersection(to_remove))
                if hit:
                    endangered[croot] = hit
            if endangered:
                raise ValueError(
                    "expire_snapshots would delete data dirs that registered "
                    f"shallow clone(s) still reference: {endangered}. Compact "
                    "the clone(s) to self-contain them (clone.compact(...)) "
                    "and re-run, or pass force=True to accept dangling them."
                )

        removed_dirs = []
        import shutil

        # expired metadata documents go FIRST: after this point no
        # load_version/load_as_of can resolve a snapshot whose data is
        # about to disappear, so a crash mid-deletion leaves only
        # harmless orphan dirs (a re-run or remove_orphans reclaims
        # them) — never a readable version pointing at deleted data
        for v in sorted(expired_versions):
            os.remove(os.path.join(md_dir, f"version-{v}.json"))
        # an unreferenced dir younger than the grace window may be an
        # in-flight writer's pre-commit output (writes always precede
        # the pointer swap) — the same mtime guard remove_orphans
        # applies; deleting it would corrupt the writer's commit
        now = time.time()
        for rel in to_remove:
            target = os.path.join(self.root, rel)
            try:
                if now - os.path.getmtime(target) < float(grace_seconds):
                    continue
            except OSError:
                continue
            if os.path.isdir(target):
                shutil.rmtree(target, ignore_errors=True)
            elif os.path.exists(target):  # write markers (_SUCCESS etc.)
                os.remove(target)
            removed_dirs.append(rel)
        for vdir in sorted(os.listdir(data_dir)):
            vpath = os.path.join(data_dir, vdir)
            if os.path.isdir(vpath) and not os.listdir(vpath):
                os.rmdir(vpath)
        return {
            "retained_versions": sorted(retained_versions),
            "expired_versions": sorted(expired_versions),
            "removed_dirs": removed_dirs,
        }

    def history(self) -> list[dict]:
        """Commit history from retained metadata versions (the Delta
        ``DESCRIBE HISTORY`` analog): one record per snapshot, oldest
        first, each with the batches that commit added, how many
        bucket pointers moved, and the schema/clustering state. Pure
        driver-side metadata reads — no Spark job, cost O(versions),
        independent of table size."""
        md_dir = os.path.join(self.root, "metadata")
        versions = sorted(
            int(n.removeprefix("version-").removesuffix(".json"))
            for n in os.listdir(md_dir)
            if n.startswith("version-") and n.endswith(".json")
        )
        out: list[dict] = []
        prev_meta: dict | None = None
        for v in versions:
            with open(os.path.join(md_dir, f"version-{v}.json")) as f:
                meta = json.load(f)
            # after expire_snapshots the oldest retained version has no
            # predecessor on disk: its per-commit diff is UNKNOWABLE,
            # not "everything ever" — report it as a baseline instead
            # of fabricating a commit that added all history at once.
            # Version 0 is the true creation, so its diff-vs-empty is
            # real.
            baseline = prev_meta is None and v > 0
            record = {
                "version": v,
                "schema_version": int(meta.get("schema_version", 1)),
                "committed_at_unix": meta.get("committed_at_unix"),
                "baseline": baseline,
                "max_committed_lsn": max(
                    (int(r["lsn_hi"]) for r in meta["committed_batches"].values()),
                    default=-1,
                ),
                "clustering": meta.get("clustering"),
                "compaction_watermark_lsn": int(
                    meta.get("compaction_watermark_lsn", -1)
                ),
            }
            if baseline:
                record["batches_added"] = None
                record["buckets_changed"] = None
            else:
                prev_batches = set((prev_meta or {}).get("committed_batches", {}))
                prev_buckets = {
                    b: entry_signature(e)
                    for b, e in (prev_meta or {}).get("buckets", {}).items()
                }
                record["batches_added"] = sorted(
                    int(b) for b in meta["committed_batches"] if b not in prev_batches
                )
                record["buckets_changed"] = sum(
                    1
                    for b, e in meta["buckets"].items()
                    if prev_buckets.get(b) != entry_signature(e)
                ) + sum(1 for b in prev_buckets if b not in meta["buckets"])
            out.append(record)
            prev_meta = meta
        return out

    def remove_orphans(self, *, older_than_seconds: int = 3 * 86400) -> dict:
        """Reclaim data directories no metadata version references —
        the residue of crashed or commit-race-losing write attempts
        (``new_data_dir`` is unique per attempt, so a loser's files
        can never clobber the winner's, but they do stay on disk).

        The Iceberg ``remove_orphan_files`` analog, with the same
        safety contract: an unreferenced dir is only deleted once its
        newest mtime is older than ``older_than_seconds`` (Iceberg's
        default is 3 days), because a RECENT unreferenced dir may be
        an in-flight writer's not-yet-committed attempt. This makes
        the sweep safe to run alongside live writers — unlike
        ``expire_snapshots``, which reclaims superseded history and
        must be run in a quiet window. Keeps every metadata version;
        driver-side filesystem work only, no Spark job."""
        import shutil
        import time

        md_dir = os.path.join(self.root, "metadata")
        referenced: set[str] = set()
        for name in os.listdir(md_dir):
            if not name.startswith("version-") or not name.endswith(".json"):
                continue
            with open(os.path.join(md_dir, name)) as f:
                meta = json.load(f)
            for entry in meta["buckets"].values():
                for s in entry_sources(entry):  # base + MOR delta dirs
                    referenced.add(os.path.normpath(s["dir"]))

        referenced_vdirs = {os.path.dirname(rel) for rel in referenced}
        cutoff = time.time() - older_than_seconds
        data_dir = os.path.join(self.root, "data")
        removed: list[str] = []
        kept_recent: list[str] = []
        for vdir in sorted(os.listdir(data_dir)) if os.path.isdir(data_dir) else []:
            vpath = os.path.join(data_dir, vdir)
            if not os.path.isdir(vpath):
                continue
            vdir_live = os.path.normpath(os.path.join("data", vdir)) in referenced_vdirs
            for bdir in sorted(os.listdir(vpath)):
                rel = os.path.normpath(os.path.join("data", vdir, bdir))
                if rel in referenced:
                    continue
                target_is_dir = os.path.isdir(os.path.join(vpath, bdir))
                if vdir_live and not target_is_dir:
                    # loose write markers (_SUCCESS etc.) of a LIVE
                    # commit's version dir — not orphans
                    continue
                target = os.path.join(vpath, bdir)
                # newest mtime anywhere under the dir: a writer still
                # streaming files into it keeps bumping this
                if os.path.isdir(target):
                    newest = max(
                        (
                            os.path.getmtime(os.path.join(dp, f))
                            for dp, _, fs in os.walk(target)
                            for f in fs
                        ),
                        default=os.path.getmtime(target),
                    )
                else:
                    newest = os.path.getmtime(target)
                if newest > cutoff:
                    kept_recent.append(rel)
                    continue
                if os.path.isdir(target):
                    shutil.rmtree(target, ignore_errors=True)
                else:  # stray write markers (_SUCCESS etc.)
                    os.remove(target)
                removed.append(rel)
            if os.path.isdir(vpath) and not os.listdir(vpath):
                os.rmdir(vpath)
        return {"removed_dirs": removed, "kept_recent": kept_recent}

    # ---- commit ----------------------------------------------------------

    def new_data_dir(self) -> str:
        """Relative dir the next commit's rewritten buckets go to.

        Version-prefixed for operator legibility but UNIQUE per
        attempt (uuid suffix): two writers racing from the same base
        version must never target the same directory, or the loser's
        pre-commit file writes would clobber the winner's committed
        data. Crashed/lost attempts leave orphan dirs that are never
        referenced by any metadata version; ``remove_orphans`` (age-
        guarded, safe alongside live writers) or ``expire_snapshots``
        (quiet-window only) reclaims them."""
        import uuid

        return os.path.join("data", f"v{self.version + 1}-{uuid.uuid4().hex[:8]}")

    def bucket_rows(self, buckets: list[int] | None = None) -> int | None:
        """Total stored rows (incl. tombstones) in the given buckets,
        from commit-time footer counts — lets the merge's 'auto' path
        bound the broadcast by |base keys| without a counting job.

        Returns ``None`` if ANY requested source lacks a stored count:
        an unknown size must be treated as unbounded by callers (force
        the shuffle path), never understated as 0. Delta rows are
        counted on top of base rows — an overcount when a key appears
        in both, which only ever makes the broadcast bound more
        conservative."""
        total = 0
        for b_str, entry in self.meta["buckets"].items():
            if buckets is None or int(b_str) in buckets:
                for s in entry_sources(entry):
                    if s["rows"] is None:
                        return None
                    total += int(s["rows"])
        return total

    def commit(
        self,
        new_bucket_dirs: dict[int, str],
        removed_buckets: set[int],
        batch_record: tuple[int, dict] | None,
        schema_version: int | None = None,
        bucket_row_counts: dict[int, int] | None = None,
        meta_updates: dict | None = None,
        bucket_max_lsns: dict[int, int | None] | None = None,
        delta_appends: dict[int, dict] | None = None,
    ) -> None:
        """Atomically publish: rewritten bucket pointers + manifest entry
        (+ optional schema evolution) in one metadata swap.

        ``delta_appends``: merge-on-read commits — per bucket, a source
        record ``{dir, schema_version, rows?, max_lsn?}`` APPENDED to
        the entry's delta list instead of replacing its base pointer.
        A delta landing on a bucket with no entry yet simply becomes
        the base (appending to nothing IS the base), so ``e["dir"]``
        stays total for every reader.

        Optimistic concurrency: the head re-check and the pointer swap
        happen under an exclusive ``flock`` on ``metadata/COMMIT_LOCK``,
        so two writers racing from the same base version serialize and
        the loser gets a ``RuntimeError`` (reload-and-retry is the
        caller's move) instead of silently overwriting the winner's
        commit — the single-filesystem analog of Iceberg's conditional
        metadata swap (on an object store this would be a
        compare-and-swap / conditional PUT)."""
        import fcntl

        md_dir = os.path.join(self.root, "metadata")
        with open(os.path.join(md_dir, "COMMIT_LOCK"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            try:
                self._commit_locked(
                    new_bucket_dirs,
                    removed_buckets,
                    batch_record,
                    schema_version,
                    bucket_row_counts,
                    meta_updates,
                    bucket_max_lsns,
                    delta_appends,
                )
            finally:
                fcntl.flock(lock, fcntl.LOCK_UN)

    def _commit_locked(
        self,
        new_bucket_dirs: dict[int, str],
        removed_buckets: set[int],
        batch_record: tuple[int, dict] | None,
        schema_version: int | None,
        bucket_row_counts: dict[int, int] | None,
        meta_updates: dict | None,
        bucket_max_lsns: dict[int, int | None] | None = None,
        delta_appends: dict[int, dict] | None = None,
    ) -> None:
        current = os.path.join(self.root, "metadata", "CURRENT")
        if os.path.exists(current):
            with open(current) as f:
                head = int(f.read().strip().removeprefix("version-").removesuffix(".json"))
            if head > self.version:
                raise RuntimeError(
                    f"table HEAD is version {head} but this handle is at "
                    f"{self.version} (a time-travel snapshot, a stale loader, "
                    "or a concurrent writer won the race): committing would "
                    "fork/rewind history — reload the table and retry"
                )
        meta = json.loads(json.dumps(self.meta))  # deep copy
        meta["version"] = self.version + 1
        if schema_version is not None:
            meta["schema_version"] = schema_version
        sv = meta["schema_version"]
        for b in removed_buckets:
            meta["buckets"].pop(str(b), None)
        for b, rel_dir in new_bucket_dirs.items():
            entry = {"dir": rel_dir, "schema_version": sv}
            # store a count only when the caller measured one; an
            # absent key means "unknown" (bucket_rows -> None), which
            # is safer than a phantom 0 understating broadcast bounds
            if bucket_row_counts is not None and b in bucket_row_counts:
                entry["rows"] = int(bucket_row_counts[b])
            # highest _lsn stored in the bucket's files (parquet footer
            # stat): lets feed planning skip a rewritten bucket with no
            # rows above the feed watermark. Absent = unknown = scan.
            if bucket_max_lsns is not None and bucket_max_lsns.get(b) is not None:
                entry["max_lsn"] = int(bucket_max_lsns[b])
            meta["buckets"][str(b)] = entry
        for b, d in (delta_appends or {}).items():
            src = {"dir": d["dir"], "schema_version": int(d["schema_version"])}
            if d.get("rows") is not None:
                src["rows"] = int(d["rows"])
            if d.get("max_lsn") is not None:
                src["max_lsn"] = int(d["max_lsn"])
            cur = meta["buckets"].get(str(b))
            if cur is None:  # first write to this bucket: the delta IS the base
                meta["buckets"][str(b)] = src
            else:
                cur.setdefault("deltas", []).append(src)
        if batch_record is not None:
            batch_id, rec = batch_record
            meta["committed_batches"][str(batch_id)] = rec
        if meta_updates:
            meta.update(meta_updates)
        meta["committed_at_unix"] = time.time()
        self._write_metadata(meta)
        self.meta = meta

    def _write_metadata(self, meta: dict) -> None:
        md_dir = os.path.join(self.root, "metadata")
        name = f"version-{meta['version']}.json"
        # the version document itself is published atomically (tmp +
        # replace), not just CURRENT: concurrent metadata READERS that
        # list version files (history, remove_orphans, expire) must
        # never observe a half-written JSON — a commit is serialized
        # against other commits by the flock, not against readers
        vtmp = os.path.join(md_dir, f".{name}.tmp")
        with open(vtmp, "w") as f:
            json.dump(meta, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(vtmp, os.path.join(md_dir, name))
        _fsync_dir(md_dir)  # durable before CURRENT can name it
        tmp = os.path.join(md_dir, "CURRENT.tmp")
        with open(tmp, "w") as f:
            f.write(name)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(md_dir, "CURRENT"))
        _fsync_dir(md_dir)
