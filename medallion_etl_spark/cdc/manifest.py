"""The commit manifest — the exactly-once ledger — and its batch-id layout.

The manifest lives INSIDE each LakeTable metadata document
(``committed_batches``: batch id -> LSN range and rows applied) so that
"data visible" and "batch recorded" change in one atomic pointer swap.
This module is the only code that knows that record format and how
batch ids are laid out: callers hand it a version document
(``LakeTable.meta``) or their own identity inputs (a checkpoint path and
epoch, a quarantine dir and content signature, an LSN range). It imports
no pyspark, so it is testable without a JVM.

Exactly-once invariant: a batch is applied iff its batch_id is in the
manifest; apply_batch() no-ops on committed ids; a kill between data
write and commit leaves the id absent, so resume re-applies — and the
apply is deterministic (same chunk -> same logical result), so the
final state is independent of how many times replay was killed and
resumed. This is the engineered version of the reference's idempotent
delete+insert-by-range convergence (reference sales_loader.py:64-73,
orchestrator.py:480-509) without its BUG-001 visibility window.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Mapping
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from .table import LakeTable

_FIELD = "committed_batches"  # str(batch_id) -> {lsn_lo, lsn_hi, rows_applied}

# THE batch-id layout: ordered, disjoint [lo, hi) ranges (hi None =
# unbounded), one per writer kind, so no two writers of one table can
# mint the same id. Replay ids are chunk indexes (on a derived table:
# the corpus version a refresh caught up to); CONVERT's one bulk batch
# sits above every chunk index a later replay could plan.
NAMESPACES: tuple[tuple[str, int, int | None], ...] = (
    ("replay", 0, 1 << 37),
    ("convert", 1 << 37, 1 << 38),
    ("dml", 1 << 38, 3 << 37),  # a counter
    ("redrive", 3 << 37, 1 << 39),  # hash of (quarantine dir, content)
    ("refresh", 1 << 39, 1 << 40),  # hash of the LSN range
    ("stream", 1 << 40, None),  # one stride of epochs per checkpoint
)
_BOUNDS = {name: (lo, hi) for name, lo, hi in NAMESPACES}

CONVERT_BATCH_ID = _BOUNDS["convert"][0]
DML_BASE = _BOUNDS["dml"][0]
REDRIVE_BASE, REDRIVE_END = _BOUNDS["redrive"]
STREAM_EPOCH_BASE = _BOUNDS["stream"][0]
# Per-checkpoint strides (the Delta txnAppId/txnVersion pattern): two
# queries draining one table both restart epochs at 0, and must not
# skip each other's epochs as committed. 2^32 epochs outlive any query.
EPOCH_STRIDE = 1 << 32


def namespace_of(batch_id: int) -> str | None:
    """The namespace holding ``batch_id`` (None for a negative id)."""
    for name, lo, hi in NAMESPACES:
        if lo <= batch_id and (hi is None or batch_id < hi):
            return name
    return None


# ---- mints ----------------------------------------------------------------


def next_dml_id(meta: dict) -> int:
    """The DML counter: one past the highest DML id committed."""
    used = [b for b in batches(meta) if namespace_of(b) == "dml"]
    nxt = max(used) + 1 if used else DML_BASE
    if namespace_of(nxt) != "dml":
        raise RuntimeError(f"DML batch-id namespace exhausted at {nxt}")
    return nxt


def redrive_batch_id(path: str, content_sig: int) -> int:
    """Stable id of one redrive of the quarantine dir ``path``: its name
    XOR the content signature, folded into the redrive range. The same
    rows redriven again get the same id (a manifest no-op); new rows
    re-quarantined into the same dir get a new one."""
    dir_tag = int.from_bytes(
        hashlib.sha256(os.path.basename(os.path.normpath(path)).encode()).digest()[:8],
        "big",
    )
    return REDRIVE_BASE + (dir_tag ^ content_sig) % (REDRIVE_END - REDRIVE_BASE)


def refresh_batch_id(lsn_lo: int, lsn_hi: int) -> int:
    """Stable id of an LSN-range partial refresh: re-running the same
    range dedupes, distinct ranges do not collide. A 38-bit digest, so
    ids fill the lower half of the refresh range."""
    digest = hashlib.sha256(f"{lsn_lo}:{lsn_hi}".encode()).digest()
    return _BOUNDS["refresh"][0] + (int.from_bytes(digest[:5], "big") >> 2)


def stream_namespace(checkpoint_dir: str) -> int:
    """Stable 31-bit namespace for a stream identity (its checkpoint
    path). Same checkpoint -> same namespace -> redelivered epochs
    dedupe; different checkpoint -> disjoint batch-id space."""
    digest = hashlib.sha256(os.path.abspath(checkpoint_dir).encode()).digest()
    return int.from_bytes(digest[:4], "big") >> 1


def stream_batch_id(checkpoint_dir: str, epoch_id: int) -> int:
    return STREAM_EPOCH_BASE + stream_namespace(checkpoint_dir) * EPOCH_STRIDE + int(epoch_id)


# ---- the ledger -------------------------------------------------------------


def entry(lsn_lo: int, lsn_hi: int, rows_applied: int) -> dict:
    """One manifest record, as ``LakeTable.commit``'s ``batch_record`` carries it."""
    return {"lsn_lo": int(lsn_lo), "lsn_hi": int(lsn_hi), "rows_applied": int(rows_applied)}


def record(meta: dict, batch_id: int, rec: dict) -> None:
    meta[_FIELD][str(batch_id)] = rec


def batches(meta: dict) -> dict[int, dict]:
    return {int(k): v for k, v in meta[_FIELD].items()}


def is_committed(meta: dict, batch_id: int) -> bool:
    return str(batch_id) in meta[_FIELD]


def watermark(meta: dict) -> int:
    """Highest LSN any committed batch has applied (-1 for none) — the
    snapshot's change-feed watermark."""
    return max((int(r["lsn_hi"]) for r in meta[_FIELD].values()), default=-1)


def added(old_meta: dict, new_meta: dict) -> list[int]:
    """Ids ``new_meta`` committed that ``old_meta`` had not, ascending."""
    old = old_meta[_FIELD]
    return sorted(int(b) for b in new_meta[_FIELD] if b not in old)


def late_batches(old_meta: dict, new_meta: dict) -> list[int]:
    """Batches added since ``old_meta`` that applied rows from an LSN
    range starting at or below its watermark (an out-of-order chunk or
    an LSN-range backfill). Empty commits add no rows and are left out."""
    wm, new = watermark(old_meta), new_meta[_FIELD]
    return [
        b for b in added(old_meta, new_meta)
        if int(new[str(b)].get("rows_applied", 0)) > 0 and int(new[str(b)]["lsn_lo"]) <= wm
    ]


def replay_cursor(meta: dict) -> int | None:
    """Highest committed id in the replay namespace, or None. A derived
    table (signatures, totals) commits each refresh under the corpus
    version it caught up to, so this is that version. Ids a DML, a
    redrive or a streaming drain minted on the derived table are not
    versions and are not counted."""
    return max((b for b in batches(meta) if namespace_of(b) == "replay"), default=None)


def redelivered(committed: Mapping[int, dict], batch_id: int, lsn_lo: int, lsn_hi: int) -> bool:
    """THE redelivery check, over ``LakeTable.committed_batches()``:
    False when ``batch_id`` is not committed, True when it is committed
    for exactly this LSN range (a skip-safe redelivery). A committed id
    presented with another range raises: skipping it would silently
    drop events. (Fix for the silent variant of reference BUG-001's
    visibility class: resume must never lose data, loudly or quietly.)"""
    rec = committed.get(batch_id)
    if rec is None:
        return False
    lo, hi = int(rec["lsn_lo"]), int(rec["lsn_hi"])
    if (lo, hi) != (int(lsn_lo), int(lsn_hi)):
        raise RuntimeError(
            f"batch_id {batch_id} already committed for LSN range [{lo}, {hi}] "
            f"but presented again with [{lsn_lo}, {lsn_hi}]: a batch-id "
            "collision, not an idempotent redelivery. Either the stream window "
            "moved (chunk_size changed, or the stream GREW past a committed "
            "partial final chunk) or two streams share one namespace (e.g. a "
            "recreated streaming checkpoint restarting epochs at 0). Skipping "
            "would silently drop events. Recovery: keep the original "
            "chunk_size and checkpoint, or replay only the NEW events as an "
            "LSN-range partial refresh (scripts/orchestrator.py partial-refresh "
            f"— own batch-id namespace, idempotent, start it at LSN {hi + 1}), "
            "or use the streaming replayer for a continuously moving tail."
        )
    return True


# ---- replay planning --------------------------------------------------------


def pending_chunks(table: LakeTable, chunks: list[tuple[int, int, int]]) -> list[tuple[int, int, int]]:
    """The planned (batch_id, lsn_lo, lsn_hi) chunks not yet committed.
    A committed id re-planned with another LSN range (e.g. only today's
    tail fed, so chunk 0 now names new data) raises in ``redelivered``."""
    committed = table.committed_batches()
    return [c for c in chunks if not redelivered(committed, *c)]


def plan_chunks(lsn_min: int, lsn_max: int, chunk_size: int) -> list[tuple[int, int, int]]:
    """Deterministic chunk plan: batch_id i covers lsn in
    [lsn_min + i*chunk_size, next) — stable across resumes because it
    depends only on the stream bounds and chunk size."""
    if chunk_size <= 0:
        raise ValueError(f"chunk_size must be positive, got {chunk_size}")
    chunks = []
    i = 0
    lo = lsn_min
    while lo <= lsn_max:
        hi = min(lo + chunk_size - 1, lsn_max)
        chunks.append((i, lo, hi))
        lo = hi + 1
        i += 1
    return chunks
