"""The table's metadata log: the one module that touches ``metadata/``.

Layout under ``<root>/metadata``:

- ``version-N.json``: the full table document of snapshot N (bucket
  pointers, batch manifest, schemas, ...), plus the ``commit`` record
  of version N alone. Written once, never edited.
- ``CURRENT``: names the HEAD document. Replacing it is THE commit: data
  visibility and the exactly-once manifest change in one ``os.replace``
  (closes the reference's BUG-001 delete-before-insert window).
- ``COMMIT_LOCK``: the flock that serializes commits on one filesystem
  (the analog of a conditional metadata swap on an object store).
- ``PUBLISHED``: left by ``invalidate`` in place of ``CURRENT`` on a
  write-audit-publish stage whose data moved to its source.

A document numbered above HEAD is a writer's doc renamed into place
whose ``CURRENT`` swap has not happened (a commit in flight, or a
crashed one): it is NOT a snapshot, so ``versions`` and ``read`` never
serve it. The maintenance sweeps still see it through ``docs``, because
a committer holds the flock between the doc rename and the swap and the
sweeps do not take the flock.

Every write is tmp file -> fsync -> ``os.replace`` -> fsync of the
directory: a rename lives in the directory, so without the directory
fsync a power loss can lose a rename that already returned.
"""

from __future__ import annotations

import json
import os
import re
import time

# v2: bucket function changed xxhash64 -> murmur3 (F.hash); a v1
# table's bucket layout is unreadable by v2 code and vice versa, so
# read() refuses on mismatch instead of silently mis-bucketing.
FORMAT_VERSION = 2

_DOC = re.compile(r"version-(\d+)\.json")


def _dir(root: str) -> str:
    return os.path.join(root, "metadata")


def _doc(root: str, version: int) -> str:
    return os.path.join(_dir(root), f"version-{version}.json")


def _fsync_dir(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _replace(md_dir: str, name: str, write) -> None:
    """Publish ``name`` atomically: ``write(f)`` fills a tmp file, which
    is fsynced, renamed over ``name`` and made durable by a dir fsync."""
    tmp = os.path.join(md_dir, f".{name}.tmp")
    with open(tmp, "w") as f:
        write(f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(md_dir, name))
    _fsync_dir(md_dir)


def _listed(root: str) -> list[int]:
    """Version numbers of every document on disk, committed or not
    (tmp files of an interrupted write never match)."""
    return sorted(
        int(m.group(1)) for m in map(_DOC.fullmatch, os.listdir(_dir(root))) if m
    )


def head(root: str) -> int | None:
    """HEAD version named by ``CURRENT``; None when there is none (not
    a table, or a published stage)."""
    try:
        with open(os.path.join(_dir(root), "CURRENT")) as f:
            name = f.read().strip()
    except FileNotFoundError:
        return None
    return int(name.removeprefix("version-").removesuffix(".json"))


def versions(root: str) -> list[int]:
    """Retained snapshots, oldest first: every document at or below HEAD."""
    h = head(root)
    return [] if h is None else [v for v in _listed(root) if v <= h]


def read(root: str, version: int | None = None) -> dict:
    """The document of snapshot ``version`` (HEAD when None). A version
    above HEAD, expired, or never written is no snapshot."""
    h = head(root)
    if version is None:
        if h is None:
            raise FileNotFoundError(f"no table at {root} (metadata has no CURRENT)")
        version = h
    path = _doc(root, version)
    if h is None or version > h or not os.path.exists(path):
        raise ValueError(f"no snapshot version {version} at {root}")
    with open(path) as f:
        meta = json.load(f)
    if meta.get("format_version") != FORMAT_VERSION:
        raise ValueError(
            f"snapshot {version} at {root} has format_version "
            f"{meta.get('format_version')}, this engine reads {FORMAT_VERSION} "
            "(bucket layouts differ; rewrite the table with the matching "
            "engine version)"
        )
    return meta


def committed_at(root: str, version: int) -> float:
    """Unix commit time of a snapshot: its ``committed_at_unix``, or the
    document's mtime for a version-0 creation doc (written once, never
    touched) that predates the field."""
    path = _doc(root, version)
    with open(path) as f:
        ts = json.load(f).get("committed_at_unix")
    return os.path.getmtime(path) if ts is None else ts


def write(root: str, meta: dict) -> None:
    """Start a log (table creation, a clone's first version): write the
    document and point ``CURRENT`` at it. Unlocked: the root is new."""
    os.makedirs(_dir(root), exist_ok=True)
    _publish(root, meta)


def _publish(root: str, meta: dict) -> None:
    md_dir = _dir(root)
    name = f"version-{meta['version']}.json"
    # the document is published atomically too, not just CURRENT:
    # readers that list documents (history, the sweeps) must never see
    # a half-written JSON, and its rename is durable before CURRENT
    # can name it
    _replace(md_dir, name, lambda f: json.dump(meta, f, indent=1))
    _replace(md_dir, "CURRENT", lambda f: f.write(name))


def commit(root: str, base_version: int, meta: dict) -> None:
    """Publish ``meta`` (numbered ``base_version + 1``) as the new HEAD.

    Under an exclusive flock on ``COMMIT_LOCK`` the on-disk HEAD is
    re-checked against ``base_version``: a writer whose base is behind
    HEAD (a time-travel snapshot, a stale loader, or the loser of a race)
    gets a ``RuntimeError`` naming the fork/rewind and writes nothing.
    The commit time is stamped under the lock."""
    import fcntl

    with open(os.path.join(_dir(root), "COMMIT_LOCK"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            h = head(root)
            if h is not None and h > base_version:
                raise RuntimeError(
                    f"table HEAD is version {h} but this handle is at "
                    f"{base_version} (a time-travel snapshot, a stale loader, "
                    "or a concurrent writer won the race): committing would "
                    "fork/rewind history — reload the table and retry"
                )
            meta["committed_at_unix"] = time.time()
            _publish(root, meta)
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)


def invalidate(root: str, info: dict) -> None:
    """Retire a published stage. ``CURRENT`` goes FIRST: from that
    instant the stage fails to load (loudly) instead of serving entries
    whose dirs moved away; the ``PUBLISHED`` marker (``info``) is
    diagnostics, written second so a crash between the two only loses
    the breadcrumb."""
    md_dir = _dir(root)
    cur = os.path.join(md_dir, "CURRENT")
    if os.path.exists(cur):
        os.remove(cur)
    _replace(md_dir, "PUBLISHED", lambda f: json.dump(info, f))


def docs(root: str, min_version: int = 0):
    """Yield ``(version, document)`` for every document on disk at or
    above ``min_version``, INCLUDING ones above HEAD: the maintenance
    sweeps count an in-flight commit's dirs as referenced."""
    for v in _listed(root):
        if v >= min_version:
            with open(_doc(root, v)) as f:
                yield v, json.load(f)


def expire(root: str, below: int) -> list[int]:
    """Delete the documents of every version below ``below`` (a version
    at or below HEAD); returns the versions removed."""
    gone = [v for v in _listed(root) if v < below]
    for v in gone:
        os.remove(_doc(root, v))
    return gone
