"""The metadata log (cdc/metalog.py): snapshot listing, the
format_version gate, the fork/rewind commit guard, and what a writer
killed between its version-doc rename and its ``CURRENT`` swap leaves
behind. Spark-free: every table here is metadata plus empty dirs."""

from __future__ import annotations

import json
import os
import time

import pytest

from medallion_etl_spark.cdc.table import LakeTable

pytestmark = pytest.mark.smoke

BATCH = {"lsn_lo": 0, "lsn_hi": 9, "rows_applied": 1}


def _doc(root: str, v: int) -> str:
    return os.path.join(root, "metadata", f"version-{v}.json")


def _table(tmp_path, commits: int = 1) -> LakeTable:
    t = LakeTable.create(str(tmp_path / "t"), n_buckets=4)
    for i in range(commits):
        t.commit({}, set(), (i, {**BATCH, "lsn_lo": 10 * i, "lsn_hi": 10 * i + 9}))
    return t


def _old_data_dir(root: str, rel: str) -> None:
    """A bucket dir with one file, idle for a day."""
    path = os.path.join(root, rel)
    os.makedirs(path)
    with open(os.path.join(path, "part-0.parquet"), "w") as f:
        f.write("x")
    stale = time.time() - 86400
    for p in (os.path.join(path, "part-0.parquet"), path):
        os.utime(p, (stale, stale))


def _crashed_writer_doc(t: LakeTable, rel_dir: str) -> int:
    """What a committer killed after renaming version-(N+1).json into
    place but before swapping CURRENT leaves: a complete document above
    HEAD referencing its freshly written bucket dir."""
    meta = json.loads(json.dumps(t.meta))
    meta["version"] = t.version + 1
    meta["buckets"]["0"] = {"dir": rel_dir, "schema_version": t.schema_version}
    meta["committed_batches"]["99"] = {"lsn_lo": 100, "lsn_hi": 109, "rows_applied": 1}
    meta["committed_at_unix"] = time.time()
    with open(_doc(t.root, meta["version"]), "w") as f:
        json.dump(meta, f, indent=1)
    return meta["version"]


def test_uncommitted_doc_above_head_is_not_a_snapshot(tmp_path):
    t = _table(tmp_path, commits=1)
    ghost = _crashed_writer_doc(t, "data/v2-dead/_bucket=0")
    assert LakeTable.load(t.root).version == 1 == ghost - 1

    assert [h["version"] for h in t.history()] == [0, 1]
    with pytest.raises(ValueError, match="no snapshot"):
        LakeTable.load_version(t.root, ghost)
    with pytest.raises(ValueError, match="no snapshot"):
        t.read_changes(None, 0, until_version=ghost)  # refused before any Spark work
    assert LakeTable.load_as_of(t.root, time.time() + 10).version == 1


def test_sweeps_keep_an_uncommitted_docs_dirs_and_doc(tmp_path):
    """The sweeps do not take the commit lock, so a document above HEAD
    may be a live commit between its doc rename and its pointer swap:
    its dirs stay referenced and the document is never expired."""
    t = _table(tmp_path, commits=2)
    _old_data_dir(t.root, "data/v3-live/_bucket=0")
    _old_data_dir(t.root, "data/v9-orphan/_bucket=1")
    ghost = _crashed_writer_doc(t, "data/v3-live/_bucket=0")

    res = t.remove_orphans(older_than_seconds=0)
    assert res["removed_dirs"] == [os.path.join("data", "v9-orphan", "_bucket=1")]
    assert os.path.isdir(os.path.join(t.root, "data", "v3-live", "_bucket=0"))

    res = t.expire_snapshots(keep_last=1, grace_seconds=0)
    assert res["expired_versions"] == [0, 1]
    assert res["retained_versions"] == [2]
    assert os.path.exists(_doc(t.root, ghost))
    assert os.path.isdir(os.path.join(t.root, "data", "v3-live", "_bucket=0"))


def test_read_refuses_another_format_version(tmp_path):
    t = _table(tmp_path, commits=1)
    for v in (0, 1):
        with open(_doc(t.root, v)) as f:
            meta = json.load(f)
        meta["format_version"] = 1
        with open(_doc(t.root, v), "w") as f:
            json.dump(meta, f)
    with pytest.raises(ValueError, match="format_version 1"):
        LakeTable.load(t.root)
    with pytest.raises(ValueError, match="format_version 1"):
        LakeTable.load_version(t.root, 0)


def test_leftover_tmp_files_are_not_versions(tmp_path):
    from medallion_etl_spark.cdc import metalog

    t = _table(tmp_path, commits=1)
    md = os.path.join(t.root, "metadata")
    # an interrupted write of version 2, and of CURRENT in both the
    # current and the older tmp naming
    for name in (".version-2.json.tmp", ".CURRENT.tmp", "CURRENT.tmp"):
        with open(os.path.join(md, name), "w") as f:
            f.write("version-2.json")
    assert metalog.versions(t.root) == [0, 1]
    assert metalog.head(t.root) == 1
    assert [h["version"] for h in t.history()] == [0, 1]
    assert LakeTable.load(t.root).version == 1


def test_commit_behind_head_raises_fork_rewind_and_writes_nothing(tmp_path):
    t = _table(tmp_path, commits=2)
    stale = LakeTable.load_version(t.root, 1)
    md = os.path.join(t.root, "metadata")
    before = sorted(os.listdir(md))
    with pytest.raises(RuntimeError, match="fork/rewind"):
        stale.commit({}, set(), (7, BATCH))
    assert sorted(os.listdir(md)) == before
    assert stale.version == 1 and "7" not in stale.meta["committed_batches"]
    assert LakeTable.load(t.root).version == 2


def test_published_stage_has_no_snapshots(tmp_path):
    from medallion_etl_spark.cdc import metalog

    t = _table(tmp_path, commits=1)
    metalog.invalidate(t.root, {"published_to": "elsewhere", "source_version": 3})
    assert not LakeTable.exists(t.root)
    assert metalog.versions(t.root) == []
    with pytest.raises(ValueError, match="no snapshot"):
        LakeTable.load_version(t.root, 0)
    with open(os.path.join(t.root, "metadata", "PUBLISHED")) as f:
        assert json.load(f) == {"published_to": "elsewhere", "source_version": 3}
