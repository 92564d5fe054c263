"""Commit durability: a metadata commit is durable only once the
``metadata/`` directory holding its renames is fsynced."""

from __future__ import annotations

import os
import stat

from medallion_etl_spark.cdc.table import LakeTable


def test_commit_fsyncs_the_metadata_dir_after_the_current_swap(tmp_path, monkeypatch):
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=4)
    md_dir = os.path.join(table.root, "metadata")
    md_ino = os.stat(md_dir).st_ino
    calls: list[tuple[str, object]] = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        st = os.fstat(fd)
        calls.append(("fsync_dir" if stat.S_ISDIR(st.st_mode) else "fsync", st.st_ino))
        return real_fsync(fd)

    def replace(src, dst, *args, **kwargs):
        calls.append(("replace", os.path.basename(dst)))
        return real_replace(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    table.commit({}, set(), (0, {"lsn_lo": 0, "lsn_hi": 0, "rows_applied": 0}))

    swap = calls.index(("replace", "CURRENT"))
    assert ("fsync_dir", md_ino) in calls[swap + 1 :]
    # the version doc's rename is durable before CURRENT names it
    doc = calls.index(("replace", f"version-{table.version}.json"))
    assert ("fsync_dir", md_ino) in calls[doc + 1 : swap]
