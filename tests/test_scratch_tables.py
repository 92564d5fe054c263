"""The scratch-table lifecycle of the engine-driven driver queries
(``operators/util.scratch_table``): the dir-name and sweep rules, one
build per (family, input) per process, and the guarantee that a frame
an earlier call returned stays readable after the query runs again."""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile

import pytest

from medallion_etl_spark.cdc.table import LakeTable
from medallion_etl_spark.operators import util


@pytest.fixture
def tmpdir_as_tempdir(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_scratch_dir_sweeps_only_dead_siblings_of_its_own_family(tmpdir_as_tempdir):
    dead, live = _dead_pid(), os.getppid()
    names = {
        "dead": f"fam_0123abcd_p{dead}",
        "live": f"fam_89abcdef_p{live}",
        "other_family": f"fam_x_0123abcd_p{dead}",
    }
    for name in names.values():
        (tmpdir_as_tempdir / name).mkdir()
    mine = util._scratch_dir("fam", "/some/input")
    assert os.path.basename(mine).startswith("fam_") and mine.endswith(f"_p{os.getpid()}")
    left = set(os.listdir(tmpdir_as_tempdir))
    assert names["dead"] not in left
    assert names["live"] in left
    assert names["other_family"] in left


def test_scratch_dir_is_per_input(tmpdir_as_tempdir):
    assert util._scratch_dir("fam", "/a") != util._scratch_dir("fam", "/b")


def test_scratch_table_builds_once_per_family_and_input(tmpdir_as_tempdir):
    built = []

    def build(tmp: str) -> str:
        built.append(tmp)
        LakeTable.create(f"{tmp}/t", n_buckets=1, schema_version=2)
        return f"{tmp}/t"

    root = util.scratch_table("once_fam", "/in/a", build)
    assert util.scratch_table("once_fam", "/in/a", build) == root
    assert len(built) == 1
    util.scratch_table("once_fam", "/in/b", build)
    util.scratch_table("once_fam_2", "/in/a", build)
    assert len(built) == 3
    # the root vanished (external cleanup): the next call builds again
    shutil.rmtree(root)
    assert util.scratch_table("once_fam", "/in/a", build) == root
    assert len(built) == 4 and LakeTable.exists(root)


# The queries that used to rebuild their table on every call, deleting
# the files an earlier call's lazy frame reads.
_REBUILT_PER_CALL = [
    "cdc_replay_latest_state",
    "cdc_replay_mor_state",
    "cdc_constrained_replay",
    "cdc_schema_evolution_state",
    "ivm_source_stats",
]


@pytest.mark.parametrize("name", _REBUILT_PER_CALL)
def test_a_repeated_call_keeps_the_earlier_frame_readable(spark, sf_tiny, name):
    from medallion_etl_spark.operators import collect_queries

    fn, _ = collect_queries()[name]
    first = fn(spark, sf_tiny)
    second = fn(spark, sf_tiny)
    assert sorted(first.collect()) == sorted(second.collect())
