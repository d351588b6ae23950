"""Per-process scratch tree: reaper rules and the build-once helper.

Each process keeps its scratch under ``<tmp>/abspark_<pid>/``, so the
reaper can tell garbage from a tree in use by the pid alone: a dead pid's
tree goes, a live one's stays.  None of these tests start Spark; each
points ``tempfile.tempdir`` at its own ``tmp_path``.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from acousticbrainz_server_spark import session
from acousticbrainz_server_spark.session import build_once, reap_scratch, scratch_dir


@pytest.fixture
def tmp_root(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _tree(root, name: str) -> str:
    path = os.path.join(root, name, "ttbatch", "0123abcd", "src")
    os.makedirs(path)
    return os.path.join(root, name)


def test_dead_pid_tree_is_reaped(tmp_root):
    child = subprocess.Popen(["true"])
    child.wait()
    dead = _tree(tmp_root, f"abspark_{child.pid}")
    legacy = _tree(tmp_root, f"abspark_state_introspect_{child.pid}")
    assert sorted(reap_scratch()) == sorted([dead, legacy])
    assert os.listdir(tmp_root) == []


def test_live_pid_tree_is_kept(tmp_root):
    child = subprocess.Popen(["sleep", "60"])
    try:
        live = _tree(tmp_root, f"abspark_{child.pid}")
        keep = _tree(tmp_root, "abspark_bucketed")  # no pid: not ours to judge
        assert reap_scratch() == []
        assert os.path.isdir(live) and os.path.isdir(keep)
    finally:
        child.kill()
        child.wait()


def test_own_pid_leftover_is_wiped_on_first_reap_only(tmp_root, monkeypatch):
    monkeypatch.setattr(session, "_reaped", False)
    own = _tree(tmp_root, f"abspark_{os.getpid()}")
    assert reap_scratch() == [own]  # left by a dead process with our pid
    path = scratch_dir("ttbatch", "/some/sf")
    assert path.startswith(own + os.sep)
    os.makedirs(path)
    assert reap_scratch() == []  # now it is this process's, in use
    assert os.path.isdir(path)


def test_build_once_from_threads_on_a_cold_path(tmp_root):
    path = scratch_dir("ttbatch", "/some/sf")
    started = threading.Barrier(4)
    builds = []

    def slow_build(tmp: str) -> None:
        builds.append(tmp)
        os.makedirs(tmp)
        for i in range(3):
            time.sleep(0.1)
            with open(os.path.join(tmp, f"f{i}.parquet"), "w") as f:
                f.write(tmp)

    def call(_):
        started.wait(timeout=60)
        got = build_once(path, slow_build)
        return got, sorted(os.listdir(got))

    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(call, range(4), timeout=120))
    assert len(builds) == 4  # all four found the path cold
    assert results == [(path, ["f0.parquet", "f1.parquet", "f2.parquet"])] * 4
    assert os.listdir(os.path.dirname(path)) == [os.path.basename(path)]
    winner = open(os.path.join(path, "f0.parquet")).read()
    assert all(open(os.path.join(path, f"f{i}.parquet")).read() == winner for i in range(3))
    assert build_once(path, slow_build) == path and len(builds) == 4  # warm: no build
