"""Scratch-reaper TTL semantics (r12 verdict #3: reuse-after-TTL race).

A tag-keyed cache subdir whose mtime exceeded the TTL used to be reapable
even while a LIVE long-running process was about to reuse it.  The fix:
every ``_DONE``-guarded builder touches its tag dir on the reuse path
(:func:`touch_scratch_tag`), so a tag in active use always looks fresh.
"""

from __future__ import annotations

import os
import tempfile
import time

from acousticbrainz_server_spark.session import reap_scratch, touch_scratch_tag

SF_SMOKE = "/root/testdata/sf0.001"


def _age(path: str, sec: float) -> None:
    old = time.time() - sec
    os.utime(path, (old, old))


def test_reap_removes_stale_tag_but_keeps_touched(tmp_path):
    base = os.path.join(tempfile.gettempdir(), "abspark_ttltest")
    stale = os.path.join(base, "deadtag0")
    fresh = os.path.join(base, "livetag0")
    for d in (stale, fresh):
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "_DONE"), "w").write("ok\n")
        _age(d, 10 * 3600)
    # the live process's reuse path touches its tag before the reaper fires
    touch_scratch_tag(fresh)
    removed = reap_scratch(ttl_sec=6 * 3600)
    assert stale in removed
    assert fresh not in removed
    assert not os.path.isdir(stale)
    assert os.path.isdir(fresh)
    import shutil

    shutil.rmtree(base, ignore_errors=True)


def test_reap_skips_tag_touched_between_scan_and_delete(monkeypatch):
    """A live owner touching its tag AFTER the reaper's scan found it stale
    (but before the delete) keeps it: the reaper re-stats right before
    ``rmtree``."""
    import shutil

    from acousticbrainz_server_spark import session

    base = os.path.join(tempfile.gettempdir(), "abspark_ttlrace")
    tag = os.path.join(base, "racetag0")
    os.makedirs(tag, exist_ok=True)
    _age(tag, 10 * 3600)
    real_stale = session._stale
    checks = []

    def scan_then_touch(path, ttl_sec):
        stale = real_stale(path, ttl_sec)
        if path == tag:
            checks.append(stale)
            if len(checks) == 1:
                touch_scratch_tag(tag)  # the owner's reuse path fires here
        return stale

    monkeypatch.setattr(session, "_stale", scan_then_touch)
    try:
        removed = reap_scratch(ttl_sec=6 * 3600)
        assert checks == [True, False]  # stale at scan, fresh at delete time
        assert tag not in removed
        assert os.path.isdir(tag)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ttb_reuse_refreshes_ttl(spark):
    """Real reuse path: ``_ttb_build_src`` hit twice — the second call takes
    the ``_DONE`` short-circuit and must still refresh the tag's mtime so a
    concurrent process's reaper no longer sees it as stale."""
    from acousticbrainz_server_spark.plans.streaming_queries import _ttb_build_src

    base, src_dir = _ttb_build_src(spark, SF_SMOKE)
    assert os.path.exists(os.path.join(src_dir, "_DONE"))
    _age(base, 10 * 3600)
    base2, _ = _ttb_build_src(spark, SF_SMOKE)  # reuse path
    assert base2 == base
    assert time.time() - os.stat(base).st_mtime < 3600
    removed = reap_scratch(ttl_sec=6 * 3600)
    assert base not in removed
    assert os.path.isdir(src_dir)
