"""tools/ab.py: the pairing and summary code (Spark-free), and one end-to-end
conf A/B at sf0.001 with the DuckDB timing."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

from tests.conftest import REPO_ROOT, SF_SMOKE
from tools import ab


def _rec(walls, cpus, digest=(10, "aa")):
    return {"q": {"wall_s": walls, "cpu_s": cpus, "steal_s": [0.0] * len(walls), "digests": [list(digest)]}}


def test_summary_counts_pair_wins_and_flags_differing_outputs():
    records = {
        "base": [_rec([1.0, 1.2], [4.0, 4.2]), _rec([2.0, 2.1], [4.0, 4.4]), _rec([1.5], [3.0])],
        # faster in trials 0 and 2 on wall; lower CPU in trials 0 and 1
        "fast": [_rec([0.9, 1.3], [3.0, 3.2]), _rec([2.5, 2.2], [3.9, 4.0]), _rec([1.4], [3.5])],
        # faster everywhere, but a different result
        "wrong": [_rec([0.5], [1.0], (10, "bb")), _rec([0.5], [1.0]), _rec([0.5], [1.0])],
    }
    q = ab.summarize(records, ["q"])["q"]
    assert q["base"]["min_wall_s"] == 1.0 and "wall_wins" not in q["base"]
    assert q["base"]["median_cpu_s"] == 4.0
    assert q["fast"]["wall_s"] == [[0.9, 1.3], [2.5, 2.2], [1.4]]
    assert (q["fast"]["wall_wins"], q["fast"]["cpu_wins"], q["fast"]["pairs"]) == (2, 2, 3)
    assert q["fast"]["outputs_equal"] is True and q["fast"]["min_wall_s"] == 0.9
    assert q["wrong"]["outputs_equal"] is False
    assert "wall_wins" not in q["wrong"] and "cpu_wins" not in q["wrong"]
    assert q["wrong"]["digests"] == [(10, "aa"), (10, "bb")]


def test_summary_reports_errors_without_wins():
    records = {"base": [_rec([1.0], [2.0])], "broken": [{"q": {"error": "boom"}}]}
    q = ab.summarize(records, ["q"])["q"]
    assert q["broken"] == {"errors": ["boom"]}


def test_trial_order_rotates_and_variants_parse():
    assert [ab.trial_order(["a", "b"], t) for t in range(3)] == [["a", "b"], ["b", "a"], ["a", "b"]]
    assert ab.trial_order(["a", "b", "c"], 1) == ["b", "c", "a"]
    assert ab.parse_variant('x={"cpus": 2}') == ("x", {"cpus": 2})
    assert ab.parse_variant("base=") == ("base", {})
    with pytest.raises(Exception, match="keys must be among"):
        ab.parse_variant('x={"threads": 2}')


def test_conf_ab_end_to_end(tmp_path):
    out = tmp_path / "ab.json"
    proc = subprocess.run(
        [sys.executable, str(REPO_ROOT / "tools" / "ab.py"), "--sf", SF_SMOKE, "--trials", "1",
         "--runs", "1", "--out", str(out), "--variant", "base={}",
         "--variant", 'p8={"conf": {"spark.sql.shuffle.partitions": "8"}}', "--duck", "uuid_normalize"],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(out.read_text())
    assert res["variants"] == {"base": {}, "p8": {"conf": {"spark.sql.shuffle.partitions": "8"}}}
    q = res["queries"]["uuid_normalize"]
    for label in ("base", "p8"):
        v = q[label]
        assert len(v["wall_s"]) == len(v["cpu_s"]) == 1 and len(v["wall_s"][0]) == 1
        assert v["cpu_s"][0][0] > 0 and v["min_wall_s"] > 0
    assert q["p8"]["outputs_equal"] is True and q["p8"]["pairs"] == 1
    assert q["p8"]["digests"] == q["base"]["digests"] and q["base"]["digests"][0][0] > 0
    assert set(res["duck_s"]) == {"uuid_normalize"}
