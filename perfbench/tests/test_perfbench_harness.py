"""Tests of the benchmark's own code; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402

# A canned event log: one op window [1000, 2000] ms holding one job with two
# stages (three tasks) and one streaming batch, and one job after the window.
CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1100, "Stage IDs": [0, 1]},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
     "Task Info": {"Launch Time": 1110, "Finish Time": 1300, "Accumulables": [
         {"Name": "data sent to Python workers", "Update": "4096"},
         {"Name": "data returned from Python workers", "Update": "512"}]},
     "Task Metrics": {"Executor Run Time": 150, "Executor CPU Time": 100_000_000,
                      "Executor Deserialize Time": 20, "Result Serialization Time": 0,
                      "JVM GC Time": 5, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                      "Input Metrics": {"Bytes Read": 1000, "Records Read": 10},
                      "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 300},
                      "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0,
                                               "Fetch Wait Time": 0}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
     "Task Info": {"Launch Time": 1120, "Finish Time": 1310, "Accumulables": []},
     "Task Metrics": {"Executor Run Time": 170, "Executor CPU Time": 50_000_000,
                      "Executor Deserialize Time": 10, "Result Serialization Time": 0,
                      "JVM GC Time": 0,
                      "Input Metrics": {"Bytes Read": 500, "Records Read": 5},
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 200}}},
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 1105,
                    "Completion Time": 1310}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Stage Attempt ID": 0,
     "Task Info": {"Launch Time": 1320, "Finish Time": 1400, "Accumulables": []},
     "Task Metrics": {"Executor Run Time": 60, "Executor CPU Time": 40_000_000,
                      "Executor Deserialize Time": 5, "Result Serialization Time": 1,
                      "Output Metrics": {"Bytes Written": 700, "Records Written": 7},
                      "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 500,
                                               "Fetch Wait Time": 3}}},
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0, "Submission Time": 1315,
                    "Completion Time": 1400}},
    # a stage skipped by AQE has no submission time and is not counted
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1410},
    {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
     "progress": {"timestamp": "1970-01-01T00:00:01.150Z",
                  "durationMs": {"triggerExecution": 200, "addBatch": 150, "queryPlanning": 20,
                                 "walCommit": 10, "commitOffsets": 12},
                  "stateOperators": [{"numRowsTotal": 42}]}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500, "Stage IDs": [3]},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2600},
]

SNAP0 = {"jit_ms": 100, "gc_ms": 10, "gc_count": 1, "cg_count": 5, "cg_sum_ms": 50,
         "cg_samples": 5, "py_cpu_s": 1.0}
SNAP1 = {"jit_ms": 160, "gc_ms": 14, "gc_count": 2, "cg_count": 8, "cg_sum_ms": 80,
         "cg_samples": 8, "py_cpu_s": 1.5}
OP = {"name": "q", "pass": 1, "t0_ms": 1000.0, "t1_ms": 1050.0, "t2_ms": 2000.0, "rows": 3,
      "before": SNAP0, "after": SNAP1,
      "catalyst": {"analysis": 4.0, "optimization": 6.0, "planning": 2.0}}


@pytest.fixture()
def canned_log(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    half = len(CANNED) // 2
    (d / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in CANNED[:half]))
    (d / "events_2_local-1").write_text("".join(json.dumps(e) + "\n" for e in CANNED[half:]))
    (d / "appstatus_local-1").write_text("")
    return str(tmp_path)


def test_event_log_parsing_reads_rolled_files_in_order(canned_log):
    idx = layers.EventIndex.build(layers.read_event_log(canned_log))
    assert [j["id"] for j in idx.jobs] == [0, 1]
    assert [(s["id"], s["job"]) for s in idx.stages] == [(0, 0), (1, 0)]
    assert len(idx.tasks) == 3
    assert idx.tasks[0]["accums"]["data sent to Python workers"] == 4096.0
    assert idx.progress[0]["start"] == 1150.0 and idx.progress[0]["state_rows"] == 42


def test_layer_metrics_from_canned_log(canned_log):
    idx = layers.EventIndex.build(layers.read_event_log(canned_log))
    m, spans = layers.layer_metrics([OP], idx, n_passes=1)
    assert set(m) == set(layers.LAYER_METRICS)
    assert (m["scheduler.jobs"], m["scheduler.stages"], m["scheduler.tasks"]) == (1, 2, 3)
    # task wall minus run, deserialize and result-serialization time
    assert m["scheduler.delay_ms"] == (190 - 170) + (190 - 180) + (80 - 66)
    assert m["executor.run_ms"] == 380 and m["executor.cpu_ms"] == pytest.approx(190)
    assert m["executor.gc_ms"] == 5 and m["executor.deserialize_ms"] == 35
    assert (m["shuffle.write_bytes"], m["shuffle.read_bytes"], m["shuffle.fetch_wait_ms"]) == (500, 500, 3)
    assert (m["sources.input_bytes"], m["sources.input_rows"]) == (1500, 15)
    assert (m["sinks.output_bytes"], m["sinks.output_rows"]) == (700, 7)
    assert (m["python.bytes_sent"], m["python.bytes_received"]) == (4096, 512)
    assert m["python.worker_cpu_s"] == pytest.approx(0.5)
    assert (m["codegen.compiles"], m["codegen.compile_ms"]) == (3, 30)
    assert (m["jvm.jit_ms"], m["jvm.gc_ms"], m["jvm.gc_count"]) == (60, 4, 1)
    assert m["plans.build_ms"] == 50 and m["catalyst.optimization_ms"] == 6
    assert m["collect.rows"] == 3 and m["collect.ms"] == 2000 - 1410
    assert m["streaming.batches"] == 1 and m["streaming.add_batch_ms"] == 150
    assert m["streaming.state_rows"] == 42
    # job 1 starts after the op's window and belongs to no op
    assert {s["name"] for s in spans if s["layer"] == "job"} == {"job 0"}
    job = next(s for s in spans if s["layer"] == "job")
    assert job["parent"].endswith(".collect")


def test_compile_ms_estimates_once_the_histogram_evicts():
    before = dict(SNAP0, cg_count=2000, cg_sum_ms=10_000, cg_samples=1028)
    after = dict(SNAP0, cg_count=2010, cg_sum_ms=10_280, cg_samples=1028)
    assert layers.compile_ms(before, after) == pytest.approx(10 * 10_280 / 1028)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": "op", "parent": None, "layer": "op", "start_ms": 0, "end_ms": 100},
        {"id": "c", "parent": "op", "layer": "collect", "start_ms": 10, "end_ms": 100},
        {"id": "j1", "parent": "c", "layer": "job", "start_ms": 20, "end_ms": 50},
        {"id": "j2", "parent": "c", "layer": "job", "start_ms": 40, "end_ms": 60},  # overlaps j1
        {"id": "s1", "parent": "j1", "layer": "stage", "start_ms": 25, "end_ms": 120},  # clipped
    ]
    st = layers.self_times(spans)
    assert st["op"] == 10
    assert st["collect"] == 90 - 40
    assert st["job"] == (30 - 25) + 20
    assert st["stage"] == 95


def test_covered_ms_handles_disjoint_and_empty_intervals():
    assert layers.covered_ms(0, 10, []) == 0
    assert layers.covered_ms(0, 10, [(1, 2), (4, 6), (5, 7), (20, 30)]) == 1 + 3


def test_percentile_interpolates_between_ranks_with_sample_count():
    values = [float(v) for v in range(1, 31)]
    assert measure.percentile(values, 50) == (15.5, 30)
    assert measure.percentile(values, 90) == pytest.approx((27.1, 30))
    eight = [750.0, 770.0, 800.0, 810.0, 1660.0, 2180.0, 2300.0, 2900.0]  # one ingest pass
    assert measure.percentile(list(reversed(eight)), 50) == (1235.0, 8)
    assert measure.percentile([7.0], 90) == (7.0, 1)
    assert measure.percentile(values, 100) == (30.0, 30) and measure.percentile(values, 0) == (1.0, 30)
    with pytest.raises(ValueError):
        measure.percentile([], 50)


class _Frame:
    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _raises(spark, data_dir):
    raise RuntimeError("deliberate failure")


def test_failing_and_wrong_ops_count_as_failed():
    good = pd.DataFrame({"a": [1, 2]})
    specs = {
        "good": SimpleNamespace(spark_fn=lambda spark, d: _Frame(good)),
        "wrong": SimpleNamespace(spark_fn=lambda spark, d: _Frame(pd.DataFrame({"a": [1]}))),
        "raises": SimpleNamespace(spark_fn=_raises),
    }
    digest = lambda pdf: (list(pdf.columns), len(pdf))  # noqa: E731
    expected = {name: (["a"], 2) for name in specs}
    client = run.Client(None, specs, "unused", expected, digest)
    passes = [client.run_pass(["good", "wrong", "raises"], 0, "timed")]
    ok = {op["name"]: op["ok"] for op in passes[0]["ops"]}
    assert ok == {"good": True, "wrong": False, "raises": False}
    assert run.failures(passes) == (3, 2)
    assert all(op["ms"] >= 0 for op in passes[0]["ops"])


def test_passes_are_seeded_permutations_of_the_same_ops():
    ops = WORKLOADS["serve"].ops
    first = pass_order(ops, 7, 1)
    assert sorted(first) == sorted(ops)
    assert first == pass_order(ops, 7, 1)
    assert first != pass_order(ops, 8, 1)


def test_inputs_are_the_committed_tables_whatever_the_seed():
    from acousticbrainz_server_spark.sources.tables import TESTDATA_TABLES

    assert run.DATA_DIR.startswith(os.path.dirname(run.__file__))
    for t in TESTDATA_TABLES:
        assert os.path.isfile(os.path.join(run.DATA_DIR, f"{t}.parquet")), t


def test_process_tree_counters_see_this_process():
    pids = measure.tree_pids()
    assert pids[0] == os.getpid()
    assert measure.cpu_s(pids) > 0 and measure.pss_mb(pids) > 0
    assert measure.steal_s() >= 0


def test_end_to_end_uses_each_ops_best_time_and_the_best_pass():
    timed = [
        {"wall_s": 10.0, "cpu_s": 20.0, "peak_rss_mb": 100.0,
         "ops": [{"name": "a", "ms": 5.0}, {"name": "b", "ms": 50.0}]},
        {"wall_s": 8.0, "cpu_s": 22.0, "peak_rss_mb": 120.0,
         "ops": [{"name": "b", "ms": 30.0}, {"name": "a", "ms": 7.0}]},
    ]
    e = run.end_to_end(timed, 40.0)
    assert e["setup_s"] == (40.0, 1)
    assert e["pass_s"] == (8.0, 2) and e["cpu_s"] == (20.0, 2) and e["peak_rss_mb"] == (120.0, 2)
    # one best time per distinct op, so two samples, not four
    assert e["op_p50_ms"] == (17.5, 2) and e["op_p90_ms"] == pytest.approx((27.5, 2))
    assert set(e) == set(run.END_TO_END)
