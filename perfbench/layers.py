"""Traced mode: per-layer metrics and spans for the timed ops.

Data sources, all public Spark surfaces:

- the event log (uncompressed, in the run's private directory): jobs, stages,
  task metrics and accumulators, and the ``StreamingQueryListener`` progress
  events Spark writes there;
- JMX beans for JIT and GC time, and ``CodegenMetrics`` for generated-class
  compiles, snapshotted around each op;
- ``queryExecution.tracker`` for Catalyst phase times of the op's result;
- /proc for the CPU of the Python worker processes.

Jobs, stages, tasks and streaming batches are attributed to the op whose
time window contains their start: the client runs one op at a time, and
streaming jobs run on their own thread under their own job group.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field
from datetime import datetime

import measure

# CodegenMetrics histograms keep every sample until this many were recorded;
# past it, compile time is estimated from the count and the sample mean
_RESERVOIR = 1028
_PHASES = ("analysis", "optimization", "planning")
_STREAM_DURATIONS = {
    "trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}

# name -> unit of every per-layer metric, in report order
LAYER_METRICS: dict[str, str] = {
    "session.start_s": "s",
    "plans.build_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "jvm.jit_ms": "ms", "jvm.gc_ms": "ms", "jvm.gc_count": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.delay_ms": "ms",
    "executor.run_ms": "ms", "executor.cpu_ms": "ms", "executor.gc_ms": "ms",
    "executor.deserialize_ms": "ms",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_ms": "ms",
    "spill.memory_bytes": "bytes", "spill.disk_bytes": "bytes",
    "sources.input_bytes": "bytes", "sources.input_rows": "rows",
    "sinks.output_bytes": "bytes", "sinks.output_rows": "rows",
    "python.worker_cpu_s": "s", "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "collect.rows": "rows", "collect.ms": "ms",
    "streaming.batches": "count", "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.state_rows": "rows",
    "host.steal_s": "s",
    "self.plans_ms": "ms", "self.collect_ms": "ms", "self.job_ms": "ms",
    "self.stage_ms": "ms",
    "trace.pass_s": "s", "trace.cpu_s": "s",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


class JvmProbe:
    """Cumulative JVM and Python-worker counters, read in one snapshot."""

    def __init__(self, spark):
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._cg = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._arrays = jvm.java.util.Arrays

    def snapshot(self) -> dict[str, float]:
        snap = self._cg.getSnapshot()
        me = os.getpid()  # every other Python process in the tree is a Spark worker
        py = [p for p in measure.tree_pids()
              if p != me and os.path.basename(measure.cmdline(p).split(" ")[0]).startswith("python")]
        return {
            "jit_ms": self._jit.getTotalCompilationTime(),
            "gc_ms": sum(g.getCollectionTime() for g in self._gcs),
            "gc_count": sum(g.getCollectionCount() for g in self._gcs),
            "cg_count": self._cg.getCount(),
            "cg_sum_ms": self._arrays.stream(snap.getValues()).sum(),
            "cg_samples": snap.size(),
            "py_cpu_s": measure.cpu_s(py),
        }


def compile_ms(before: dict, after: dict) -> float:
    """Generated-class compile time between two snapshots: exact while the
    histogram still holds every sample, else count times the sample mean."""
    if after["cg_count"] <= _RESERVOIR:
        return after["cg_sum_ms"] - before["cg_sum_ms"]
    mean = after["cg_sum_ms"] / max(1, after["cg_samples"])
    return (after["cg_count"] - before["cg_count"]) * mean


def catalyst_ms(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in _PHASES:
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def read_event_log(log_dir: str) -> list[dict]:
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(f) and "appstatus" not in os.path.basename(f)]
    # rolling logs are events_<n>_<app>; order by n
    files.sort(key=lambda f: (os.path.dirname(f), int(os.path.basename(f).split("_")[1])
                              if os.path.basename(f).startswith("events_") else 0))
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _number(v) -> float:
    """An accumulator update: SQL metrics are logged as strings."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


@dataclass
class EventIndex:
    """The event log reduced to what span building and metrics need."""

    jobs: list[dict] = field(default_factory=list)  # {id, start, end}
    stages: list[dict] = field(default_factory=list)  # {id, attempt, job, start, end}
    tasks: list[dict] = field(default_factory=list)  # {start, end, metrics, accums}
    progress: list[dict] = field(default_factory=list)  # {start, durationMs, state_rows}

    @classmethod
    def build(cls, events: list[dict]) -> "EventIndex":
        idx = cls()
        job_start, stage_job = {}, {}
        for e in events:
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                job_start[e["Job ID"]] = e["Submission Time"]
                for s in e.get("Stage IDs", ()):
                    stage_job.setdefault(s, e["Job ID"])
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_start:
                idx.jobs.append({"id": e["Job ID"], "start": job_start[e["Job ID"]],
                                 "end": e["Completion Time"]})
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    idx.stages.append({"id": info["Stage ID"], "attempt": info["Stage Attempt ID"],
                                       "job": stage_job.get(info["Stage ID"]),
                                       "start": info["Submission Time"],
                                       "end": info["Completion Time"]})
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                idx.tasks.append({
                    "start": info["Launch Time"], "end": info["Finish Time"],
                    "metrics": e.get("Task Metrics") or {},
                    "accums": {a.get("Name"): _number(a.get("Update"))
                               for a in info.get("Accumulables", ())},
                })
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                p = e["progress"]
                idx.progress.append({
                    "start": _epoch_ms(p["timestamp"]), "durationMs": p.get("durationMs", {}),
                    "state_rows": sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", ())),
                })
        return idx


def _within(items: list[dict], start_ms: float, end_ms: float) -> list[dict]:
    return [x for x in items if start_ms <= x["start"] <= end_ms]


def covered_ms(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Summed self time per layer: each span's duration minus the part of it
    that its child spans cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent"):
            kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out: dict[str, float] = {}
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        own = dur - covered_ms(s["start_ms"], s["end_ms"], kids.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def op_spans(op: dict, idx: EventIndex) -> list[dict]:
    """Spans of one timed op: the op root, ``plans.build`` and ``collect``
    from the benchmark's timers, and the jobs and stages inside its window."""
    root = f"p{op['pass']}.{op['name']}"
    t0, t1, t2 = op["t0_ms"], op["t1_ms"], op["t2_ms"]

    def span(sid, layer, name, start, end, parent):
        return {"trace": root, "id": sid, "parent": parent, "layer": layer, "name": name,
                "start_ms": start, "end_ms": end}

    spans = [span(root, "op", op["name"], t0, t2, None),
             span(root + ".plans", "plans", "plans.build", t0, t1, root),
             span(root + ".collect", "collect", "collect", t1, t2, root)]
    for j in _within(idx.jobs, t0, t2):
        parent = root + (".plans" if j["start"] < t1 else ".collect")
        spans.append(span(f"{root}.job{j['id']}", "job", f"job {j['id']}", j["start"], j["end"], parent))
    for s in _within(idx.stages, t0, t2):
        parent = f"{root}.job{s['job']}" if s["job"] is not None else root
        spans.append(span(f"{root}.stage{s['id']}.{s['attempt']}", "stage", f"stage {s['id']}",
                          s["start"], s["end"], parent))
    known = {s["id"] for s in spans}
    for s in spans:  # a stage whose job fell outside the window hangs off the op
        if s["parent"] and s["parent"] not in known:
            s["parent"] = root
    return spans


def _task_sum(tasks: list[dict], *path: str) -> float:
    total = 0.0
    for t in tasks:
        v = t["metrics"]
        for k in path:
            v = v.get(k, 0) if isinstance(v, dict) else 0
        total += v or 0
    return total


def layer_metrics(ops: list[dict], idx: EventIndex, n_passes: int) -> tuple[dict, list[dict]]:
    """Per-pass per-layer metrics of the timed ``ops`` and their spans."""
    tot: dict[str, float] = {k: 0.0 for k in LAYER_METRICS}
    spans: list[dict] = []
    for op in ops:
        t0, t1, t2 = op["t0_ms"], op["t1_ms"], op["t2_ms"]
        b, a = op["before"], op["after"]
        jobs, tasks = _within(idx.jobs, t0, t2), _within(idx.tasks, t0, t2)
        prog = _within(idx.progress, t0, t2)
        tot["plans.build_ms"] += t1 - t0
        for p in _PHASES:
            tot[f"catalyst.{p}_ms"] += op["catalyst"][p]
        tot["codegen.compiles"] += a["cg_count"] - b["cg_count"]
        tot["codegen.compile_ms"] += compile_ms(b, a)
        for k in ("jit_ms", "gc_ms", "gc_count"):
            tot[f"jvm.{k}"] += a[k] - b[k]
        tot["python.worker_cpu_s"] += a["py_cpu_s"] - b["py_cpu_s"]
        tot["scheduler.jobs"] += len(jobs)
        tot["scheduler.stages"] += len(_within(idx.stages, t0, t2))
        tot["scheduler.tasks"] += len(tasks)
        for t in tasks:
            m = t["metrics"]
            busy = (m.get("Executor Run Time", 0) + m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0))
            tot["scheduler.delay_ms"] += max(0, t["end"] - t["start"] - busy)
            tot["python.bytes_sent"] += t["accums"].get("data sent to Python workers", 0)
            tot["python.bytes_received"] += t["accums"].get("data returned from Python workers", 0)
        tot["executor.run_ms"] += _task_sum(tasks, "Executor Run Time")
        tot["executor.cpu_ms"] += _task_sum(tasks, "Executor CPU Time") / 1e6
        tot["executor.gc_ms"] += _task_sum(tasks, "JVM GC Time")
        tot["executor.deserialize_ms"] += _task_sum(tasks, "Executor Deserialize Time")
        tot["shuffle.write_bytes"] += _task_sum(tasks, "Shuffle Write Metrics", "Shuffle Bytes Written")
        tot["shuffle.read_bytes"] += (_task_sum(tasks, "Shuffle Read Metrics", "Remote Bytes Read")
                                      + _task_sum(tasks, "Shuffle Read Metrics", "Local Bytes Read"))
        tot["shuffle.fetch_wait_ms"] += _task_sum(tasks, "Shuffle Read Metrics", "Fetch Wait Time")
        tot["spill.memory_bytes"] += _task_sum(tasks, "Memory Bytes Spilled")
        tot["spill.disk_bytes"] += _task_sum(tasks, "Disk Bytes Spilled")
        tot["sources.input_bytes"] += _task_sum(tasks, "Input Metrics", "Bytes Read")
        tot["sources.input_rows"] += _task_sum(tasks, "Input Metrics", "Records Read")
        tot["sinks.output_bytes"] += _task_sum(tasks, "Output Metrics", "Bytes Written")
        tot["sinks.output_rows"] += _task_sum(tasks, "Output Metrics", "Records Written")
        tot["collect.rows"] += op["rows"]
        last_job_end = max((j["end"] for j in jobs if j["end"] <= t2), default=t1)
        tot["collect.ms"] += t2 - max(t1, last_job_end)
        tot["streaming.batches"] += len(prog)
        for key, dk in _STREAM_DURATIONS.items():
            tot[f"streaming.{key}"] += sum(p["durationMs"].get(dk, 0) for p in prog)
        tot["streaming.state_rows"] += sum(p["state_rows"] for p in prog)
        spans.extend(op_spans(op, idx))
    for layer, ms in self_times(spans).items():
        if layer != "op":  # plans.build and collect tile the op: its self time is 0
            tot[f"self.{layer}_ms"] += ms
    per_pass = {k: v / n_passes for k, v in tot.items()}
    return per_pass, spans
