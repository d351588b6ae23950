"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

A run reads the fixed input tables under ``data/``, computes the DuckDB
reference digest of every op and starts the engine's session on
``local[nproc]``.  It then runs a cold pass, in which every op is checked
against its reference, the workload's warm-up passes, and whole timed
passes until ``--seconds`` have gone by.  Every timed op is checked too.
``--seed`` chooses the order of the ops in each pass; it does not change the
inputs.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see README.md).  The last line of stdout is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``; a table of
every metric with its unit and sample count comes before it.  The run's
record (per-op times, per-pass CPU, steal and load average) and, when
traced, its spans are written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

import layers
import measure
from workloads import WORKLOADS, pass_order, timed_passes

HERE = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(REPO_ROOT, ".perfbench_out")
RUNS_DIR = os.path.join(REPO_ROOT, ".perfbench_runs")
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
_REQUIRED = ("acousticbrainz_server_spark/plans/registry.py", "tools/verify_oracle.py")

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms",
              "cpu_s": "s", "peak_rss_mb": "MB"}
# printed and recorded, but left out of the JSON line: the JVM's heap sizing
# spreads it wider from run to run than any bound the benchmark may set
# (README.md, "Steadiness")
UNGATED = ("peak_rss_mb",)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location of this process and its children into
    ``run_dir``, so no cache survives from, or leaks into, another run."""
    paths = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "eventlog")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = paths["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = paths["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    return paths


class Client:
    """Runs ops one at a time and records each; checks results after the
    pass so that hashing stays out of the timed pass."""

    def __init__(self, spark, specs: dict, data_dir: str, expected: dict, digest, probe=None):
        self.spark, self.specs, self.data_dir = spark, specs, data_dir
        self.expected, self.digest, self.probe = expected, digest, probe

    def run_op(self, name: str, pass_idx: int):
        rec = {"name": name, "pass": pass_idx}
        before = self.probe.snapshot() if self.probe else None
        t0, p0 = time.time(), time.perf_counter()
        try:
            df = self.specs[name].spark_fn(self.spark, self.data_dir)
            t1 = time.time()
            pdf = df.toPandas()
            p2, t2 = time.perf_counter(), time.time()
        except Exception:  # an op that raises is a failed op; the run goes on
            rec.update(ms=(time.perf_counter() - p0) * 1000, ok=False, error=traceback.format_exc())
            print(f"op {name} failed:\n{rec['error']}", file=sys.stderr)
            return rec, None
        rec.update(ms=(p2 - p0) * 1000, t0_ms=t0 * 1000, t1_ms=t1 * 1000, t2_ms=t2 * 1000,
                   rows=len(pdf))
        if self.probe:
            rec.update(before=before, after=self.probe.snapshot(), catalyst=layers.catalyst_ms(df))
        return rec, pdf

    def run_pass(self, order: list[str], pass_idx: int, kind: str) -> dict:
        steal0, cpu0 = measure.steal_s(), measure.cpu_s(measure.tree_pids())
        p0 = time.perf_counter()
        with measure.PeakRss() as rss:
            results = [self.run_op(name, pass_idx) for name in order]
        wall = time.perf_counter() - p0
        cpu = measure.cpu_s(measure.tree_pids()) - cpu0
        for rec, pdf in results:
            if pdf is not None:
                got = self.digest(pdf)
                rec["ok"] = got == self.expected[rec["name"]]
                if not rec["ok"]:
                    print(f"op {rec['name']}: result {got} != reference "
                          f"{self.expected[rec['name']]}", file=sys.stderr)
        return {"pass": pass_idx, "kind": kind, "wall_s": wall, "cpu_s": cpu,
                "peak_rss_mb": rss.peak_mb, "steal_s": measure.steal_s() - steal0,
                "loadavg": os.getloadavg(), "ops": [rec for rec, _ in results]}


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until every child has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(measure.tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in measure.tree_pids()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:  # reap any child of ours that is left
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break


def failures(passes: list[dict]) -> tuple[int, int]:
    """(attempted, failed) ops; an op fails if it raised or its result
    differs from the reference, and it stays in the attempted count."""
    ops = [op for p in passes for op in p["ops"]]
    return len(ops), sum(1 for op in ops if not op.get("ok"))


def end_to_end(timed: list[dict], setup_s: float) -> dict:
    """(value, samples) per end-to-end metric.  Each op counts with its best
    time over the timed passes, and each pass metric with the best pass, so a
    burst of host contention inside one pass does not set the run's value."""
    best: dict[str, float] = {}
    for p in timed:
        for op in p["ops"]:
            best[op["name"]] = min(op["ms"], best.get(op["name"], float("inf")))
    return {
        "setup_s": (setup_s, 1),
        "pass_s": (min(p["wall_s"] for p in timed), len(timed)),
        "op_p50_ms": measure.percentile(list(best.values()), 50),
        "op_p90_ms": measure.percentile(list(best.values()), 90),
        "cpu_s": (min(p["cpu_s"] for p in timed), len(timed)),
        "peak_rss_mb": (max(p["peak_rss_mb"] for p in timed), len(timed)),
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = [p for p in _REQUIRED if not os.path.exists(os.path.join(REPO_ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {missing})", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO_ROOT)
    import oracle

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=_mkdirs(RUNS_DIR))
    try:
        return _run(args, wl, run_dir, oracle)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _mkdirs(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path


def _run(args, wl, run_dir: str, oracle) -> int:
    paths = isolate(run_dir)
    nproc = len(os.sched_getaffinity(0))
    # set-up runs from here to the first timed op, less the DuckDB reference,
    # which is the benchmark's work, not the engine's
    setup0 = time.perf_counter()
    from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all
    from acousticbrainz_server_spark.session import get_spark

    _load_all()
    specs = {name: QUERIES[name] for name in wl.ops}
    t = time.perf_counter()
    expected = oracle.oracle_digests(DATA_DIR, specs)
    oracle_s = time.perf_counter() - t

    conf = {"spark.sql.warehouse.dir": paths["warehouse"], "spark.ui.showConsoleProgress": "false"}
    if args.trace:
        conf.update(layers.event_log_conf(paths["eventlog"]))
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=nproc, extra_conf=conf)
    session_start_s = time.perf_counter() - t
    passes: list[dict] = []
    try:
        probe = layers.JvmProbe(spark) if args.trace else None
        client = Client(spark, specs, DATA_DIR, expected, oracle.pandas_digest, probe)
        passes.append(client.run_pass(pass_order(wl.ops, args.seed, 0), 0, "cold"))
        for i in range(1, 1 + wl.warmup_passes):
            passes.append(client.run_pass(pass_order(wl.ops, args.seed, i), i, "warmup"))
        setup_s = time.perf_counter() - setup0 - oracle_s
        first = 1 + wl.warmup_passes
        for i in range(first, first + timed_passes(wl, args.seconds)):
            passes.append(client.run_pass(pass_order(wl.ops, args.seed, i), i, "timed"))
    finally:
        stop_spark(spark)

    timed = [p for p in passes if p["kind"] == "timed"]
    attempted, failed = failures(passes)
    n_timed, timed_failed = failures(timed)
    e2e = end_to_end(timed, setup_s)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "data": os.path.relpath(DATA_DIR, REPO_ROOT), "nproc": nproc, "oracle_s": oracle_s,
        "session_start_s": session_start_s,
        "fail_rate": timed_failed / n_timed, "end_to_end": e2e, "passes": passes,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    rows = [(k, v, END_TO_END[k], n) for k, (v, n) in e2e.items()]
    rows.append(("fail_rate", timed_failed / n_timed, "ratio", n_timed))
    if args.trace:
        layer, spans = layers.layer_metrics([op for p in timed for op in p["ops"] if "t2_ms" in op],
                                        layers.EventIndex.build(layers.read_event_log(paths["eventlog"])),
                                        len(timed))
        layer["session.start_s"] = session_start_s
        layer["host.steal_s"] = sum(p["steal_s"] for p in timed) / len(timed)
        layer["trace.pass_s"], layer["trace.cpu_s"] = e2e["pass_s"][0], e2e["cpu_s"][0]
        record["per_layer"] = layer
        with open(os.path.join(_mkdirs(OUT_DIR), f"{name}-spans.jsonl"), "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in spans)
        rows = [(k, layer[k], u, 1 if k == "session.start_s" else len(timed))
                for k, u in layers.LAYER_METRICS.items()]
        metrics = {k: {"value": layer[k], "unit": u} for k, u in layers.LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()
                   if k not in UNGATED}
    with open(os.path.join(_mkdirs(OUT_DIR), f"{name}.json"), "w") as f:
        json.dump(record, f, default=str)

    print(f"{args.workload} seed={args.seed} nproc={nproc} timed_passes={len(timed)} "
          f"timed_ops={n_timed} steal_s={sum(p['steal_s'] for p in timed):.2f}")
    for k, v, unit, n in rows:
        print(f"  {k:<28} {v:>14.4f} {unit:<6} n={n}")
    if args.trace:
        groups = {k.split(".")[0] for k in layers.LAYER_METRICS}
        idle = sorted(groups - {k.split(".")[0] for k, v in record["per_layer"].items() if v})
        print(f"  no work in this workload: {', '.join(idle) or 'none'}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
