"""Run the benchmark over several seeds and print one table per workload.

    python3 perfbench/report.py                      # both modes, seeds 1-3
    python3 perfbench/report.py --trace 0 --seeds 1 2 3 4 5 6 7 8 9 10
    python3 perfbench/report.py --trace 0 --seeds 1 2 3 --seeds2 4 5 6

For every metric the table gives the median over the seeds, the spread
(distance between the first and third quartile as a share of the median,
from ``statistics.quantiles(values, n=4)``), the unit and the samples each
run's value rests on.  With both modes it also prints the tracing overhead:
the traced run's ``pass_s`` and ``cpu_s`` against the untraced run's.
With ``--seeds2`` it runs a second set of seeds and prints, per metric, how
far the second set's median is from the first's, as a share of the first.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from layers import LAYER_METRICS
from run import END_TO_END

HERE = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=REPO_ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    with open(os.path.join(REPO_ROOT, ".perfbench_out", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        record = json.load(f)
    timed = sum(1 for p in record["passes"] if p["kind"] == "timed")
    if trace:
        values = {k: (v, 1 if k == "session.start_s" else timed) for k, v in record["per_layer"].items()}
    else:  # from the record, so that metrics left out of the JSON line show too
        values = {k: tuple(vn) for k, vn in record["end_to_end"].items()}
    return {"result": result, "values": values}


def spread(values: list[float]) -> tuple[float, float]:
    """(median, interquartile distance as a share of the median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def table(runs: list[dict]) -> dict[str, float]:
    units = {**END_TO_END, **LAYER_METRICS}
    medians = {}
    print(f"  {'metric':<28} {'median':>14} {'spread':>7} unit   samples/run")
    for k, (_, n) in runs[0]["values"].items():
        med, sp = spread([r["values"][k][0] for r in runs])
        print(f"  {k:<28} {med:>14.4f} {sp:>7.3f} {units[k]:<6} {n}")
        medians[k] = med
    bad = sum(r["result"]["failed"] for r in runs)
    tried = sum(r["result"]["attempted"] for r in runs)
    print(f"  {'fail_rate':<28} {bad / tried:>14.4f} {'':>7} ratio  {tried} ops over {len(runs)} runs")
    return medians


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, default=[1, 2, 3])
    ap.add_argument("--seeds2", nargs="+", type=int, default=[])
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", nargs="+", type=int, choices=(0, 1), default=[0, 1])
    args = ap.parse_args()
    for wl in args.workloads:
        medians = {}
        for trace in args.trace:
            runs = [run_once(wl, seed, args.seconds, trace) for seed in args.seeds]
            print(f"{wl} trace={trace} seeds={args.seeds}")
            medians.update(table(runs))
            if args.seeds2:
                runs = [run_once(wl, seed, args.seconds, trace) for seed in args.seeds2]
                print(f"{wl} trace={trace} seeds={args.seeds2}")
                second = table(runs)
                print("  second set's median vs the first's: " + ", ".join(
                    f"{k} {second[k] / medians[k] - 1:+.3f}" for k in second if medians[k]))
        if "pass_s" in medians and "trace.pass_s" in medians:
            print(f"  tracing overhead: pass_s {medians['trace.pass_s'] / medians['pass_s'] - 1:+.1%}, "
                  f"cpu_s {medians['trace.cpu_s'] / medians['cpu_s'] - 1:+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
