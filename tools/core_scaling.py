"""Core-scaling signal at sf1 (r12 verdict item 5).

The driver's 8-vs-32-core block at sf0.1 is per-query-overhead-bound (no
ratio near the 4x core ratio), so it cannot say whether a query fails to
parallelize.  This tool produces a REAL scaling signal: it runs the chosen
queries on the 10x key-shifted corpus (``.scale/sf1full``, built by
tools/scale_sweep.py) at two core counts, each in its OWN subprocess (one
master per process, exactly how the driver varies $SPARK_GRAFT_CPUS), and
reports per-query warm-min ratios t_low/t_high.  A shuffle/compute-bound
query should approach cpus_high/cpus_low; a ratio ~1 names a limiter
(driver-bound, state-store-bound, fixed machinery) to record.

Results merge into SCALESWEEP.json under ``core_scaling`` (the existing
growth table is left untouched).

Usage:
  python tools/core_scaling.py [--cpus 8,32] [--reps 2] [--sf DIR]
                               [--min-warm 2.0] [name ...]
  (no names: pick every query whose SCALESWEEP sf1 wall >= --min-warm,
   minus the documented quadratic-semantics outliers)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_SF = os.path.join(REPO, ".scale", "sf1full")
# quadratic-OUTPUT semantics at the replicated corpus (SCALESWEEP "flagged"):
# their sf1 wall measures pair-enumeration volume, not plan parallelism
EXCLUDE = {"fuzzy_name_match_report", "minhash_lsh_neardup", "minhash_recall_eval"}


def child(cpus: int, sf: str, reps: int, names: list[str]) -> None:
    from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all
    from acousticbrainz_server_spark.session import get_spark

    _load_all()
    spark = get_spark(f"core_scaling_{cpus}", cpus=cpus)
    spark.read.parquet(os.path.join(sf, "lineitem.parquet")).count()
    n = spark.sparkContext.defaultParallelism
    spark.range(n).repartition(n).mapInPandas(lambda it: it, "id LONG").count()
    out: dict[str, float] = {}
    for name in names:
        spec = QUERIES[name]
        best = None
        try:
            for i in range(reps + 1):  # first run = warm-up (codegen/fixtures)
                t0 = time.perf_counter()
                spec.spark_fn(spark, sf).toPandas()
                dt = time.perf_counter() - t0
                if i > 0:
                    best = dt if best is None else min(best, dt)
                spark.catalog.clearCache()
        except Exception as e:  # noqa: BLE001 — sweep must survive any query
            print(f"ERR {name}: {str(e).splitlines()[0][:200]}", file=sys.stderr, flush=True)
            best = -1.0
        out[name] = round(best, 3)
        print(f"#{cpus} {name} {out[name]}", file=sys.stderr, flush=True)
    print(json.dumps(out))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", default="8,32")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--sf", default=DEFAULT_SF)
    ap.add_argument("--min-warm", type=float, default=2.0)
    ap.add_argument("--child", type=int, default=None, help=argparse.SUPPRESS)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if args.reps < 1:
        ap.error("--reps must be >= 1 (the first run is a warm-up)")

    if args.child is not None:
        child(args.child, args.sf, args.reps, args.names)
        return

    names = args.names
    if not names:
        ss = json.load(open(os.path.join(REPO, "SCALESWEEP.json")))
        names = sorted(
            n
            for n, r in ss["queries"].items()
            if r.get("sf1", 0) >= args.min_warm and n not in EXCLUDE
        )
    cpu_list = [int(c) for c in args.cpus.split(",")]
    results: dict[int, dict[str, float]] = {}
    meta: dict[int, dict] = {}
    for c in cpu_list:
        t0 = time.time()
        la0 = os.getloadavg()
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(c))
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", str(c),
             "--sf", args.sf, "--reps", str(args.reps)] + names,
            capture_output=True, text=True, env=env,
        )
        sys.stderr.write(proc.stderr[-4000:])
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.exit(f"core_scaling: the cpus={c} child exited {proc.returncode} "
                     f"with {'no' if not lines else 'partial'} output (stderr above)")
        results[c] = json.loads(lines[-1])
        meta[c] = {
            "t_start": round(t0, 1),
            "t_end": round(time.time(), 1),
            "loadavg_start": [round(x, 2) for x in la0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        }
    lo, hi = min(cpu_list), max(cpu_list)
    block = {
        "method": f"warm min-over-{args.reps} per query at sf1 (.scale/sf1full), "
        f"one subprocess per core count (get_spark cpus={cpu_list}, shuffle "
        f"partitions = cpus, the bench contract); ratio = t{lo}/t{hi} — perfect "
        f"scaling would be {hi / lo:.1f}",
        "cpus": cpu_list,
        "windows": {str(c): meta[c] for c in cpu_list},
        "queries": {
            n: {
                f"t{c}": results[c].get(n) for c in cpu_list
            } | {
                "ratio": (
                    round(results[lo][n] / results[hi][n], 2)
                    if results[lo].get(n, -1) > 0 and results[hi].get(n, -1) > 0
                    else None
                )
            }
            for n in names
        },
    }
    ss_path = os.path.join(REPO, "SCALESWEEP.json")
    ss = json.load(open(ss_path))
    ss["core_scaling"] = block
    with open(ss_path, "w") as f:
        json.dump(ss, f, indent=1)
    for n in names:
        print(n, block["queries"][n])
    print(f"merged core_scaling block ({len(names)} queries) into SCALESWEEP.json")


if __name__ == "__main__":
    main()
