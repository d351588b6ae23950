"""Interleaved A/B of registered queries across variants.

    python3 tools/ab.py --sf /root/testdata/sf0.1 --trials 5 --out AB.json \\
        --variant base='{}' \\
        --variant shj='{"conf": {"spark.sql.shuffle.partitions": "8"}}' \\
        NAME [NAME ...]

A variant is ``LABEL=JSON``; the JSON object may set any of
- ``root``: a source tree to import the package from (default: this one);
- ``cpus``: ``SPARK_GRAFT_CPUS`` of the child (default: inherited);
- ``conf``: SQL conf layered over each query's declared conf;
- ``sf``: the data dir (default: ``--sf``).

Each (trial, variant) runs in a fresh child process on ``get_spark``, one
child at a time, with the variant order rotated by trial.  Per query the
child makes one untimed run and ``--runs`` timed runs of the ``toPandas``
action bench.py uses, and records per run the wall time, the process-tree
CPU and host steal (``perfbench/measure.py``, the counter behind
perfbench's ``cpu_s``) and the result digest (``perfbench/oracle.py``).

The first variant is the base.  Per query and variant the JSON output holds
the per-trial arrays, ``min_wall_s`` and ``median_cpu_s``; every other
variant also holds ``wall_wins``/``cpu_wins`` (trials in which its fastest
run, or its median CPU, beat the base's in the same trial) and
``outputs_equal``.  A variant whose digests differ from the base's gets no
wins.  ``--duck`` adds the DuckDB oracle time per query
(``tools/bench_ratio.py:duck_times``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VARIANT_KEYS = {"root", "cpus", "conf", "sf"}


def parse_variant(text: str) -> tuple[str, dict]:
    label, sep, spec = text.partition("=")
    if not sep or not label:
        raise argparse.ArgumentTypeError(f"variant {text!r} is not LABEL=JSON")
    v = json.loads(spec or "{}")
    if not isinstance(v, dict) or set(v) - VARIANT_KEYS:
        raise argparse.ArgumentTypeError(f"variant {label}: keys must be among {sorted(VARIANT_KEYS)}")
    return label, v


def trial_order(labels: list[str], trial: int) -> list[str]:
    """The variants of ``trial``, rotated so each leads in turn."""
    k = trial % len(labels)
    return labels[k:] + labels[:k]


def run_child(job: dict) -> dict:
    """One query batch in ``job["root"]``, on ``get_spark`` (child side)."""
    sys.path.insert(0, job["root"])
    from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all
    from acousticbrainz_server_spark.session import get_spark, query_scope

    # perfbench binds after the package, so the package stays the root's
    sys.path.insert(0, REPO)
    from perfbench.measure import cpu_s, steal_s, tree_pids
    from perfbench.oracle import pandas_digest

    _load_all()
    spark = get_spark("ab")
    out = {}
    for name in job["names"]:
        spec = QUERIES[name]
        conf = {**(spec.conf or {}), **job["conf"]}
        rec = {"wall_s": [], "cpu_s": [], "steal_s": [], "digests": []}
        try:
            for i in range(job["runs"] + 1):  # run 0: untimed warm-up
                cpu0, steal0 = cpu_s(tree_pids()), steal_s()
                t0 = time.perf_counter()
                with query_scope(spark, conf) as s:
                    pdf = spec.spark_fn.__wrapped__(s, job["sf"]).toPandas()
                wall = time.perf_counter() - t0
                cpu, steal = cpu_s(tree_pids()) - cpu0, steal_s() - steal0
                spark.catalog.clearCache()
                digest = list(pandas_digest(pdf)[1:])
                if digest not in rec["digests"]:
                    rec["digests"].append(digest)
                if i:
                    rec["wall_s"].append(round(wall, 3))
                    rec["cpu_s"].append(round(cpu, 2))
                    rec["steal_s"].append(round(steal, 2))
        except Exception as e:  # noqa: BLE001 - one failed query must not end the trial
            traceback.print_exc()
            rec = {"error": f"{type(e).__name__}: {str(e)[:300]}"}
        out[name] = rec
    spark.stop()
    return out


def spawn(job: dict, cpus: int | None) -> dict:
    """Run ``job`` in a fresh interpreter; its last stdout line is the result."""
    env = dict(os.environ)
    if cpus:
        env["SPARK_GRAFT_CPUS"] = str(cpus)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", json.dumps(job)],
        stdout=subprocess.PIPE, text=True, env=env,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        err = {"error": f"child exited {proc.returncode} (stderr above)"}
        return {n: err for n in job["names"]}
    return json.loads(lines[-1])


def summarize(records: dict[str, list[dict]], names: list[str]) -> dict:
    """Per query and variant: trial arrays, min wall, median CPU and, against
    the first variant (the base), pair wins and ``outputs_equal``.

    ``records[label][trial][name]`` is a child's record of one query."""
    labels = list(records)
    out = {}
    for name in names:
        q = {}
        for label in labels:
            trials = [r[name] for r in records[label]]
            errors = [t["error"] for t in trials if "error" in t]
            if errors:
                q[label] = {"errors": errors}
                continue
            walls = [t["wall_s"] for t in trials]
            cpus = [t["cpu_s"] for t in trials]
            q[label] = {
                "wall_s": walls,
                "cpu_s": cpus,
                "steal_s": [t["steal_s"] for t in trials],
                "digests": sorted({tuple(d) for t in trials for d in t["digests"]}),
                "min_wall_s": min(min(w) for w in walls),
                "median_cpu_s": round(statistics.median(c for cs in cpus for c in cs), 2),
            }
        base = q[labels[0]]
        for label in labels[1:]:
            v = q[label]
            if "errors" in v or "errors" in base:
                continue
            v["outputs_equal"] = v["digests"] == base["digests"] and len(base["digests"]) == 1
            v["wall_ratio"] = round(v["min_wall_s"] / base["min_wall_s"], 3)
            if not v["outputs_equal"]:
                continue
            med = statistics.median
            v["wall_wins"] = sum(min(w) < min(b) for w, b in zip(v["wall_s"], base["wall_s"]))
            v["cpu_wins"] = sum(med(c) < med(b) for c, b in zip(v["cpu_s"], base["cpu_s"]))
            v["pairs"] = len(base["wall_s"])
        out[name] = q
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--child", help=argparse.SUPPRESS)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--trials", type=int, default=5)
    ap.add_argument("--runs", type=int, default=2, help="timed runs per query and child")
    ap.add_argument("--variant", type=parse_variant, action="append", default=[])
    ap.add_argument("--duck", action="store_true", help="also time the DuckDB oracles")
    ap.add_argument("--out", default="AB.json")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if args.child:
        print(json.dumps(run_child(json.loads(args.child))), flush=True)
        return
    variants = dict(args.variant)
    if len(variants) < 2 or not args.names or args.trials < 1 or args.runs < 1:
        ap.error("need two or more distinct variants, one or more names, --trials and --runs >= 1")

    records: dict[str, list[dict]] = {label: [] for label in variants}
    t_start = time.time()
    for trial in range(args.trials):
        for label in trial_order(list(variants), trial):
            v = variants[label]
            job = {
                "root": os.path.abspath(v.get("root", REPO)),
                "sf": os.path.abspath(v.get("sf", args.sf)),
                "conf": v.get("conf", {}),
                "names": args.names,
                "runs": args.runs,
            }
            records[label].append(spawn(job, v.get("cpus")))
            print(f"trial {trial} {label}: "
                  + ", ".join(f"{n}={r.get('wall_s', r.get('error'))}" for n, r in records[label][-1].items()),
                  file=sys.stderr, flush=True)
    result = {
        "sf": args.sf,
        "trials": args.trials,
        "runs": args.runs,
        "variants": variants,
        "wall_clock_s": round(time.time() - t_start, 1),
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "queries": summarize(records, args.names),
    }
    if args.duck:
        import importlib.util

        spec = importlib.util.spec_from_file_location("bench_ratio", os.path.join(REPO, "tools", "bench_ratio.py"))
        bench_ratio = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(bench_ratio)
        bench_ratio._load_all()
        result["duck_s"] = bench_ratio.duck_times(args.sf, names=set(args.names))
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({n: {lb: {k: v.get(k) for k in ("min_wall_s", "median_cpu_s", "wall_wins", "cpu_wins", "outputs_equal")}
                          for lb, v in q.items()} for n, q in result["queries"].items()}))


if __name__ == "__main__":
    main()
