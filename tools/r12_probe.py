"""Round-12 optimization probe: per-query plan capture + isolated timing.

Usage:
  python tools/r12_probe.py --explain OUTDIR [--suffix _before] name [name ...]
  python tools/r12_probe.py --time [--reps 3] [--noop] name [name ...]

Uses the SAME session factory as bench.py (get_spark) so plans and timings
match what the driver measures.  --noop times the computation through the
noop sink (guide §1.4) instead of bench.py's toPandas action, isolating the
plan cost from driver materialization; --time without --noop reproduces the
bench action exactly.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all
from acousticbrainz_server_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain", metavar="OUTDIR", help="write <name><suffix>.txt explain('formatted') per query")
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--time", action="store_true")
    ap.add_argument("--noop", action="store_true", help="time via noop sink instead of toPandas")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    _load_all()
    names = args.names
    if names == ["ALL"]:
        names = sorted(QUERIES)
    spark = get_spark("r12_probe")
    # same warm-up as bench.py
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).count()
    n_workers = spark.sparkContext.defaultParallelism
    spark.range(n_workers).repartition(n_workers).mapInPandas(lambda it: it, "id LONG").count()

    for name in names:
        spec = QUERIES[name]
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = spec.spark_fn(spark, args.sf)
            txt = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.explain, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(txt)
            print(f"explained {name}", flush=True)
        if args.time:
            spark.sparkContext.setJobDescription(f"r12probe:{name}")
            times = []
            for i in range(args.reps + 1):  # first run = warm-up/cold
                t0 = time.perf_counter()
                df = spec.spark_fn(spark, args.sf)
                if args.noop:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.toPandas()
                dt = time.perf_counter() - t0
                if i > 0:
                    times.append(dt)
                spark.catalog.clearCache()
            print(f"{name}: min={min(times):.3f} med={sorted(times)[len(times)//2]:.3f} all={[round(t,3) for t in times]}", flush=True)
            spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
