"""Pluggable Python stream sink overhead A/B at sf1 (r12 verdict item 6).

streaming_python_sink_rollup certifies a Python DataSourceStreamWriter whose
per-batch two-phase commit (temp files -> part renames -> atomic manifest,
fsync ladder) upgrades replay delivery to exactly-once-per-batch.  Its bench
wall has sat in the >2x-vs-oracle tail since r10 with the standing
explanation "the durability machinery IS the query".  This tool puts a
number on that claim: the SAME backlog through (a) the Python sink path the
query uses, vs (b) the native-writer equivalent a production job would reach
for when it does NOT need the pluggable sink — foreachBatch + Spark's own
JSON writer with its task-commit protocol, same availableNow trigger, same
checkpoint discipline, same read-back rollup.

Interleaved same-session trials, min-over-trials.  The delta is the price of
(Python worker boundary + per-row JSON encode in Python + fsync ladder +
manifest commit) over the JVM writer — recorded as a SCALE.md rule, NOT a
code change: the crash-point/durability tests stay meaningful.

Usage: python tools/sink_ab.py [--trials 3] [--sf DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from acousticbrainz_server_spark.functions.scalar import round_half_up
from acousticbrainz_server_spark.session import fresh_run_dir, get_spark


def rollup(df):
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
        round_half_up(F.sum("value"), 4).alias("sum_value"),
    )


def run_pysink(spark, sf_dir: str):
    from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all

    _load_all()
    t0 = time.time()
    df = QUERIES["streaming_python_sink_rollup"].spark_fn(spark, sf_dir)
    rows = df.toPandas()
    return time.time() - t0, rows


def run_native(spark, sf_dir: str):
    from acousticbrainz_server_spark.plans.streaming_queries import (
        _ttb_build_src,
        _ttb_stream,
    )

    t0 = time.time()
    base, src_dir = _ttb_build_src(spark, sf_dir)
    run = fresh_run_dir(base, "fbsink")
    out, ckpt = os.path.join(run, "out"), os.path.join(run, "ckpt")

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").json(out)

    q = (
        _ttb_stream(spark, src_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sunk = spark.read.schema(
        "event_id long, user_id long, event_type string, value double"
    ).json(out)
    rows = rollup(sunk).toPandas()
    return time.time() - t0, rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--sf", default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "sf1full"))
    args = ap.parse_args()
    spark = get_spark("sink_ab")
    # warm both (source scratch build + codegen excluded from trials)
    _, r_py = run_pysink(spark, args.sf)
    _, r_nat = run_native(spark, args.sf)
    same = sorted(map(tuple, r_py.values.tolist())) == sorted(map(tuple, r_nat.values.tolist()))
    res = {"pysink": [], "native_foreachbatch": []}
    for _ in range(args.trials):
        dt, _ = run_pysink(spark, args.sf)
        res["pysink"].append(round(dt, 2))
        dt, _ = run_native(spark, args.sf)
        res["native_foreachbatch"].append(round(dt, 2))
    out = {
        "sf": args.sf,
        "rollups_identical": bool(same),
        "trials": res,
        "min": {k: min(v) for k, v in res.items()},
        "overhead_x": round(min(res["pysink"]) / min(res["native_foreachbatch"]), 2),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
