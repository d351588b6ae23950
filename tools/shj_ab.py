"""AQE SMJ->SHJ rewrite A/B at sf1 (r12 verdict item 4).

r12 measured `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64m`
NEUTRAL at sf0.1 — post-AQE partitions there are tiny and the surviving
SortMergeJoins sort almost nothing.  This re-measures at sf1
(.scale/sf1full), where the exploded/unknown-size sides are real, with
same-session interleaved trials (the conf is an AQE runtime conf, settable
per trial) and captures each query's runtime (isFinalPlan=true) join nodes
under both settings so adoption is tied to an actual plan rewrite AND a
bench delta.

Usage: python tools/shj_ab.py [--trials 2] [--sf DIR] [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all
from acousticbrainz_server_spark.session import get_spark, query_scope

DEFAULT_NAMES = ["cdc_chunk_dedup", "neardup_cluster_assign", "ngram_jaccard_neardup"]
CONF = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"


def join_nodes(df) -> dict[str, int]:
    p = df._jdf.queryExecution().executedPlan().toString()
    return {
        "SortMergeJoin": len(re.findall(r"SortMergeJoin", p)),
        "ShuffledHashJoin": len(re.findall(r"ShuffledHashJoin", p)),
        "BroadcastHashJoin": len(re.findall(r"BroadcastHashJoin", p)),
    }


def run_once(spark, name: str, sf: str, setting: str) -> tuple[float, dict]:
    # the registered spark_fn runs on a child session that never sees a
    # conf set on ``spark``; run the query body on a child carrying CONF
    spec = QUERIES[name]
    spark.sparkContext.setJobDescription(f"shj_ab {name} {setting}")
    t0 = time.time()
    with query_scope(spark, {**(spec.conf or {}), CONF: setting}) as session:
        df = spec.spark_fn.__wrapped__(session, sf)
        df.toPandas()
    dt = time.time() - t0
    nodes = join_nodes(df)
    spark.catalog.clearCache()
    return dt, nodes


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--sf", default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "sf1full"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or DEFAULT_NAMES
    _load_all()
    spark = get_spark("shj_ab")
    out = {"sf": args.sf, "conf": CONF, "queries": {}}
    for name in names:
        run_once(spark, name, args.sf, "0b")  # warm-up, off
        rec = {"off": [], "on": [], "nodes_off": None, "nodes_on": None}
        for _ in range(args.trials):
            dt, nodes = run_once(spark, name, args.sf, "0b")
            rec["off"].append(round(dt, 2)); rec["nodes_off"] = nodes
            dt, nodes = run_once(spark, name, args.sf, "67108864b")
            rec["on"].append(round(dt, 2)); rec["nodes_on"] = nodes
        rec["min_off"] = min(rec["off"]); rec["min_on"] = min(rec["on"])
        out["queries"][name] = rec
        print(json.dumps({name: rec}), flush=True)
    out["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
