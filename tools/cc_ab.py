"""Interleaved A/B of the neardup_cluster_assign pair-dedup placement (r13).

Variant A (r12 shape): banding join -> dropDuplicates shuffle -> CC loop's
repartition("a") exchange.
Variant B (r13): banding join raw (multiplicity ~1.8x) -> CC loop's
repartition("a") exchange with the distinct folded in (dedupe_edges=True;
hash(a) satisfies the (a,b) clustering so the aggregate is in-place).

Same-session interleaved trials, min-over-trials estimator (this box shows
±25-40% window swings).  Timed action = toPandas(), matching bench.py.

Usage: python tools/cc_ab.py [--trials 4] [--sf DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from acousticbrainz_server_spark.dedup.components import neardup_clusters
from acousticbrainz_server_spark.dedup.simhash import simhash_neardup_pairs
from acousticbrainz_server_spark.session import get_spark
from acousticbrainz_server_spark.sources.tables import load_table


def run_variant(spark, sf_dir: str, fused: bool) -> float:
    # timer covers CONSTRUCTION too: the component loop's driver-checked
    # fixpoint runs eagerly inside neardup_clusters (per-round .first()
    # actions), exactly as bench.py bills it (spark_fn(...).toPandas())
    t0 = time.time()
    d = load_table(spark, sf_dir, "documents")
    pairs = simhash_neardup_pairs(d, max_hamming=3, dedupe=not fused)
    out = neardup_clusters(d, pairs, id_col="doc_id", dedupe_edges=fused)
    out.toPandas()
    dt = time.time() - t0
    spark.catalog.clearCache()
    return dt


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trials", type=int, default=4)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    spark = get_spark("cc_ab")
    # warm-up both variants once (codegen/JIT not billed)
    run_variant(spark, args.sf, fused=False)
    run_variant(spark, args.sf, fused=True)
    res = {"A_dedup_shuffle": [], "B_fused": []}
    for i in range(args.trials):
        spark.sparkContext.setJobDescription(f"cc_ab A trial {i}")
        res["A_dedup_shuffle"].append(round(run_variant(spark, args.sf, fused=False), 3))
        spark.sparkContext.setJobDescription(f"cc_ab B trial {i}")
        res["B_fused"].append(round(run_variant(spark, args.sf, fused=True), 3))
    out = {
        "sf": args.sf,
        "loadavg": os.getloadavg(),
        "trials": res,
        "min": {k: min(v) for k, v in res.items()},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
