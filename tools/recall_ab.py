"""A/B minhash_recall_eval's TRUTH-side shingle-array build (r13 follow-up).

The pred side (minhash_neardup_pairs) already uses the O(L·k) let-binding
shingle build; the exact-truth side still builds its distinct shingle array
with ``transform(sequence(1, L-4), i -> substring(text, i, 5))`` — O(i) per
element (UTF8String char-offset scan) = O(L²) per doc, inside an interpreted
HOF.  Candidate: the same let-binding build char_shingle_stream adopted
(split once, k element_at lookups per shingle), wrapped in array_distinct.

Method: equality gate (collected report equal), then interleaved min-over-N
full-query toPandas trials in one session.  Writes RECALLAB.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from acousticbrainz_server_spark.functions.scalar import round_half_up  # noqa: E402
from acousticbrainz_server_spark.functions.text import repartition_if_narrow  # noqa: E402
from acousticbrainz_server_spark.plans.dedup_queries import (  # noqa: E402
    _MH_EVAL_MOD,
    _MH_EVAL_T,
)
from acousticbrainz_server_spark.plans.domain import load_table  # noqa: E402
from acousticbrainz_server_spark.session import get_spark  # noqa: E402

OLD_ARR = (
    "transform(sequence(1, greatest(length(text) - 4, 1)), i -> substring(text, i, 5))"
)
_PARTS = ", ".join(f"element_at(cs, least(_i + {j}, size(cs)))" for j in range(5))
NEW_ARR = (
    "element_at(transform(array(split(text, '')), "
    "cs -> transform(sequence(1, greatest(size(cs) - 4, 1)), "
    f"_i -> CASE WHEN size(cs) >= 5 THEN concat({_PARTS}) "
    "ELSE substring(text, 1, 5) END)), 1)"
)


def _query(spark, sf_dir: str, new: bool):
    from acousticbrainz_server_spark.dedup.minhash import minhash_neardup_pairs

    d = repartition_if_narrow(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % _MH_EVAL_MOD == 0)
    )
    arr = NEW_ARR if new else OLD_ARR
    sh = (
        d.select(
            F.col("doc_id").alias("doc"),
            F.explode(F.array_distinct(F.expr(arr))).alias("s"),
        )
        .select("doc", F.xxhash64("s").alias("s"))
        .localCheckpoint(eager=False)
    )
    sz = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc").alias("doc_a"), "s")
    b = sh.select(F.col("doc").alias("doc_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    truth = (
        inter.join(sz.select(F.col("doc").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sz.select(F.col("doc").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .filter(
            F.col("ni") * F.lit(1.0) / (F.col("na") + F.col("nb") - F.col("ni"))
            >= _MH_EVAL_T
        )
        .select("doc_a", "doc_b")
    )
    cand = (
        minhash_neardup_pairs(d, n_hashes=8, n_bands=4)
        .filter(F.col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_pred = cand.agg(F.count(F.lit(1)).alias("n_pred"))
    n_hit = truth.join(cand, ["doc_a", "doc_b"]).agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_true.crossJoin(F.broadcast(n_pred))
        .crossJoin(F.broadcast(n_hit))
        .select(
            F.col("n_true").cast("long").alias("n_true"),
            F.col("n_pred").cast("long").alias("n_pred"),
            F.col("n_hit").cast("long").alias("n_hit"),
            round_half_up(
                F.col("n_hit") * F.lit(1.0) / F.nullif(F.col("n_pred"), F.lit(0)), 4
            ).alias("precision"),
            round_half_up(
                F.col("n_hit") * F.lit(1.0) / F.nullif(F.col("n_true"), F.lit(0)), 4
            ).alias("recall"),
        )
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = get_spark("recall_ab")
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    eq = _query(spark, sf_dir, False).toPandas().equals(_query(spark, sf_dir, True).toPandas())
    print("EQUAL:", eq, flush=True)
    t: dict[str, list[float]] = {"old": [], "new": []}
    for i in range(trials):
        for k, new in [("old", False), ("new", True)]:
            t0 = time.perf_counter()
            _query(spark, sf_dir, new).toPandas()
            t[k].append(round(time.perf_counter() - t0, 3))
        print(f"trial {i}: old={t['old'][-1]} new={t['new'][-1]}", flush=True)
        spark.catalog.clearCache()
    out = {
        "sf_dir": sf_dir,
        "equal": bool(eq),
        "times": t,
        "mins": {k: min(v) for k, v in t.items()},
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    with open(os.path.join(REPO, "RECALLAB.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out["mins"]))
    spark.stop()


if __name__ == "__main__":
    main()
