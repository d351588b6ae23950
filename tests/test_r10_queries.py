"""Round-10 certification tests.

1. AQE skew-join path (r9 verdict #5): the engine's manual hot/cold planner
   (functions/skew.py) is plan-asserted elsewhere; this file certifies
   Spark's OWN runtime skew handling — force the sort-merge regime with
   lowered thresholds over skew_join_adaptive's 75%-hot-key fact, assert the
   executed plan carries skew=true split partitions, and assert the results
   are bit-identical to the default-regime (broadcast) run.
2. A pandas recompute of skew_join_adaptive's semantics (the unknown-bucket
   left join the hash gate certifies only end-to-end).
"""

from __future__ import annotations

import pandas as pd

from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all
from acousticbrainz_server_spark.plans.relational import skew_join_adaptive
from acousticbrainz_server_spark.session import query_session
from tests.conftest import SF_CORRECT

_load_all()

_SKEW_CONFS = {
    # force the shuffle-join regime (both the static and the AQE-runtime
    # broadcast decisions must be off, or AQE re-plans the SMJ away)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    # scale the skew thresholds to sf0.01 bytes (defaults are 256 MB /
    # 64 MB — production-sized; the MECHANISM is what's under test)
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
    # keep AQE's coalescer from merging the small partitions into one
    # before skew detection compares sizes
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1024",
}

# AQE splits a skewed reduce partition at MAP-OUTPUT granularity (a split is
# a contiguous range of mapper ids), so a single-row-group sf0.01 parquet —
# one real mapper — is unsplittable no matter the thresholds.  Production
# tables are always multi-file; the test materializes that shape.
_SKEW_N_FACT_FILES = 16


def _multifile_sf(spark, tmp_path) -> str:
    sf = str(tmp_path / "sf_multifile")
    for table, n in (("lineitem", _SKEW_N_FACT_FILES), ("orders", 4)):
        (
            spark.read.parquet(f"{SF_CORRECT}/{table}.parquet")
            .repartition(n)
            .write.mode("overwrite")
            .parquet(f"{sf}/{table}.parquet")
        )
    return sf


def test_skew_join_adaptive_aqe_splits_hot_partition(spark, tmp_path):
    """Under the forced-SMJ regime, AQE must (a) mark the join skew=true —
    i.e. actually split the 75%-hot post-shuffle partition instead of
    handing one task the whole key — and (b) leave the answer unchanged."""
    sf = _multifile_sf(spark, tmp_path)

    # default regime (AQE broadcasts)
    baseline = QUERIES["skew_join_adaptive"].spark_fn(spark, sf).toPandas()

    df = skew_join_adaptive(query_session(spark, _SKEW_CONFS), sf)
    got = df.toPandas()  # execute first: AQE finalizes the plan lazily
    plan = df._jdf.queryExecution().executedPlan().toString()

    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin" in plan, plan[:2000]
    assert "skew=true" in plan, plan[:2000]
    # same rows either way: counts exact; revenue is a float sum whose add
    # order legitimately differs between the broadcast and split-SMJ plans
    assert list(got["priority"]) == list(baseline["priority"])
    assert list(got["n_items"]) == list(baseline["n_items"])
    for a, b in zip(got["revenue"], baseline["revenue"]):
        assert abs(a - b) <= 0.02


def test_skew_join_adaptive_matches_pandas(spark):
    out = QUERIES["skew_join_adaptive"].spark_fn(spark, SF_CORRECT).toPandas()
    li = pd.read_parquet(f"{SF_CORRECT}/lineitem.parquet")
    od = pd.read_parquet(f"{SF_CORRECT}/orders.parquet")
    fk = li["l_orderkey"].where(li["l_orderkey"] % 4 == 0, 0)
    fact = pd.DataFrame(
        {"order_fk": fk, "rev": li["l_extendedprice"] * (1 - li["l_discount"])}
    )
    j = fact.merge(
        od[["o_orderkey", "o_orderpriority"]],
        left_on="order_fk",
        right_on="o_orderkey",
        how="left",
    )
    j["priority"] = j["o_orderpriority"].fillna("UNKNOWN")
    expect = j.groupby("priority").agg(n_items=("rev", "size"), revenue=("rev", "sum"))
    # the hot key really is hot: the unknown bucket holds ~3/4 of the fact
    assert (fact["order_fk"] == 0).mean() > 0.7
    got = dict(zip(out["priority"], out["n_items"]))
    assert got == {k: int(v) for k, v in expect["n_items"].items()}
    for p, rev in zip(out["priority"], out["revenue"]):
        assert abs(rev - expect.loc[p, "revenue"]) < 0.5 + 1e-6 * abs(rev)
    assert list(out["priority"]) == sorted(out["priority"])


def test_runtime_bloom_filter_join_pruning(spark):
    """Spark's runtime Bloom-filter join pruning — the OPTIMIZER's automatic
    twin of the registered bloom_semi_join: with a selective dim filter and
    a non-broadcast join, the optimizer builds a bloom filter from the dim
    side (bloom_filter_agg) and injects BloomFilterMightContain into the
    fact side, so most fact rows die BEFORE the shuffle — at 100 TB this is
    the difference between shuffling the full fact and shuffling the ~few
    percent that can match.  Certifies injection + unchanged results."""
    from pyspark.sql import functions as F

    def q(session):
        li = (
            session.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
            .select("l_orderkey", "l_quantity")
        )
        od = (
            session.read.parquet(f"{SF_CORRECT}/orders.parquet")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        return (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("l_quantity").cast("long").alias("qty"),
            )
        )

    baseline = q(spark).collect()

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # scale the size gates to sf0.01 (defaults are 10 MB / 10 GB):
        # the INJECTION mechanism is what's under test
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # broadcast joins get DPP/broadcast reuse instead — force shuffle
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    df = q(query_session(spark, confs))
    got = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()

    assert "bloom_filter_agg" in plan, plan[:1500]
    assert "BloomFilterMightContain" in plan or "bloomFilter" in plan
    assert got == baseline
