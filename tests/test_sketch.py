"""Sketch operators, bucketed-layout plan shape, and the ngram dense gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from acousticbrainz_server_spark.operators.sketch import heavy_hitters
from tests.conftest import SF_SMOKE


def test_heavy_hitters_exact_on_skewed_stream(spark):
    # zipf-ish skew: item i appears 200//(i+1) times; many partitions so the
    # per-partition Misra-Gries summaries (not a single global dict) do the work
    rows = [(f"item_{i}",) for i in range(60) for _ in range(200 // (i + 1))]
    df = spark.createDataFrame(rows, "item STRING").repartition(8)
    n = len(rows)
    support = 0.02  # threshold = ceil(0.02 * n)
    got = {r["item"]: r["n"] for r in heavy_hitters(df, "item", support).collect()}
    import math

    thr = math.ceil(support * n)
    exact = {}
    for item, in rows:
        exact[item] = exact.get(item, 0) + 1
    want = {k: v for k, v in exact.items() if v >= thr}
    assert got == want
    assert len(want) > 0  # the test actually selects something


def test_heavy_hitters_rejects_bad_support(spark):
    df = spark.createDataFrame([("a",)], "item STRING")
    with pytest.raises(ValueError):
        heavy_hitters(df, "item", 0.0)


def test_bucketed_join_has_no_exchange(spark):
    from acousticbrainz_server_spark.plans.sketch_queries import _bucketed_join
    from acousticbrainz_server_spark.session import query_session

    # at fixture scale Catalyst rightly broadcasts the tiny customer side; the
    # layout proof is for the 100 TB case where BOTH sides are fact-sized, so
    # disable broadcast to surface the bucket-to-bucket sort-merge join
    session = query_session(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"})
    joined = _bucketed_join(session, SF_SMOKE)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the bucketed layout replaces the join shuffle: no Exchange anywhere in
    # the join subplan.  (A per-task Sort remains: Spark no longer propagates
    # bucketed-scan sort order by default — and at 100 TB buckets span many
    # files anyway, so the in-task sort over sorted runs is the honest plan;
    # the Exchange is the cost that matters.)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan, plan


def test_ngram_dense_gate_matches_join_path(spark):
    """Force the dense-matmul gate at fixture scale (the r3 red fired only at
    sf0.01 — exactly where the gate runs and pytest didn't) and assert parity
    with the exact shingle-join path."""
    from acousticbrainz_server_spark.dedup import ngram
    from acousticbrainz_server_spark.functions.text import word_bigrams
    from acousticbrainz_server_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    sh = docs.select(
        F.col("doc_id").alias("doc"), F.explode(word_bigrams(F.col("text"))).alias("s")
    )
    dims = sh.agg(F.countDistinct("s").alias("v"), F.countDistinct("doc").alias("n")).first()
    assert dims["v"] <= ngram.MAX_DENSE_VOCAB, "fixture no longer triggers the dense gate"

    dense = ngram._jaccard_dense_matmul(sh.persist(), threshold=0.4)
    join = ngram._jaccard_shingle_join(sh, threshold=0.4, max_doc_freq=None)
    key = lambda r: (r["doc_a"], r["doc_b"])  # noqa: E731
    d = {key(r): round(r["jaccard"], 9) for r in dense.collect()}
    j = {key(r): round(r["jaccard"], 9) for r in join.collect()}
    assert d == j
    assert len(d) > 0


def _write_events_fixture(tmp_path, unit: str) -> str:
    """A tiny events.parquet with ts physically stored as micros or nanos."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    us = [1_700_000_000_000_000 + i * 3_600_000_000 for i in range(48)]
    tbl = pa.table(
        {
            "event_id": pa.array(range(48), pa.int64()),
            "ts": pa.array(
                [u * 1000 for u in us] if unit == "ns" else us, pa.timestamp(unit)
            ),
            "user_id": pa.array([i % 5 for i in range(48)], pa.int64()),
            "event_type": pa.array(["click"] * 48),
            "value": pa.array([float(i) for i in range(48)]),
            "props": pa.array(["{}"] * 48),
        }
    )
    d = tmp_path / f"events_{unit}"
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet", version="2.6", coerce_timestamps=None)
    return str(d)


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_ts_generations_batch_and_stream(spark, tmp_path, unit):
    """Both testdata generations (TIMESTAMP_US and TIMESTAMP_NANOS) normalize
    to the same TimestampType values through BOTH the batch reader and the
    streaming reader — the r3 regression was these two paths diverging."""
    from acousticbrainz_server_spark.sources.tables import (
        events_ts_is_nanos,
        load_events_stream,
        load_table,
    )

    d = _write_events_fixture(tmp_path, unit)
    assert events_ts_is_nanos(f"{d}/events.parquet") == (unit == "ns")

    batch = load_table(spark, d, "events")
    assert dict(batch.dtypes)["ts"] == "timestamp"
    got = [r["ts"].isoformat() for r in batch.select("ts").orderBy("event_id").collect()]
    assert got[0] == "2023-11-14T22:13:20"
    assert got[1] == "2023-11-14T23:13:20"

    sink = f"ts_gen_sink_{unit}"
    q = (
        load_events_stream(spark, d)
        .groupBy("event_type")
        .agg(F.min("ts").alias("first_ts"), F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    row = spark.table(sink).collect()[0]
    assert row["n"] == 48
    assert row["first_ts"].isoformat() == "2023-11-14T22:13:20"


def test_morton_spread_matches_bitwise_reference():
    """Cross-engine hash equality can't catch a semantically wrong spread
    (both engines would compute the same wrong key) — pin the magic-number
    cascade to a bit-by-bit reference."""
    import duckdb

    from acousticbrainz_server_spark.plans.sketch_queries import _spread_sql

    def py_spread(x: int) -> int:
        x &= (1 << 21) - 1
        out = 0
        for i in range(21):
            out |= ((x >> i) & 1) << (2 * i)
        return out

    con = duckdb.connect()
    for v in [0, 1, 2, 3, 5, 1000, 123456, 2097151]:
        got = con.execute(f"SELECT {_spread_sql(str(v))}").fetchone()[0]
        assert got == py_spread(v), f"spread({v}): {got} != {py_spread(v)}"
    a, b = 1234, 567
    got = con.execute(f"SELECT {_spread_sql(str(a))} | ({_spread_sql(str(b))} << 1)").fetchone()[0]
    assert got == py_spread(a) | (py_spread(b) << 1)


def test_hll_union_mergeable_rolling_actives(spark):
    # the approximate path for rolling_active_users: per-day HLL sketches,
    # unioned over each trailing 7-day window — sketch MERGEABILITY is the
    # scale property (no fan-out of raw user ids at all).  Estimates must
    # land within the sketch's error band of the exact rolling distinct.
    from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all
    from acousticbrainz_server_spark.sources.tables import load_table

    _load_all()
    exact = {
        str(r["day"]): r["active_users_7d"]
        for r in QUERIES["rolling_active_users"].spark_fn(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    daily = (
        ev.select(F.to_date("ts").alias("d"), "user_id")
        .groupBy("d")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    fan = daily.select(
        F.explode(F.sequence(F.col("d"), F.date_add("d", 6), F.expr("interval 1 day"))).alias("rd"),
        "sk",
    )
    days = daily.select(F.col("d").alias("rd"))
    est = (
        fan.join(F.broadcast(days), "rd")
        .groupBy("rd")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx"))
    )
    got = {str(r["rd"]): r["approx"] for r in est.collect()}
    assert set(got) == set(exact)
    for day, ex in exact.items():
        assert abs(got[day] - ex) <= max(3, 0.05 * ex), (day, got[day], ex)
