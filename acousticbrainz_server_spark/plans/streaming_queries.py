"""Streaming queries under the batch oracle gate (SURVEY.md §2.11).

The Dataflow-model promise — a streaming aggregation over a bounded input
must equal the batch query over the same input — is checkable: run a REAL
Structured Streaming job (file source → watermark → tumbling window →
memory sink) with ``trigger(availableNow=True)`` to completion inside the
query function, then hand the sink table to the driver's DuckDB comparison.
This puts the engine's streaming semantics (A8's daily rollup as a stream)
under the same value-hash gate as every batch operator.

Scale: availableNow processes the backlog in rate-limited micro-batches and
stops — the reference's 30 s polling daemons (hl_calc.py:227-231) with
exactly-once bookkeeping.  The watermark bounds window state; on an unbounded
run the same plan emits each day's row once the watermark passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import round_half_up, sql_round_half_up
from ..session import build_once, fresh_run_dir, scratch_dir
from ..sources.tables import load_events_stream, load_table, local_frame
from .registry import query

_SINK = "streaming_daily_counts_sink"

# State-store partition count for the bounded gate/bench streams, declared
# by every query in this module.  The shuffle-partition conf is BAKED into
# a stream's state layout at first start; every stateful operator then
# opens one state-store instance per partition per micro-batch, and with
# trivial per-partition data that fixed cost dominates (measured at sf0.1:
# the stream-stream interval join drops 5.7-7.9 s -> ~2.7 s going 32 -> 8
# partitions; r12's loaded-box A/B said 4 beats 8 everywhere, and 2 loses
# parallelism back).  r13 re-settled 8 vs 4 at local[32] on a QUIET box
# (r12 verdict item 1, STREAMAB.json: interleaved min-over-3 trials per
# setting): family totals 46.4 s (4) vs 45.3 s (8) — a tie inside the
# noise band; 8 wins the stream-stream joins by 0.2-0.7 s, 4 wins the small
# single-operator streams by 0.05-0.2 s.  AQE does not apply to stateful
# stages, so this is the one partitioning that must be chosen ahead of
# time.  (The former max(4, cores//8) derivation gave 4 on every box
# measured: 4, 8 and 32 cores.)
STREAM_CONF = {"spark.sql.shuffle.partitions": "4"}


@query(
    "streaming_daily_counts",
    conf=STREAM_CONF,
    family="§2.11,A8,P9",
    doc="A8's daily rollup as a genuine Structured Streaming job: file-source "
    "stream over events.parquet → 1-day watermark → tumbling 1-day window × "
    "event_type counts → memory sink, run to completion with "
    "trigger(availableNow).  The oracle is the plain batch GROUP BY — the "
    "hash match proves stream/batch consistency.",
    oracle="""
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events
        FROM events GROUP BY CAST(ts AS DATE), event_type
    """,
)
def streaming_daily_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # footer-probed nanos/micros normalization shared with the batch reader
    ev = load_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.to_date("w.start").alias("day"), "event_type", "n_events")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(_SINK)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(_SINK)


_OFFSET_SINK = "streaming_offsets_sink"


@query(
    "streaming_offsets_stateful",
    conf=STREAM_CONF,
    family="§2.11,W1,A4",
    doc="W1 offset assignment as the CUSTOM STATEFUL streaming operator "
    "(applyInPandasWithState, streaming/ingest_stream.py): per-user counter "
    "state carried across micro-batches assigns dense arrival offsets, run "
    "to completion over the bounded stream and hash-compared against the "
    "batch row_number window — the stateful path must agree with the batch "
    "semantics it replaces (db/data.py:273-288).",
    oracle="""
        SELECT event_id, user_id,
               CAST(row_number() OVER (
                 PARTITION BY user_id
                 ORDER BY epoch_ns(ts) // 1000, event_id) - 1 AS INTEGER) AS submission_offset
        FROM events
    """,
)
def streaming_offsets_stateful_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest_stream import assign_offsets_stateful

    ev = load_events_stream(spark, sf_dir)
    assigned = assign_offsets_stateful(ev, key_col="user_id", order_col=["ts", "event_id"])
    q = (
        assigned.writeStream.format("memory")
        .queryName(_OFFSET_SINK)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(_OFFSET_SINK).select("event_id", "user_id", "submission_offset")


_SESSION_SINK = "streaming_sessions_sink"
_GAP_US = 30 * 60 * 1_000_000


@query(
    "streaming_sessionize",
    conf=STREAM_CONF,
    family="§2.11,W1,A8",
    doc="Gap sessionization as a REAL streaming session_window job "
    "(state = open sessions, bounded by the watermark), run to completion "
    "with availableNow and hash-compared against the batch gap-window SQL — "
    "session_window's end is last_event+gap, so the query maps it back to "
    "the last-event timestamp the batch form emits.  Boundary semantics "
    "(batch: new session iff gap > 30 min; stream: merge iff gap < 30 min) "
    "agree because no exact-gap tie exists in any sf (checked 0.001-0.1).",
    oracle=f"""
        WITH o AS (
          SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, value,
                 CASE WHEN epoch_ns(ts) // 1000
                           - lag(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000)
                           > {_GAP_US} OR
                           lag(ts) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000) IS NULL
                      THEN 1 ELSE 0 END AS is_new
          FROM events
        ),
        s AS (
          SELECT user_id, ts_us, value,
                 sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM o
        )
        SELECT user_id,
               min(ts_us) AS session_start_us,
               max(ts_us) AS session_end_us,
               count(*) AS n_events,
               floor(sum(value) * 10000.0 + 0.5) / 10000.0 AS total_value
        FROM s GROUP BY user_id, session_idx
    """,
)
def streaming_sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window(F.col("ts"), "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("_tv"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(_SESSION_SINK)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(_SESSION_SINK)
    return out.select(
        "user_id",
        F.unix_micros(F.col("sw.start")).alias("session_start_us"),
        (F.unix_micros(F.col("sw.end")) - F.lit(_GAP_US)).alias("session_end_us"),
        "n_events",
        (F.floor(F.col("_tv") * 10000.0 + F.lit(0.5)) / 10000.0).alias("total_value"),
    )


_DEDUP_SINK = "streaming_dedup_sink"


@query(
    "streaming_dedup_distinct",
    conf=STREAM_CONF,
    family="§2.11,E1,E2",
    doc="Streaming exact dedup as a REAL dropDuplicates stream over the "
    "bounded events replay (streaming/ingest_stream.py:84's pattern): the "
    "stream is projected to the dedup key BEFORE dropDuplicates, so which "
    "arrival wins is immaterial and the sink equals the batch DISTINCT — "
    "hash-proving the streaming dedup state machine against the batch "
    "semantics.  State is O(distinct keys); when keys only repeat within a "
    "time horizon, dropDuplicatesWithinWatermark bounds it by the watermark "
    "instead (the 100 TB default).",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events_stream(spark, sf_dir)
    dd = (
        ev.select("ts", "user_id", "event_type")
        .withWatermark("ts", "1 day")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    q = (
        dd.writeStream.format("memory")
        .queryName(_DEDUP_SINK)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(_DEDUP_SINK)


_DEDUP_WM_SINK = "streaming_dedup_wm_sink"


@query(
    "streaming_dedup_within_watermark",
    conf=STREAM_CONF,
    family="§2.11,E1,E2",
    doc="The BOUNDED-STATE streaming dedup — dropDuplicatesWithinWatermark, "
    "the form a 100 TB stream actually runs: plain dropDuplicates keeps one "
    "state row per distinct key FOREVER (state is O(all keys ever seen)); "
    "WithinWatermark evicts a key's state once the watermark passes its "
    "event time, so state is O(keys per horizon) — the operator trades "
    "'exactly-once dedup over all time' for 'exactly-once within the "
    "horizon', which is the right contract when duplicates only arrive "
    "within a bounded delay (retries, at-least-once producers).  Here the "
    "horizon spans the whole replay, so the sink provably equals the batch "
    "DISTINCT (the oracle); the EVICTION half of the contract — a key "
    "recurring BEYOND the horizon is re-emitted because its state is gone "
    "— is certified batch-by-batch in tests/test_streaming.py "
    "(test_dedup_within_watermark_evicts_and_reemits).  Spark 4.1.2.",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_within_watermark_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events_stream(spark, sf_dir)
    dd = (
        ev.select("ts", "user_id", "event_type")
        .withWatermark("ts", "3650 days")  # horizon > replay span: no eviction
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    q = (
        dd.writeStream.format("memory")
        .queryName(_DEDUP_WM_SINK)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(_DEDUP_WM_SINK)


_JOIN_SINK = "streaming_join_sink"


@query(
    "streaming_interval_join",
    conf=STREAM_CONF,
    family="§2.11,J1,P9",
    doc="Stream-stream interval join (purchase attribution): two watermarked "
    "event streams joined on user_id with a 1-hour event-time constraint "
    "(click within the hour BEFORE the purchase) — Structured Streaming's "
    "state-bounded two-sided join, run to completion with availableNow and "
    "hash-compared against the batch interval join.  The time constraint + "
    "watermarks are what let the engine EVICT join state at 100 TB: each "
    "side buffers only rows inside the watermark horizon, vs an unbounded "
    "buffer without them.",
    oracle="""
        SELECT a.event_id AS purchase_id, b.event_id AS click_id, a.user_id,
               epoch_ns(a.ts) // 1000 AS p_ts_us, epoch_ns(b.ts) // 1000 AS c_ts_us
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'purchase' AND b.event_type = 'click'
         AND b.ts BETWEEN a.ts - INTERVAL 1 HOUR AND a.ts
    """,
)
def streaming_interval_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr("p_user = c_user AND c_ts BETWEEN p_ts - interval 1 hour AND p_ts"),
        "inner",
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.unix_micros("p_ts").alias("p_ts_us"),
        F.unix_micros("c_ts").alias("c_ts_us"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(_JOIN_SINK)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(_JOIN_SINK)


_ENRICH_SINK = "streaming_enrich_sink"


@query(
    "streaming_enrich_dim",
    conf=STREAM_CONF,
    family="§2.11,J3",
    doc="Stream-static enrichment: the events stream left-joins a broadcast "
    "customer dimension per micro-batch (streaming/ingest_stream.py:90) — "
    "stateless, no stream-side shuffle, and the dim is re-resolved each "
    "batch so slowly-changing dimensions pick up updates mid-stream.  The "
    "contrast case to streaming_interval_join's stateful buffering; "
    "hash-equal to the batch left join.",
    oracle="""
        SELECT e.event_id, e.user_id, c.c_mktsegment
        FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def streaming_enrich_dim_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table
    from ..streaming.ingest_stream import streaming_enrich

    ev = load_events_stream(spark, sf_dir).select(
        "event_id", F.col("user_id").alias("c_custkey"), F.col("user_id")
    )
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    out = streaming_enrich(ev, dim, on="c_custkey", how="left").select(
        "event_id", "user_id", "c_mktsegment"
    )
    q = (
        out.writeStream.format("memory")
        .queryName(_ENRICH_SINK)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(_ENRICH_SINK)


# --------------------------------------------------------------------------------------
# §2.11 + E3/V7 — foreachBatch incremental upsert (the production sink pattern)
# --------------------------------------------------------------------------------------
@query(
    "streaming_upsert_foreachbatch",
    conf=STREAM_CONF,
    family="§2.11,E3,V7",
    doc="The foreachBatch MERGE sink — the production pattern for the "
    "reference's eval-results/feedback upserts (db/dataset_eval.py set_job_result "
    "semantics) on a stream: events pre-split into 4 files, streamed with "
    "maxFilesPerTrigger=1 so FOUR real micro-batches each merge into a "
    "persisted latest-row-per-user table (read current + union batch + "
    "window top-1 + atomic swap — the non-Delta upsert).  The final table "
    "must equal the batch latest-per-user query regardless of batch order, "
    "which is what the hash certifies.",
    oracle="""
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type
        FROM (
          SELECT user_id, event_id, ts, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) WHERE rn = 1
    """,
)
def streaming_upsert_foreachbatch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from pyspark.sql import Window

    base = scratch_dir("upsert", os.path.abspath(sf_dir))
    # the (ts-normalized) events pre-split into 4 files => 4 micro-batches;
    # content-stable, so reused across runs in this process
    src_dir = build_once(
        os.path.join(base, "src"),
        lambda tmp: load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "event_type")
        .repartition(4)
        .write.parquet(tmp),
    )
    # fresh state every run (the merge is idempotent over the same input,
    # but a clean slate keeps the run self-describing)
    run = fresh_run_dir(base, "run")
    state_dir = os.path.join(run, "state")
    schema = spark.read.parquet(src_dir).schema

    def upsert(batch_df, batch_id):
        # MERGE: current state + batch -> latest per user; write-then-swap so
        # the read side never sees a half-written table.  This is the
        # portable non-Delta upsert; with a Delta/Iceberg sink this body is
        # one MERGE INTO statement.
        s = batch_df.sparkSession
        merged = batch_df
        if os.path.exists(state_dir):
            merged = s.read.parquet(state_dir).unionByName(batch_df)
        w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        latest = merged.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        nxt = os.path.join(run, "state_next")
        latest.write.mode("overwrite").parquet(nxt)
        shutil.rmtree(state_dir, ignore_errors=True)
        os.rename(nxt, state_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(state_dir).select(
        "user_id", "event_id", F.unix_millis("ts").alias("ts_ms"), "event_type"
    )


_SLIDING_SINK = "streaming_sliding_counts_sink"


@query(
    "streaming_sliding_counts",
    conf=STREAM_CONF,
    family="§2.11,A8,P9",
    doc="SLIDING-window stream aggregation: 2-day windows sliding by 1 day "
    "over the event stream (each event lands in two windows), 1-day "
    "watermark, availableNow to completion — the overlapping-window variant "
    "of streaming_daily_counts (trend smoothing / rate-over-window alerts). "
    "The batch oracle materializes the two windows per event explicitly; "
    "the hash match proves the stream's window assignment and state "
    "eviction agree with the Dataflow-model batch semantics.",
    oracle="""
        WITH e AS (SELECT CAST(ts AS DATE) AS d, event_type FROM events),
        x AS (
          SELECT unnest([d - 1, d]) AS window_start, event_type FROM e
        )
        SELECT window_start, event_type, count(*) AS n_events
        FROM x GROUP BY window_start, event_type
    """,
)
def streaming_sliding_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.to_date("w.start").alias("window_start"), "event_type", "n_events")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(_SLIDING_SINK)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(_SLIDING_SINK)



_LOJ_SINK = "streaming_left_join_sink"


@query(
    "streaming_interval_join_left",
    conf=STREAM_CONF,
    family="§2.11,J3,P9",
    doc="Stream-stream LEFT OUTER interval join — the completion of the "
    "stream-join matrix: matched purchase-click pairs emit immediately; "
    "UNMATCHED purchases emit with null click only when the join state "
    "evicts them: the final watermark is max event time - 1h (the "
    "declared delay), and the symmetric state store retains a left row "
    "for the join-window extent (another 1h) beyond its own timestamp — "
    "so every purchase older than max_ts - 2h is GUARANTEED evicted and "
    "null-emitted, while the (max-2h, max-1h) band depends on where the "
    "file source drew micro-batch boundaries (observed: emitted at one "
    "sf, retained at another).  The certified output therefore keeps all "
    "matched rows and the unmatched rows in the deterministic region "
    "(p_ts < max_ts - 2h), post-filtering the batch-layout-dependent "
    "band on both sides — the eviction semantics are still exercised "
    "(null rows exist only because state eviction ran), without gating "
    "on micro-batch placement.",
    oracle="""
        WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        m AS (SELECT max(ts) AS mx FROM events)
        SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
               epoch_ns(p.ts) // 1000 AS p_ts_us, epoch_ns(c.ts) // 1000 AS c_ts_us
        FROM p LEFT JOIN c
          ON p.user_id = c.user_id
         AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
        CROSS JOIN m
        WHERE c.event_id IS NOT NULL OR p.ts < m.mx - INTERVAL 2 HOUR
    """,
)
def streaming_interval_join_left_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr("p_user = c_user AND c_ts BETWEEN p_ts - interval 1 hour AND p_ts"),
        "leftOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.unix_micros("p_ts").alias("p_ts_us"),
        F.unix_micros("c_ts").alias("c_ts_us"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(_LOJ_SINK)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # deterministic-region filter (see doc): unmatched rows are certified
    # only below max_ts - 2h; the scalar max comes from the batch reader
    max_us = load_table(spark, sf_dir, "events").agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    out = spark.table(_LOJ_SINK)
    return out.filter(
        F.col("click_id").isNotNull() | (F.col("p_ts_us") < F.lit(max_us - 7_200_000_000))
    )


# --------------------------------------------------------------------------------------
# §2.11 + SRC — the custom Python streaming source under the oracle gate
# --------------------------------------------------------------------------------------
_PYSRC_N = 5000
_PYSRC_BATCH = 1000
_PYSRC_SINK = "streaming_pysource_sink"


@query(
    "streaming_python_source_rollup",
    conf=STREAM_CONF,
    family="§2.11,SRC",
    doc=f"The custom Python data source's STREAMING face (Spark 4 "
    "SimpleDataSourceStreamReader) under the value gate: the deterministic "
    f"{_PYSRC_N}-row feed arrives in offset-tracked {_PYSRC_BATCH}-row "
    "micro-batches, lands in a memory sink in append mode, and the rollup "
    "runs over the drained sink.  The oracle reproduces the whole feed "
    "from range() — certifying offset progression and row content across "
    "micro-batch boundaries, not just the final aggregate.  The stream "
    "stops once the sink holds the full feed (the simple-reader prefetch "
    "wrapper snapshots only one batch under availableNow, so bounded "
    "completion polls the sink).",
    oracle=f"""
        WITH r AS (SELECT unnest(range(0, {_PYSRC_N})) AS i),
        g AS (
          SELECT i AS event_id,
                 (i * 2654435761) % 997 AS user_id,
                 ['view','click','purchase','signup','error'][CAST((i * 7) % 5 AS INTEGER) + 1] AS event_type,
                 CAST((i * 1103515245 + 12345) % 2147483648 AS DOUBLE) / 2147483648 AS value
          FROM r
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(min(event_id) AS BIGINT) AS first_id,
               CAST(max(event_id) AS BIGINT) AS last_id,
               floor(sum(value) * 10000 + 0.5) / 10000 AS sum_value
        FROM g GROUP BY event_type
    """,
)
def streaming_python_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time

    from ..sources.pydatasource import register_synth_source

    register_synth_source(spark)
    q = (
        spark.readStream.format("synthevents")
        .option("n", _PYSRC_N)
        .option("batch", _PYSRC_BATCH)
        .load()
        .writeStream.format("memory")
        .queryName(_PYSRC_SINK)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table(_PYSRC_SINK).count() >= _PYSRC_N:
                break
            time.sleep(0.1)
    finally:
        q.stop()
        q.awaitTermination(60)
    sink = spark.table(_PYSRC_SINK)
    return sink.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.min("event_id").cast("long").alias("first_id"),
        F.max("event_id").cast("long").alias("last_id"),
        round_half_up(F.sum("value"), 4).alias("sum_value"),
    )


# --------------------------------------------------------------------------------------
# §2.11 composed flagship — incremental corpus build: stream -> gate -> dedup -> pack
# --------------------------------------------------------------------------------------
_SIC_QUALITY_MIN = 0.5   # same gate threshold as corpus_build_pipeline
_SIC_PACK_BUDGET = 1024  # tokens per pack, same policy as pack_training_batches
_SIC_BATCHES = 4


def _sic_oracle() -> str:
    from ..functions.scalar import sql_round_half_up
    from ..functions.text import sql_quality_score

    q = sql_quality_score("text")
    return f"""
        WITH gated AS (
          SELECT doc_id, source, text,
                 CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
          FROM documents
          WHERE lang = 'en' AND {sql_round_half_up(q, 4)} >= {_SIC_QUALITY_MIN}
        ),
        ded AS (
          SELECT sha256(text) AS digest, min(doc_id) AS doc_id,
                 CAST(count(*) AS BIGINT) AS n_copies
          FROM gated GROUP BY sha256(text)
        ),
        win AS (
          SELECT d.doc_id, g.source, g.n_tokens, d.n_copies
          FROM ded d JOIN gated g ON g.doc_id = d.doc_id
        )
        SELECT doc_id, source, n_tokens, n_copies,
               CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n_tokens) / {_SIC_PACK_BUDGET}) AS INTEGER) AS pack_id
        FROM win
    """


def _sic_merge_fn(state_dir: str, on_batch_applied=None):
    """foreachBatch body for the incremental-corpus MERGE, reusable by the
    registered query (fresh state per invocation) and by the restart
    certification tests (pinned checkpoint + kill + resume).

    ``on_batch_applied(batch_id)`` fires after a batch's state swap commits
    (never on a replay-skip) — the restart tests use it to kill the stream
    deterministically mid-backlog instead of racing a progress poll.

    IDEMPOTENT UNDER REPLAY: foreachBatch with a non-transactional sink is
    at-least-once — a crash between the state swap and the checkpoint's
    offset commit replays that batch on restart.  The state records the
    last applied batch_id (``_LAST_BATCH``, written into the staging dir
    BEFORE its atomic rename, so the committed state's marker is always
    complete); a replayed batch_id is skipped, upgrading the merge to
    effectively-once — the txnVersion pattern a Delta MERGE sink applies
    internally.  Batch ids are monotone per checkpoint, including across
    restarts, which is exactly the scope of the guard.

    CRASH-SAFE SWAP: the state advances by rename-aside (state -> _old,
    _next -> state, drop _old), never by delete-then-rename — at every
    instant either the old or the new state exists as a complete renamed
    directory.  ``_recover`` runs at each batch entry: a crash between the
    two renames leaves state missing with a COMPLETE _next (its marker was
    written pre-rename) -> finish the roll; an interrupted staging write
    (no marker in _next) -> discard _next and fall back to _old if the
    first rename already happened.  With a Delta/Iceberg sink all of this
    is the table format's commit protocol.
    """
    import os
    import shutil

    from ..functions.text import quality_score, token_count

    marker = os.path.join(state_dir, "_LAST_BATCH")
    nxt = state_dir + "_next"
    old = state_dir + "_old"

    def _last_batch() -> int:
        """Committed batch id, or -1.  An unparsable marker is treated as
        absent (re-apply) rather than wedging the stream.  The marker is
        fsynced (file + dir) before the commit rename, so losing its
        contents requires corruption beyond the crash model; if it ever
        happens, re-apply can double-count the replayed batch's n_copies —
        the deliberate availability-over-exactness choice for a state
        that is fully re-derivable from the source backlog (rebuild =
        fresh checkpoint), versus wedging the stream unrecoverably."""
        try:
            return int(open(marker).read())
        except (OSError, ValueError):
            return -1

    def _recover():
        if os.path.exists(state_dir):
            shutil.rmtree(old, ignore_errors=True)
            return
        if os.path.exists(os.path.join(nxt, "_LAST_BATCH")):
            # staging completed (marker precedes the rename): finish the roll
            os.rename(nxt, state_dir)
            shutil.rmtree(old, ignore_errors=True)
        elif os.path.exists(old):
            # staging was torn: roll back to the previous committed state
            shutil.rmtree(nxt, ignore_errors=True)
            os.rename(old, state_dir)

    def merge(batch_df, batch_id):
        _recover()
        # replay guard: batch already folded into the committed state
        if _last_batch() >= batch_id:
            return
        # stateless gate + hash, then MERGE into the dedup state with a
        # commutative monoid: min(struct) picks the globally-lowest doc_id
        # (struct comparison is field-order lexicographic), counts add.
        # Write-then-swap keeps the read side atomic — with a Delta/Iceberg
        # sink this body is one MERGE INTO.
        s = batch_df.sparkSession
        gated = (
            batch_df.filter(
                (F.col("lang") == "en")
                & (round_half_up(quality_score(F.col("text")), 4) >= _SIC_QUALITY_MIN)
            )
            .select(
                F.sha2(F.col("text"), 256).alias("digest"),
                F.struct(
                    F.col("doc_id"),
                    F.col("source"),
                    token_count(F.col("text")).cast("long").alias("n_tokens"),
                ).alias("w"),
            )
        )
        batch_state = gated.groupBy("digest").agg(
            F.min("w").alias("w"), F.count(F.lit(1)).cast("long").alias("n_copies")
        )
        merged = batch_state
        if os.path.exists(state_dir):
            merged = (
                s.read.parquet(state_dir)
                .unionByName(batch_state)
                .groupBy("digest")
                .agg(F.min("w").alias("w"), F.sum("n_copies").cast("long").alias("n_copies"))
            )
        merged.write.mode("overwrite").parquet(nxt)
        # fsync the parquet part files Spark wrote into _next BEFORE the
        # marker: the marker asserts "this staging dir is complete", so the
        # data blocks it vouches for must be durable first — otherwise the
        # same OS-crash model can persist the committed rename + marker
        # while losing the part files' data blocks (truncated committed
        # state).  O(files in one small state dir), not O(state bytes
        # rewritten) — the kernel only flushes dirty pages.
        for entry in os.listdir(nxt):
            fp = os.path.join(nxt, entry)
            if os.path.isfile(fp):
                ffd = os.open(fp, os.O_RDONLY)
                try:
                    os.fsync(ffd)
                finally:
                    os.close(ffd)
        # marker goes INTO the staging dir before any rename (underscore
        # prefix: parquet readers ignore it as metadata) — completeness of
        # _next is therefore exactly "its marker exists".  fsync the marker
        # AND the staging dir before the rename so an OS crash cannot
        # persist the rename while losing the marker's data blocks (the
        # empty-marker -> parse -1 -> silent re-apply hazard).
        with open(os.path.join(nxt, "_LAST_BATCH"), "w") as f:
            f.write(str(batch_id))
            f.flush()
            os.fsync(f.fileno())
        dfd = os.open(nxt, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        # rename-aside swap: old and new both survive any single crash point
        if os.path.exists(state_dir):
            os.rename(state_dir, old)
        os.rename(nxt, state_dir)
        # make the renames themselves durable: fsync the PARENT directory
        # (all three paths are siblings, one fsync covers both renames).
        # Without this an OS crash can roll back the rename while Spark's
        # later checkpoint offset commit survives — the batch would then
        # never replay and its rows would be silently absent from the
        # state: the inverse ordering of the marker hazard closed above.
        pfd = os.open(os.path.dirname(os.path.abspath(state_dir)) or ".", os.O_RDONLY)
        try:
            os.fsync(pfd)
        finally:
            os.close(pfd)
        shutil.rmtree(old, ignore_errors=True)
        if on_batch_applied is not None:
            on_batch_applied(batch_id)

    return merge


def _sic_start_stream(spark: SparkSession, src_dir: str, state_dir: str, ckpt: str, on_batch_applied=None):
    """One availableNow pass over the file backlog, one file per micro-batch,
    MERGEing into ``state_dir``; resumes from ``ckpt``'s offset log."""
    schema = spark.read.parquet(src_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(_sic_merge_fn(state_dir, on_batch_applied=on_batch_applied))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def _sic_pack(spark: SparkSession, state_dir: str) -> DataFrame:
    """Final per-source sequential token packing over the merged state."""
    from pyspark.sql import Window

    st = spark.read.parquet(state_dir).select(
        F.col("w.doc_id").alias("doc_id"),
        F.col("w.source").alias("source"),
        F.col("w.n_tokens").alias("n_tokens"),
        "n_copies",
    )
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prefix_excl = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return st.select(
        "doc_id",
        "source",
        "n_tokens",
        "n_copies",
        F.floor(prefix_excl / _SIC_PACK_BUDGET).cast("int").alias("pack_id"),
    )

@query(
    "streaming_incremental_corpus",
    conf=STREAM_CONF,
    family="§2.11,TXT,DEDUP,E2,QUALITY",
    doc="The incremental corpus-build pipeline END-TO-END as one checkpointed "
    "streaming job — the composed flagship chaining the certified pieces: "
    "documents pre-split into 4 files stream with maxFilesPerTrigger=1 (four "
    "real micro-batches); each batch passes the stateless quality gate "
    "(lang='en' AND rounded quality_score >= 0.5), content-hashes, and "
    "foreachBatch-MERGEs into a persisted dedup state keyed by sha256(text) "
    "with the monoid (min(struct(doc_id, source, n_tokens)), sum(n_copies)) "
    "— associative and commutative, so the final state is independent of "
    "batch order and equals the batch dedup.  After the backlog drains, the "
    "kept set packs per source shard by the sequential token-budget policy "
    "(pack_training_batches).  The hash match against the pure-batch oracle "
    "certifies the whole incremental path: gate, merge, and pack.",
    oracle=_sic_oracle(),
)
def streaming_incremental_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    base = scratch_dir("inc_corpus", os.path.abspath(sf_dir))
    src_dir = build_once(
        os.path.join(base, "src"),
        lambda tmp: load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "lang", "text")
        .repartition(_SIC_BATCHES)
        .write.parquet(tmp),
    )
    # fresh state and checkpoint per invocation: each run replays the whole
    # bounded backlog (the gate recomputes from scratch); the PINNED-
    # checkpoint production path — kill mid-backlog, restart, resume
    # from the offset log with the state carried — is certified by
    # tests/test_streaming.py::test_incremental_corpus_restart_*
    run = fresh_run_dir(base, "run")
    state_dir = os.path.join(run, "state")
    q = _sic_start_stream(spark, src_dir, state_dir, os.path.join(run, "ckpt"))
    q.awaitTermination()

    return _sic_pack(spark, state_dir)


# --------------------------------------------------------------------------------------
# §2.11 depth — watermark late-data audit: drop + holdback accounting under append mode
# --------------------------------------------------------------------------------------
_WMA_DELAY_US = 2 * 86_400_000_000   # 2-day watermark
_WMA_RECENT_US = 5 * 86_400_000_000  # the last 5 days arrive in the final file
_WMA_SINK = "streaming_watermark_audit_sink"


def _write_mtime_ordered(df: DataFrame, preds: list, dst: str) -> None:
    """Write ``df.filter(pred)`` for each ``pred`` as ONE parquet file
    ``f<i>.parquet`` in the new directory ``dst``, with ascending mtimes:
    mtime IS the stream order, so a ``maxFilesPerTrigger=1`` stream reads
    file i as micro-batch i."""
    import os
    import shutil
    import time

    os.makedirs(dst)
    now = time.time()
    for i, pred in enumerate(preds):
        tmp = os.path.join(dst, f"_tmp_f{i}")
        df.filter(pred).repartition(1).write.parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        out = os.path.join(dst, f"f{i}.parquet")
        os.rename(os.path.join(tmp, part), out)
        shutil.rmtree(tmp)
        os.utime(out, (now - 100 + i * 10, now - 100 + i * 10))


def _wma_build_src(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the 4-file mtime-ordered watermark-audit backlog (shared
    by the append- and update-mode audits): f0 bulk on-time (event_id%7!=0),
    f1 on-time spacer (%7==0), f2 the 10% late sample, f3 the final
    ``_WMA_RECENT_US`` days.  Built once per sf_dir and process."""
    import os

    def build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type"
        )
        max_ts = ev.agg(F.max("ts")).collect()[0][0]  # scalar probe, not a data pull
        cut = F.lit(max_ts) - F.expr(f"INTERVAL {_WMA_RECENT_US // 86_400_000_000} DAYS")
        recent = F.col("ts") > cut
        late = (F.col("event_id") % 10 == 0) & ~recent
        on_time = ~late & ~recent
        spacer = F.col("event_id") % 7 == 0
        _write_mtime_ordered(ev, [on_time & ~spacer, on_time & spacer, late, recent], tmp)

    base = scratch_dir("wm_audit", os.path.abspath(sf_dir))
    return base, build_once(os.path.join(base, "src"), build)


def _wma_windowed_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """The audit's streaming aggregation: one file per micro-batch through a
    ``_WMA_DELAY_US`` watermark into daily x event_type counts."""
    import os

    schema = spark.read.parquet(os.path.join(src_dir, "f0.parquet")).schema
    days = _WMA_DELAY_US // 86_400_000_000
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "f*.parquet")
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", f"{days} days")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.to_date("w.start").alias("day"), "event_type", "n_events")
    )


def _wma_oracle() -> str:
    d, r = _WMA_DELAY_US, _WMA_RECENT_US
    return f"""
        WITH e AS (
          SELECT event_id, event_type, epoch_ns(ts) // 1000 AS us, CAST(ts AS DATE) AS day
          FROM events
        ),
        mx AS (SELECT max(us) AS max_us FROM e),
        cls AS (
          SELECT e.*,
                 CASE WHEN us > max_us - {r} THEN 'recent'
                      WHEN event_id % 10 = 0 THEN 'late'
                      ELSE 'ontime' END AS cls
          FROM e CROSS JOIN mx
        ),
        f0 AS (SELECT * FROM cls WHERE cls = 'ontime' AND event_id % 7 <> 0),
        latewm AS (SELECT max(us) - {d} AS wm FROM f0),
        kept AS (
          SELECT day, event_type FROM cls WHERE cls IN ('ontime', 'recent')
          UNION ALL
          SELECT day, event_type FROM cls CROSS JOIN latewm
          WHERE cls = 'late' AND epoch_us(CAST(day AS TIMESTAMP)) + 86400000000 > wm
        )
        SELECT day, event_type, count(*) AS n_events
        FROM kept CROSS JOIN mx
        WHERE epoch_us(CAST(day AS TIMESTAMP)) + 86400000000 <= max_us - {d}
        GROUP BY day, event_type
    """


@query(
    "streaming_watermark_audit",
    conf=STREAM_CONF,
    family="§2.11,P9,A8",
    doc="Late-data semantics under append mode, CERTIFIED: events split into "
    "4 mtime-ordered files (bulk on-time; spacer; a 10% late sample; the "
    "final 5 days) stream one file per micro-batch through a 2-day "
    "watermark and daily windows.  The oracle encodes Spark's exact "
    "two-watermark contract, established empirically (SCALE.md r8): the "
    "LATE-EVENT filter at batch k uses the watermark from data through "
    "batch k-2 (so the late file is filtered against max(f0) - 2d), "
    "EVICTION at batch k uses data through k-1, and availableNow fires a "
    "final no-data batch that flushes every window closed by the last "
    "file's clock (end <= max(all) - 2d) while HOLDING BACK newer windows. "
    " The hash match proves all three: dropped late rows absent, kept "
    "late rows counted, unfinalized windows absent.  CONTRACT VERSION: the "
    "two-watermark lag and mtime-ordered maxFilesPerTrigger=1 pickup were "
    "established on Spark 4.1.2 — if this gate goes red after a Spark "
    "upgrade with no code change, diagnose as a CONTRACT CHANGE (re-derive "
    "the lag constants per SCALE.md r8), not a regression.",
    oracle=_wma_oracle(),
)
def streaming_watermark_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wma_run_audit(spark, sf_dir, _WMA_SINK)


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_STATE_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_CHANGELOG_CONF = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"


def _wma_run_audit(spark: SparkSession, sf_dir: str, sink: str) -> DataFrame:
    """Shared body of the append-mode watermark audits; the state store
    backend is whatever the session's conf names."""
    base, src_dir = _wma_build_src(spark, sf_dir)
    agg = _wma_windowed_stream(spark, src_dir)
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", fresh_run_dir(base, f"ckpt-{sink}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


@query(
    "streaming_watermark_audit_rocksdb",
    conf={**STREAM_CONF, _STATE_PROVIDER_CONF: _ROCKSDB_PROVIDER},
    family="§2.11,P9,A8",
    doc="The append-mode watermark audit re-run on the RocksDBStateStore "
    "provider — the state backend a 100 TB stateful job actually needs: "
    "HDFSBackedStateStore keeps every window's state in executor HEAP (a "
    "hard ceiling when keys x windows outgrow memory); RocksDB keeps it "
    "on local SSD with block-cache reads and changelog/snapshot uploads "
    "to the checkpoint, so state size is bounded by disk, not heap.  Same "
    "source backlog, same two-watermark oracle as "
    "streaming_watermark_audit: a hash match proves the late-data "
    "contract is BACKEND-INDEPENDENT — eviction, late filtering and the "
    "final availableNow flush behave identically when the window counts "
    "live in RocksDB.  The pinned-checkpoint kill-and-resume on this "
    "provider is certified in tests/test_streaming.py "
    "(test_windowed_aggregation_restart_rocksdb).  Established on Spark "
    "4.1.2 / rocksdbjni 9.8.4.",
    oracle=_wma_oracle(),
)
def streaming_watermark_audit_rocksdb_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wma_run_audit(spark, sf_dir, _WMA_SINK + "_rocksdb")


# --------------------------------------------------------------------------------------
# §2.11 depth — UPDATE-mode emission accounting over the same 4-file backlog
# --------------------------------------------------------------------------------------


def _wmu_oracle() -> str:
    d, r = _WMA_DELAY_US, _WMA_RECENT_US
    return f"""
        WITH e AS (
          SELECT event_id, event_type, epoch_ns(ts) // 1000 AS us, CAST(ts AS DATE) AS day
          FROM events
        ),
        mx AS (SELECT max(us) AS max_us FROM e),
        fls AS (
          SELECT e.*,
                 CASE WHEN us > max_us - {r} THEN 3
                      WHEN event_id % 10 = 0 THEN 2
                      WHEN event_id % 7 <> 0 THEN 0
                      ELSE 1 END AS k
          FROM e CROSS JOIN mx
        ),
        -- late filter at batch k uses the watermark from data through k-2:
        -- k=2 sees wm(f0); k=3 sees wm(f0 UNION f1); k<=1 sees none
        wm2 AS (SELECT max(us) - {d} AS wm FROM fls WHERE k = 0),
        wm3 AS (SELECT max(us) - {d} AS wm FROM fls WHERE k <= 1),
        kept AS (
          SELECT day, event_type, k FROM fls WHERE k <= 1
          UNION ALL
          SELECT day, event_type, k FROM fls CROSS JOIN wm2
          WHERE k = 2 AND epoch_us(CAST(day AS TIMESTAMP)) + 86400000000 > wm
          UNION ALL
          SELECT day, event_type, k FROM fls CROSS JOIN wm3
          WHERE k = 3 AND epoch_us(CAST(day AS TIMESTAMP)) + 86400000000 > wm
        ),
        touched AS (SELECT DISTINCT k, day, event_type FROM kept)
        SELECT CAST(t.k AS INTEGER) AS batch_id, t.day, t.event_type,
               CAST(count(*) AS BIGINT) AS n_events
        FROM touched t
        JOIN kept s ON s.day = t.day AND s.event_type = t.event_type AND s.k <= t.k
        GROUP BY t.k, t.day, t.event_type
    """


@query(
    "streaming_watermark_update_audit",
    conf=STREAM_CONF,
    family="§2.11,P9,A8",
    doc="UPDATE-mode emission accounting over the SAME 4-file backlog as the "
    "append-mode audit — the other half of the late-data contract.  Each "
    "micro-batch emits exactly the (day, event_type) windows its kept rows "
    "TOUCH, carrying the new CUMULATIVE count; untouched windows are not "
    "re-emitted, the final no-data batch emits nothing (no flush in update "
    "mode), and the late filter applies the same k-2 watermark lag as "
    "append mode (established by minimal repro, Spark 4.1.2 — SCALE.md r9). "
    " The one-batch lag between the late filter and eviction makes "
    "post-eviction state re-creation IMPOSSIBLE (any row for an evicted "
    "window is always late-filtered: evict_wm(j) <= late_wm(k) for all "
    "j < k), so cumulative counts are simply running kept-row totals — the "
    "oracle encodes that proof.  batch_id is part of the output: the "
    "per-batch emission schedule is the certified contract, not just the "
    "final counts.",
    oracle=_wmu_oracle(),
)
def streaming_watermark_update_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    base, src_dir = _wma_build_src(spark, sf_dir)
    run = fresh_run_dir(base, "upd")
    out_dir = os.path.join(run, "out")
    agg = _wma_windowed_stream(spark, src_dir)

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(int(batch_id)).cast("int")).write.mode(
            "append"
        ).parquet(out_dir)

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(run, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select(
        "batch_id", "day", "event_type", F.col("n_events").cast("long").alias("n_events")
    )


# --------------------------------------------------------------------------------------
# §2.11 ops — state store introspection: query the checkpoint itself (Spark 4)
# --------------------------------------------------------------------------------------
_SSRC_SINK = "streaming_state_introspect_sink"


@query(
    "streaming_state_introspection",
    conf=STREAM_CONF,
    family="§2.11,A2",
    doc="Spark 4's State Data Source as a first-class operator: run a "
    "stateful per-event_type count stream to completion (update mode, no "
    "watermark — keyed state persists), then read the CHECKPOINT'S STATE "
    "STORE back as a DataFrame (format 'statestore') and return it.  The "
    "oracle is the plain batch GROUP BY — a hash match proves the state "
    "rows the checkpoint actually holds ARE the aggregate (key struct + "
    "internal 'count' buffer field exposed as columns).  This is the ops "
    "tool a production stream needs: inspect/debug/audit a live job's "
    "state without touching the job — at 100 TB it is also the escape "
    "hatch for state surgery (read state -> fix -> bootstrap a new "
    "checkpoint).  Spark 4.1.2; the state source reads the latest "
    "committed snapshot per partition.",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
    """,
)
def streaming_state_introspection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    ev = load_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    # each invocation reads only its own checkpoint
    ckpt = fresh_run_dir(scratch_dir("state_introspect", os.path.abspath(sf_dir)), "ckpt")
    q = (
        agg.writeStream.format("memory")
        .queryName(_SSRC_SINK)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n_events"),
    )


# --------------------------------------------------------------------------------------
# §2.11 depth (r11) — state time-travel, change feed, in-flight telemetry, Python sink
# --------------------------------------------------------------------------------------
_TTB_BATCHES = 4


def _ttb_build_src(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the 4-file mtime-ordered batch-deterministic backlog the
    r11 streaming-depth family shares: file k holds exactly the events with
    ``event_id % 4 == k``, so micro-batch k's content is a pure predicate a
    SQL oracle can reconstruct (``GROUP BY event_id % 4``) — the same trick
    ``_wma_build_src`` uses with mtime as the stream order.  Built once per
    process and (sf_dir, source-content fingerprint) — the fingerprint
    (mtime+size of every file under the events table path) is part of the
    scratch key, so a testdata dir regenerated while the process runs
    rebuilds instead of silently feeding stale batches (ADVICE r11)."""
    import hashlib
    import os

    ev_path = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    fp = hashlib.md5()
    if os.path.isdir(ev_path):
        for name in sorted(os.listdir(ev_path)):
            st = os.stat(os.path.join(ev_path, name))
            fp.update(f"{name}:{st.st_size}:{st.st_mtime_ns};".encode())
    elif os.path.exists(ev_path):
        st = os.stat(ev_path)
        fp.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    base = scratch_dir("ttbatch", os.path.abspath(sf_dir), fp.hexdigest())
    src_dir = build_once(
        os.path.join(base, "src"),
        lambda tmp: _write_mtime_ordered(
            load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value"),
            [F.col("event_id") % _TTB_BATCHES == k for k in range(_TTB_BATCHES)],
            tmp,
        ),
    )
    return base, src_dir


def _ttb_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    import os

    schema = spark.read.parquet(os.path.join(src_dir, "f0.parquet")).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "f*.parquet")
        .parquet(src_dir)
    )


def _ttb_run_count_stream(spark: SparkSession, sf_dir: str, sink_name: str) -> str:
    """Run the per-event_type counting aggregation over the 4-batch backlog
    to completion (update mode) and return the checkpoint path — the state
    the time-travel and change-feed readers then query."""
    base, src_dir = _ttb_build_src(spark, sf_dir)
    ckpt = fresh_run_dir(base, f"ckpt-{sink_name}")
    agg = _ttb_stream(spark, src_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ckpt


def _ttb_delta_cte() -> str:
    return f"""
        delta AS (
          SELECT event_type, CAST(event_id % {_TTB_BATCHES} AS INT) AS b,
                 count(*) AS d
          FROM events GROUP BY 1, 2
        )"""


@query(
    "streaming_state_timetravel",
    conf=STREAM_CONF,
    family="§2.11,A2",
    doc="State Data Source TIME-TRAVEL (r10 verdict #3): after running the "
    "per-event_type counting stream over the 4-batch mtime-ordered backlog "
    "(batch k = events with event_id%4==k), read the checkpoint's state "
    "AS-OF EVERY BATCH k via format('statestore').option('batchId', k) and "
    "return the union tagged with as_of_batch.  The oracle derives each "
    "as-of state from the same predicate — the prefix aggregate over "
    "batches 0..k — so the hash match proves state-as-of-batch-k equals "
    "the batch-k prefix aggregate for all k, not just the final snapshot "
    "(the r10 introspection query's claim, strengthened to the whole "
    "history).  At 100 TB this is the state-debugging primitive: pin any "
    "micro-batch's exact state without replaying the stream.  Spark 4.1.2; "
    "versions readable while the checkpoint retains delta files "
    "(minBatchesToRetain, default 100).",
    oracle=f"""
        WITH {_ttb_delta_cte()},
        ks AS (SELECT range AS k FROM range({_TTB_BATCHES}))
        SELECT CAST(ks.k AS INT) AS as_of_batch, delta.event_type,
               CAST(sum(delta.d) AS BIGINT) AS n_events
        FROM ks JOIN delta ON delta.b <= ks.k
        GROUP BY ks.k, delta.event_type
    """,
)
def streaming_state_timetravel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    ckpt = _ttb_run_count_stream(spark, sf_dir, "streaming_state_tt_sink")
    per_batch = [
        spark.read.format("statestore")
        .option("batchId", k)
        .load(ckpt)
        .select(
            F.lit(k).cast("int").alias("as_of_batch"),
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("long").alias("n_events"),
        )
        for k in range(_TTB_BATCHES)
    ]
    return reduce(lambda a, b: a.unionByName(b), per_batch)


@query(
    "streaming_state_changefeed",
    conf=STREAM_CONF,
    family="§2.11,A2",
    doc="State Data Source CHANGE FEED (r10 verdict #3): read the per-batch "
    "state-store deltas of the counting stream via "
    "option('readChangeFeed', true).option('changeStartBatchId', 0) — one "
    "'update' row per (batch, key updated in that batch) carrying the "
    "post-batch cumulative count.  The oracle reconstructs the feed from "
    "the batch predicate: for each key and each batch k the key appears "
    "in, the cumulative count over batches <= k.  The hash match certifies "
    "the change-feed contract end-to-end: which keys a batch touched AND "
    "the value each write installed.  This is the CDC view of operator "
    "state — at 100 TB the cheap way to audit what a batch did to state "
    "without diffing two full snapshots.  Spark 4.1.2.",
    oracle=f"""
        WITH {_ttb_delta_cte()}
        SELECT CAST(d.b AS INT) AS batch_id, 'update' AS change_type,
               d.event_type, CAST(sum(d2.d) AS BIGINT) AS n_events
        FROM delta d JOIN delta d2
          ON d2.event_type = d.event_type AND d2.b <= d.b
        GROUP BY d.b, d.event_type
    """,
)
def streaming_state_changefeed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ckpt = _ttb_run_count_stream(spark, sf_dir, "streaming_state_cf_sink")
    feed = (
        spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", 0)
        .load(ckpt)
    )
    return feed.select(
        F.col("batch_id").cast("int").alias("batch_id"),
        F.col("change_type"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n_events"),
    )


@query(
    "streaming_observe_metrics",
    conf=STREAM_CONF,
    family="§2.11,A8",
    doc="Observation API ON A STREAM (r10 verdict #4): df.observe() attaches "
    "named aggregates to the streaming plan itself; every micro-batch then "
    "reports (n_rows, min/max event_id, sum value) through "
    "StreamingQueryProgress.observedMetrics — in-flight telemetry computed "
    "WHERE THE DATA FLOWS, no second scan, no sink coupling (the sink here "
    "is noop).  The query returns the per-batch observed metrics as rows; "
    "the oracle recomputes them from the batch predicate (event_id%4), so "
    "the hash match proves the telemetry equals the data — the monitoring "
    "contract a production pipeline alerts on.  At 100 TB this replaces "
    "count()-after-the-fact audit jobs: the numbers are free byproducts of "
    "the stream's own pass.",
    oracle=f"""
        SELECT CAST(event_id % {_TTB_BATCHES} AS INT) AS batch_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               min(event_id) AS min_id, max(event_id) AS max_id,
               {sql_round_half_up('sum(value)', 4)} AS sum_value
        FROM events GROUP BY 1
    """,
)
def streaming_observe_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    base, src_dir = _ttb_build_src(spark, sf_dir)
    ckpt = fresh_run_dir(base, "ckpt-obs")
    observed = _ttb_stream(spark, src_dir).observe(
        "batch_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.sum("value").alias("sum_value"),
    )
    q = (
        observed.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = []
    for p in q.recentProgress:
        prog = p if isinstance(p, dict) else None
        if prog is None:  # pyspark may hand back progress objects
            import json as _json

            prog = _json.loads(p.json)
        m = (prog.get("observedMetrics") or {}).get("batch_metrics")
        if m is None:
            continue
        vals = m.asDict() if hasattr(m, "asDict") else dict(m)
        if not vals.get("n_rows"):
            continue  # trailing empty batch: no data, nothing to audit
        rows.append(
            (
                int(prog["batchId"]),
                int(vals["n_rows"]),
                int(vals["min_id"]),
                int(vals["max_id"]),
                float(vals["sum_value"]),
            )
        )
    schema = StructType(
        [
            StructField("batch_id", IntegerType()),
            StructField("n_rows", LongType()),
            StructField("min_id", LongType()),
            StructField("max_id", LongType()),
            StructField("sum_value_raw", DoubleType()),
        ]
    )
    # the handful of progress rows is driver-resident by API design
    # (observedMetrics live in StreamingQueryProgress); rounding happens in
    # Spark so both engines apply the identical half-up formula
    return local_frame(spark, rows, schema).select(
        "batch_id",
        "n_rows",
        "min_id",
        "max_id",
        round_half_up(F.col("sum_value_raw"), 4).alias("sum_value"),
    )


@query(
    "streaming_python_sink_rollup",
    conf=STREAM_CONF,
    family="§2.11,S1",
    doc="Python Data Source STREAM WRITER end-to-end (r10 verdict #5, the "
    "write-side twin of r8's python_datasource_scan): the 4-batch events "
    "backlog streams through format('jsonlines_py') — a pluggable "
    "DataSourceStreamWriter whose per-batch two-phase commit (temp files "
    "-> part renames -> atomic per-batch manifest) upgrades replay "
    "delivery to exactly-once-per-batch (kill/resume certified at both "
    "crash points by tests/test_streaming.py).  The committed view (union "
    "of manifest-listed files only) is read back and rolled up; the oracle "
    "is the same rollup over the source table, so the hash match proves "
    "no batch was lost, doubled, or torn on the way through the sink.  "
    "sources/pydatasource.py:JsonLinesStreamWriter.",
    oracle=f"""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               min(event_id) AS first_id, max(event_id) AS last_id,
               {sql_round_half_up('sum(value)', 4)} AS sum_value
        FROM events GROUP BY event_type
    """,
)
def streaming_python_sink_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.pydatasource import (
        committed_stream_sink_files,
        register_jsonlines_sink,
    )

    register_jsonlines_sink(spark)
    base, src_dir = _ttb_build_src(spark, sf_dir)
    run = fresh_run_dir(base, "pysink")
    out, ckpt = os.path.join(run, "out"), os.path.join(run, "ckpt")
    q = (
        _ttb_stream(spark, src_dir)
        .writeStream.format("jsonlines_py")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    committed = committed_stream_sink_files(out)
    sunk = spark.read.schema(
        "event_id long, user_id long, event_type string, value double"
    ).json(committed)
    return sunk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
        round_half_up(F.sum("value"), 4).alias("sum_value"),
    )


@query(
    "streaming_state_join_introspection",
    conf=STREAM_CONF,
    family="§2.11,J1",
    doc="State Data Source on JOIN state: after running the stream-stream "
    "purchase<-click interval join to completion, read BOTH sides' buffered "
    "state back via format('statestore').option('joinSide', 'left'/'right') "
    "— the per-side keyWithIndexToValue stores exposed as DataFrames with "
    "the full buffered row in `value`.  The join runs with a deliberately "
    "inert watermark (4000h > the data span) so NOTHING is evicted and the "
    "expected buffer is exact: every purchase on the left, every click on "
    "the right — the oracle is that UNION.  The hash match proves the "
    "introspection surface covers the join-state layout too (the r10/r11 "
    "aggregation-state reads are a different store format).  Production "
    "joins run tight watermarks (streaming_interval_join certifies "
    "eviction); at 100 TB this read is how an operator audits exactly "
    "which rows a stuck join is holding, per side, without touching the "
    "job.  Spark 4.1.2.",
    oracle="""
        SELECT 'left' AS side, event_id, user_id, epoch_ns(ts) // 1000 AS ts_us
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT 'right' AS side, event_id, user_id, epoch_ns(ts) // 1000 AS ts_us
        FROM events WHERE event_type = 'click'
    """,
)
def streaming_state_join_introspection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    purchases = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "4000 hours")
    )
    clicks = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "4000 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr("p_user = c_user AND c_ts BETWEEN p_ts - interval 24 hours AND p_ts"),
        "inner",
    )
    ckpt = fresh_run_dir(scratch_dir("join_introspect", os.path.abspath(sf_dir)), "ckpt")
    q = (
        joined.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def side_df(side: str, idc: str, userc: str, tsc: str) -> DataFrame:
        return (
            spark.read.format("statestore")
            .option("joinSide", side)
            .load(ckpt)
            .select(
                F.lit(side).alias("side"),
                F.col(f"value.{idc}").alias("event_id"),
                F.col(f"value.{userc}").alias("user_id"),
                F.unix_micros(F.col(f"value.{tsc}")).alias("ts_us"),
            )
        )

    return side_df("left", "purchase_id", "p_user", "p_ts").unionByName(
        side_df("right", "click_id", "c_user", "c_ts")
    )


@query(
    "streaming_join_state_changefeed",
    conf={**STREAM_CONF, _STATE_PROVIDER_CONF: _ROCKSDB_PROVIDER, _CHANGELOG_CONF: "true"},
    family="§2.11,J1",
    doc="CHANGE FEED on JOIN state (r11 verdict #4, composing r11's two "
    "certifications): run the purchase<-click stream-stream join over the "
    "4-batch mod-4 backlog on changelog-mode RocksDB, then read each "
    "side's keyWithIndexToValue store via option('storeName', "
    "'<side>-keyWithIndexToValue').option('readChangeFeed', true) — "
    "joinSide+readChangeFeed is rejected as STDS_CONFLICT_OPTIONS, the "
    "per-store name is the supported spelling (probed, Spark 4.1.2).  The "
    "feed shows one 'update' per state write: a row buffered UNMATCHED at "
    "its arrival batch, plus a single matched=true write at the batch the "
    "row first found a partner.  The oracle reconstructs both from the "
    "mod-4 predicate, INCLUDING the within-batch processing order the "
    "feed exposes: the left input is joined against the right side's "
    "PRE-BATCH state (a purchase arrives unmatched unless a same-user "
    "click exists in a STRICTLY earlier batch), while the right input "
    "sees the left state with this batch's purchases already inserted "
    "(a click arrives matched if a purchase exists in an earlier-OR-EQUAL "
    "batch) — the asymmetry is the left-first execution order of "
    "StreamingSymmetricHashJoin, observable only through this feed.  An "
    "inert 4000h watermark keeps eviction out of the picture ('update' "
    "rows only), as streaming_state_join_introspection certifies the "
    "snapshot side.  At 100 TB this is the per-batch audit of what a "
    "stream-stream join buffered and when each buffered row first "
    "matched — the CDC view of join state no snapshot diff can give.  "
    "The ts axis is synthetic (timestamp_micros(event_id)) so the "
    "interval condition reduces to user equality and stays "
    "SQL-reconstructable.",
    oracle="""
        WITH p AS (
          SELECT event_id, user_id, CAST(event_id % 4 AS INT) AS b
          FROM events WHERE event_type = 'purchase'
        ),
        c AS (
          SELECT event_id, user_id, CAST(event_id % 4 AS INT) AS b
          FROM events WHERE event_type = 'click'
        ),
        pmin AS (SELECT user_id, min(b) AS mb FROM p GROUP BY user_id),
        cmin AS (SELECT user_id, min(b) AS mb FROM c GROUP BY user_id)
        SELECT 'left' AS side, CAST(p.b AS INT) AS batch_id, 'update' AS change_type,
               p.event_id, p.user_id, FALSE AS matched
        FROM p LEFT JOIN cmin ON cmin.user_id = p.user_id
        WHERE cmin.mb IS NULL OR cmin.mb >= p.b
        UNION ALL
        SELECT 'left', CAST(GREATEST(p.b, cmin.mb) AS INT), 'update',
               p.event_id, p.user_id, TRUE
        FROM p JOIN cmin ON cmin.user_id = p.user_id
        UNION ALL
        SELECT 'right', CAST(c.b AS INT), 'update', c.event_id, c.user_id, FALSE
        FROM c LEFT JOIN pmin ON pmin.user_id = c.user_id
        WHERE pmin.mb IS NULL OR pmin.mb > c.b
        UNION ALL
        SELECT 'right', CAST(GREATEST(c.b, pmin.mb) AS INT), 'update',
               c.event_id, c.user_id, TRUE
        FROM c JOIN pmin ON pmin.user_id = c.user_id
    """,
)
def streaming_join_state_changefeed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, src_dir = _ttb_build_src(spark, sf_dir)
    ckpt = fresh_run_dir(base, "ckpt-jcf")

    def side_stream(et: str, idc: str, userc: str, tsc: str) -> DataFrame:
        return (
            _ttb_stream(spark, src_dir)
            .filter(F.col("event_type") == et)
            .select(
                F.col("event_id").alias(idc),
                F.col("user_id").alias(userc),
                F.timestamp_micros(F.col("event_id")).alias(tsc),
            )
            .withWatermark(tsc, "4000 hours")
        )

    joined = side_stream("purchase", "purchase_id", "p_user", "p_ts").join(
        side_stream("click", "click_id", "c_user", "c_ts"),
        F.expr(
            "p_user = c_user AND "
            "c_ts BETWEEN p_ts - interval 1 hour AND p_ts + interval 1 hour"
        ),
        "inner",
    )
    q = (
        joined.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def side_feed(side: str, idc: str, userc: str) -> DataFrame:
        return (
            spark.read.format("statestore")
            .option("storeName", f"{side}-keyWithIndexToValue")
            .option("readChangeFeed", "true")
            .option("changeStartBatchId", 0)
            .load(ckpt)
            .select(
                F.lit(side).alias("side"),
                F.col("batch_id").cast("int").alias("batch_id"),
                F.col("change_type"),
                F.col(f"value.{idc}").alias("event_id"),
                F.col(f"value.{userc}").alias("user_id"),
                F.col("value.matched").alias("matched"),
            )
        )

    return side_feed("left", "purchase_id", "p_user").unionByName(
        side_feed("right", "click_id", "c_user")
    )
