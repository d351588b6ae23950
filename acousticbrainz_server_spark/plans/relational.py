"""Registered relational queries (SURVEY.md §2 families S/P/J/A/W/O/E).

Each query pairs an idiomatic-Spark DataFrame plan with an ANSI-SQL oracle for
DuckDB.  The queries run on the driver's TPC-H-ish testdata but implement the
REFERENCE's operator semantics — e.g. ``submission_offset`` assignment (W1) is
expressed over ``events`` (user_id ~ gid, ts ~ submitted), the unprocessed
anti-join (J4) over customer/orders, the jsonb_object_agg map-collect (A6) over
events.  Reference citations are on each query.

Float columns crossing the oracle boundary are rounded with the shared
floor-based half-up formula (functions/scalar.py) so value hashes match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalar import (
    format_duration,
    format_length_long,
    round_half_up,
    sql_format_duration,
    sql_format_length_long,
    sql_round_half_up,
)
from ..operators.relational import (
    anti_join_unprocessed,
    assign_submission_offset,
    cap_duplicate_submissions,
    latest_per_group,
    map_collect_json,
    point_lookup,
    topk_per_group,
)
from ..sources.tables import load_table, local_frame
from .registry import query


# --------------------------------------------------------------------------------------
# Flagship: pricing-summary rollup (A-family aggregate core; the engine's TPC-H Q1).
# --------------------------------------------------------------------------------------
@query(
    "pricing_summary",
    family="A1,A2,O2",
    doc="Grouped 8-aggregate rollup with filter pushdown (flagship).",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_round_half_up('sum(l_quantity)', 2)} AS sum_qty,
               {sql_round_half_up('sum(l_extendedprice)', 2)} AS sum_base_price,
               {sql_round_half_up('sum(l_extendedprice * (1 - l_discount))', 2)} AS sum_disc_price,
               {sql_round_half_up('sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))', 2)} AS sum_charge,
               {sql_round_half_up('avg(l_quantity)', 6)} AS avg_qty,
               {sql_round_half_up('avg(l_extendedprice)', 6)} AS avg_price,
               {sql_round_half_up('avg(l_discount)', 6)} AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("2001-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            round_half_up(F.sum("l_quantity"), 2).alias("sum_qty"),
            round_half_up(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            round_half_up(F.sum(disc_price), 2).alias("sum_disc_price"),
            round_half_up(F.sum(charge), 2).alias("sum_charge"),
            round_half_up(F.avg("l_quantity"), 6).alias("avg_qty"),
            round_half_up(F.avg("l_extendedprice"), 6).alias("avg_price"),
            round_half_up(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------------------
# A1/A2/A3 — counts (reference db/data.py:882-916, db/submission_stats.py:250-272)
# --------------------------------------------------------------------------------------
@query(
    "count_global",
    family="A1",
    doc="COUNT(*) global — reference count_all_lowlevel (db/data.py:882-890).",
    oracle="SELECT count(*) AS n_rows FROM lineitem",
)
def count_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


@query(
    "count_per_key",
    family="A2",
    doc="Submissions-per-mbid analog: events per user (db/data.py:905-916).",
    oracle="SELECT user_id, count(*) AS n_submissions FROM events GROUP BY user_id",
)
def count_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_submissions"))


@query(
    "count_distinct_split",
    family="A3",
    doc="COUNT + COUNT(DISTINCT) split by category — submission stats "
    "(db/submission_stats.py:250-272: lossless/lossy x total/unique).",
    oracle="""
        SELECT event_type,
               count(*) AS n_total,
               count(DISTINCT user_id) AS n_unique
        FROM events GROUP BY event_type
    """,
)
def count_distinct_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("user_id").alias("n_unique"),
    )


# --------------------------------------------------------------------------------------
# S2/J6 — batch point lookup via broadcast join (db/data.py:460-477)
# --------------------------------------------------------------------------------------
_LOOKUP_KEYS = [(k, ln) for k in range(1, 40) for ln in (1, 2)]


@query(
    "point_lookup_batch",
    family="S2,J6",
    doc="Row-value IN point lookup as broadcast join — load_many_low_level "
    "(db/data.py:460-477); key set ≤25x2 like the bulk API cap.",
    oracle=(
        "SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, l.l_extendedprice "
        "FROM lineitem l JOIN (VALUES "
        + ", ".join(f"({k}, {ln})" for k, ln in _LOOKUP_KEYS)
        + ") v(k, ln) ON l.l_orderkey = v.k AND l.l_linenumber = v.ln"
    ),
)
def point_lookup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # derive a pushed-down IN filter on the leading key so the parquet scan
    # prunes row groups BEFORE the broadcast probe (at scale: partition/file
    # pruning; the join alone would scan everything)
    li = li.filter(F.col("l_orderkey").isin(sorted({k for k, _ in _LOOKUP_KEYS})))
    # Arrow-backed literal -> JVM LocalTableScan (no Python-RDD conversion)
    keys = local_frame(spark, _LOOKUP_KEYS, "l_orderkey BIGINT, l_linenumber INT")
    return point_lookup(li, keys, ["l_orderkey", "l_linenumber"]).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


# --------------------------------------------------------------------------------------
# J2 — multiway join with broadcast dims (db/data.py:540-585, hl 3/4-way joins)
# --------------------------------------------------------------------------------------
@query(
    "join_multiway_rollup",
    family="J2,A2",
    doc="3-way join with tiny broadcast dims + rollup — the highlevel "
    "hl⋈meta⋈model join shape (db/data.py:569-585); nation/region broadcast "
    "like the model/version dims.",
    oracle=f"""
        SELECT r.r_name AS region_name, n.n_name AS nation_name,
               count(*) AS n_orders,
               {sql_round_half_up('sum(o.o_totalprice)', 2)} AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    """,
)
def join_multiway_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            round_half_up(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------------------
# J3 — left outer join keeping unmatched (db/data.py:74-91)
# --------------------------------------------------------------------------------------
@query(
    "left_join_keep_unmatched",
    family="J3",
    doc="highlevel LEFT JOIN highlevel_meta analog: customers with recent-order "
    "counts, zero-kept (db/data.py:74-91).",
    oracle="""
        SELECT c.c_custkey, count(o.o_orderkey) AS n_recent_orders
        FROM customer c
        LEFT JOIN (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01') o
          ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    """,
)
def left_join_keep_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("2001-01-01")))
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_recent_orders"))
    )


# --------------------------------------------------------------------------------------
# J4 — anti join: the incremental work-queue pattern (db/data.py:950-981)
# --------------------------------------------------------------------------------------
@query(
    "anti_join_unprocessed",
    family="J4",
    doc="Unprocessed-work discovery: customers with no order in the window — "
    "get_unprocessed_highlevel_documents (db/data.py:950-981) as left_anti.",
    oracle="""
        SELECT c.c_custkey, c.c_name
        FROM customer c
        WHERE NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '2001-01-01'
        )
    """,
)
def anti_join_unprocessed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("2001-01-01")))
    processed = o.select(F.col("o_custkey").alias("c_custkey"))
    return anti_join_unprocessed(c, processed, ["c_custkey"]).select("c_custkey", "c_name")


# --------------------------------------------------------------------------------------
# J5 — semi join (IN subquery; db/dump.py:349-374)
# --------------------------------------------------------------------------------------
@query(
    "semi_join_window",
    family="J5,S9",
    doc="id IN (SELECT id FROM … time-window) — incremental dump row selection "
    "(db/dump.py:349-374) as left_semi.",
    oracle="""
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE c_custkey IN (
          SELECT o_custkey FROM orders
          WHERE o_orderdate > TIMESTAMP '2001-06-01' AND o_orderdate <= TIMESTAMP '2001-08-01'
        )
    """,
)
def semi_join_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") > F.to_timestamp(F.lit("2001-06-01")))
        & (F.col("o_orderdate") <= F.to_timestamp(F.lit("2001-08-01")))
    )
    return c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --------------------------------------------------------------------------------------
# J7/W2 — LATERAL top-1 per group (db/dataset.py:177-184)
# --------------------------------------------------------------------------------------
@query(
    "latest_per_group",
    family="J7,W2",
    doc="LEFT JOIN LATERAL latest-job-per-dataset analog: latest order per "
    "customer via window top-1 (db/dataset.py:177-184).",
    oracle="""
        SELECT c_custkey, o_orderkey AS latest_orderkey, o_orderdate AS latest_orderdate
        FROM (
          SELECT o_custkey AS c_custkey, o_orderkey, o_orderdate,
                 row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders
        ) WHERE rn = 1
    """,
)
def latest_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return latest_per_group(
        o.select(F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_orderdate"),
        ["c_custkey"],
        [F.desc("o_orderdate"), F.desc("o_orderkey")],
    ).select("c_custkey", F.col("o_orderkey").alias("latest_orderkey"), F.col("o_orderdate").alias("latest_orderdate"))


# --------------------------------------------------------------------------------------
# W1 — submission_offset assignment (db/data.py:273-288)
# --------------------------------------------------------------------------------------
@query(
    "submission_offset",
    family="W1,A4",
    doc="Arrival-rank offset per key: the reference's MAX(submission_offset)+1 "
    "per-insert loop (db/data.py:273-288) as ONE window pass.",
    oracle="""
        SELECT event_id, user_id,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER)
                 AS submission_offset
        FROM events
    """,
)
def submission_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return assign_submission_offset(ev, key="user_id", order_cols=("ts", "event_id")).select(
        "event_id", "user_id", "submission_offset"
    )


# --------------------------------------------------------------------------------------
# W4 — duplicate-submission cap (config MAX_NUMBER_DUPLICATE_SUBMISSIONS=10)
# --------------------------------------------------------------------------------------
@query(
    "duplicate_cap",
    family="W4",
    doc="Keep ≤10 submissions per key (db/data.py:259-262; config.py.example:59).",
    oracle="""
        SELECT event_id, user_id, ts FROM (
          SELECT event_id, user_id, ts,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
        ) WHERE rn <= 10
    """,
)
def duplicate_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return cap_duplicate_submissions(ev, key="user_id", order_cols=("ts", "event_id"), max_per_key=10).select(
        "event_id", "user_id", "ts"
    )


# --------------------------------------------------------------------------------------
# O1 — ORDER BY … LIMIT/OFFSET (db/submission_stats.py:58-66)
# --------------------------------------------------------------------------------------
@query(
    "recent_topk_offset",
    family="O1",
    doc="Recent-submissions widget: ORDER BY id DESC LIMIT 5 OFFSET 10 "
    "(db/submission_stats.py:58-66).",
    oracle="""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 5 OFFSET 10
    """,
)
def recent_topk_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_orderdate"), F.desc("o_orderkey")).offset(10).limit(5).select("o_orderkey", "o_totalprice")
    )


# --------------------------------------------------------------------------------------
# O4/W3 — top-k per group (neighbor ranking shape, similarity.py:38-67)
# --------------------------------------------------------------------------------------
@query(
    "topk_per_group",
    family="O4,W3",
    doc="Top-3 per group with deterministic tie-break — the per-query neighbor "
    "ranking shape (webserver/views/api/v1/similarity.py:38-67).",
    oracle="""
        SELECT event_type, event_id, value FROM (
          SELECT event_type, event_id, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
          FROM events
        ) WHERE rn <= 3
    """,
)
def topk_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return topk_per_group(ev, ["event_type"], [F.desc("value"), F.asc("event_id")], k=3).select(
        "event_type", "event_id", "value"
    )


# --------------------------------------------------------------------------------------
# A8 — daily stats rollup, one pass + cumulative window (db/submission_stats.py:221-276)
# --------------------------------------------------------------------------------------
@query(
    "daily_stats_rollup",
    family="A8,A3,P9",
    doc="Daily submission stats + running totals: replaces the reference's "
    "per-day rescan loop (db/submission_stats.py:80-108, 221-276) with one "
    "grouped pass + a cumulative window.",
    oracle="""
        SELECT day, n_submissions, n_unique_users,
               CAST(sum(n_submissions) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_submissions
        FROM (
          SELECT CAST(ts AS DATE) AS day,
                 count(*) AS n_submissions,
                 count(DISTINCT user_id) AS n_unique_users
          FROM events GROUP BY CAST(ts AS DATE)
        )
    """,
)
def daily_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_submissions"),
        F.countDistinct("user_id").alias("n_unique_users"),
    )
    # bounded-window: input is the per-DAY aggregate — O(days) rows at any corpus size
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.withColumn("cumulative_submissions", F.sum("n_submissions").over(w).cast("long"))


# --------------------------------------------------------------------------------------
# A2 under skew salting — the two-phase hot-key aggregation template
# --------------------------------------------------------------------------------------
@query(
    "salted_count_per_key",
    family="A2,SKEW",
    doc="Per-key count via explicit two-phase salting (functions/skew.py): "
    "partial counts on (key, salt), final sum on key — the template for "
    "non-algebraic aggregations whose single hot key would serialize a "
    "stage at 100 TB.  Must equal the plain GROUP BY (the oracle), proving "
    "the salt scatter is semantics-free.",
    oracle="""
        SELECT user_id, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    """,
)
def salted_count_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.skew import salted_count

    ev = load_table(spark, sf_dir, "events")
    return salted_count(ev, "user_id", n_salts=16)


# --------------------------------------------------------------------------------------
# A6 — jsonb_object_agg map-collect (db/data.py:836-850)
# --------------------------------------------------------------------------------------
@query(
    "map_collect_per_key",
    family="A6,F14,F16",
    doc="jsonb_object_agg: collapse model rows to a per-recording map "
    "(db/data.py:836-850) — emitted as a key-sorted 'k:v' string for "
    "cross-engine comparability.",
    oracle="""
        SELECT user_id,
               string_agg(event_type || ':' || CAST(cnt AS VARCHAR), ',' ORDER BY event_type) AS kv_json
        FROM (
          SELECT user_id, event_type, count(*) AS cnt
          FROM events GROUP BY user_id, event_type
        ) GROUP BY user_id
    """,
)
def map_collect_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    return map_collect_json(per_type, ["user_id"], "event_type", F.col("cnt"))


# --------------------------------------------------------------------------------------
# E1 — order-preserving dedup (utils/container_utils.py:1-3)
# --------------------------------------------------------------------------------------
@query(
    "first_per_key_dedup",
    family="E1,E2",
    doc="Order-preserving dedup: first row per (user, type) by arrival — the "
    "reference's order-preserving request-tuple dedup (utils/container_utils.py:1-3).",
    oracle="""
        SELECT user_id, event_type, min(event_id) AS first_event_id
        FROM events GROUP BY user_id, event_type
    """,
)
def first_per_key_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(F.min("event_id").alias("first_event_id"))


# --------------------------------------------------------------------------------------
# E6 — seeded per-class normalization cut (dataset_eval/artistfilter.py:33-52)
# --------------------------------------------------------------------------------------
@query(
    "class_normalization_cut",
    family="E6",
    doc="Cut each class to ≤50 members pseudo-randomly but deterministically "
    "(order by md5 of the id — both engines agree), mirroring the 450-cut at "
    "dataset_eval/artistfilter.py:33-52.",
    oracle="""
        SELECT label, vec_id FROM (
          SELECT label, vec_id,
                 row_number() OVER (PARTITION BY label ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
          FROM embeddings
        ) WHERE rn <= 50
    """,
)
def class_normalization_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return topk_per_group(
        emb.select("label", "vec_id"),
        ["label"],
        [F.md5(F.col("vec_id").cast("string")), F.col("vec_id")],
        k=50,
    ).select("label", "vec_id")


# --------------------------------------------------------------------------------------
# E7 — greedy per-artist train/test split (dataset_eval/artistfilter.py:81-119)
# --------------------------------------------------------------------------------------
@query(
    "train_test_split",
    family="E7",
    doc="Per-(class, artist) greedy split: first recording → train, rest → test "
    "(dataset_eval/artistfilter.py:81-119); (event_type, user_id) stand in for "
    "(class, artist); deterministic shuffle via md5.",
    oracle="""
        SELECT event_id, event_type, user_id,
               CASE WHEN rn = 1 THEN 'train' ELSE 'test' END AS split
        FROM (
          SELECT event_id, event_type, user_id,
                 row_number() OVER (PARTITION BY event_type, user_id
                                    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
          FROM events
        )
    """,
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy(F.md5(F.col("event_id").cast("string")), F.col("event_id"))
    return ev.select(
        "event_id",
        "event_type",
        "user_id",
        F.when(F.row_number().over(w) == 1, F.lit("train")).otherwise(F.lit("test")).alias("split"),
    )


# --------------------------------------------------------------------------------------
# A5 — resume cursor: coalesce(max(id), 0) (db/similarity.py:290-298)
# --------------------------------------------------------------------------------------
@query(
    "resume_cursor",
    family="A5",
    doc="coalesce(max(id),0) resume cursor (db/similarity.py:290-298), over a "
    "filtered window so the empty-input coalesce path is meaningful.",
    oracle="""
        SELECT coalesce(max(event_id), 0) AS max_processed_id,
               coalesce(max(CASE WHEN event_type = 'no_such_type' THEN event_id END), 0) AS empty_cursor
        FROM events WHERE ts < TIMESTAMP '2024-01-15'
    """,
)
def resume_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts") < F.to_timestamp(F.lit("2024-01-15")))
    return ev.agg(
        F.coalesce(F.max("event_id"), F.lit(0)).alias("max_processed_id"),
        F.coalesce(F.max(F.when(F.col("event_type") == "no_such_type", F.col("event_id"))), F.lit(0)).alias(
            "empty_cursor"
        ),
    )


# --------------------------------------------------------------------------------------
# F5/F6 — epoch-ms timestamps + day ceiling (db/submission_stats.py:279-317)
# --------------------------------------------------------------------------------------
@query(
    "timestamp_functions",
    family="F5,F6",
    doc="epoch-ms conversion (db/submission_stats.py:279-282) and next-day "
    "ceiling (:308-317) per event.",
    oracle="""
        SELECT event_id,
               CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS epoch_ms,
               CAST(date_trunc('day', ts) + INTERVAL 1 DAY AS TIMESTAMP) AS next_day
        FROM events WHERE event_id < 2000
    """,
)
def timestamp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return ev.select(
        "event_id",
        (F.unix_timestamp("ts") * 1000).alias("epoch_ms"),
        (F.date_trunc("day", F.col("ts")) + F.expr("INTERVAL 1 DAY")).alias("next_day"),
    )


# --------------------------------------------------------------------------------------
# O6 — stats-history fetch: LIMIT then reverse (db/submission_stats.py:192-206)
# --------------------------------------------------------------------------------------
@query(
    "history_limit_reverse",
    family="O6,O3",
    doc="Latest-N fetch then chronological re-sort "
    "(db/submission_stats.py:192-206): the last 7 days of daily counts, "
    "returned oldest-first.",
    oracle="""
        SELECT day, n FROM (
          SELECT CAST(ts AS DATE) AS day, count(*) AS n
          FROM events GROUP BY CAST(ts AS DATE)
          ORDER BY day DESC LIMIT 7
        ) ORDER BY day ASC
    """,
)
def history_limit_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("n"))
    return daily.orderBy(F.desc("day")).limit(7).orderBy(F.asc("day"))


# --------------------------------------------------------------------------------------
# Composite: join + filtered agg + top-k (TPC-H Q3 shape; bench representativeness)
# --------------------------------------------------------------------------------------
@query(
    "shipping_priority_topk",
    family="J1,A2,O4",
    doc="Filtered 3-way join + revenue agg + global top-k — the canonical "
    "scan-join-agg-sort pipeline shape.",
    oracle=f"""
        SELECT l.l_orderkey,
               {sql_round_half_up('sum(l.l_extendedprice * (1 - l.l_discount))', 2)} AS revenue,
               o.o_orderdate
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
          AND l.l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY l.l_orderkey, o.o_orderdate
        ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.to_timestamp(F.lit("1998-01-01")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round_half_up(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


# --------------------------------------------------------------------------------------
# Composite: join against a per-group aggregate (TPC-H Q17 shape)
# --------------------------------------------------------------------------------------
@query(
    "small_quantity_revenue",
    family="J1,A4,A2",
    doc="Join a fact table against its own per-group aggregate (correlated "
    "scalar subquery decorrelated to a grouped join — TPC-H Q17 shape): "
    "lineitems below 20% of their part's average quantity.  The aggregate "
    "side shares the scan + shuffle key with the probe side; the threshold "
    "is rounded before comparison for cross-engine determinism.",
    oracle=f"""
        WITH t AS (
          SELECT l_partkey, {sql_round_half_up('0.2 * avg(l_quantity)', 4)} AS qty_thresh
          FROM lineitem GROUP BY l_partkey
        )
        SELECT {sql_round_half_up('sum(l.l_extendedprice) / 7.0', 2)} AS avg_yearly,
               count(*) AS n_small
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN t ON t.l_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#4' AND l.l_quantity < t.qty_thresh
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4").select("p_partkey")
    # l_partkey determines the brand, so pushing the brand filter below the
    # per-part average (broadcast semi-join) shrinks BOTH the aggregate and
    # probe sides ~20x without changing the per-part avg — the decorrelation
    # plus filter-pushdown a Q17 plan lives or dies on at scale
    li_b = li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"), "left_semi")
    thresh = li_b.groupBy("l_partkey").agg(round_half_up(F.lit(0.2) * F.avg("l_quantity"), 4).alias("qty_thresh"))
    return (
        li_b.join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            round_half_up(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


# --------------------------------------------------------------------------------------
# P1/P2 — JSON path projection with defaults (db/data.py:641-752)
# --------------------------------------------------------------------------------------
@query(
    "json_path_projection",
    family="P1,P2",
    doc="Semi-structured path projection with per-feature defaults on missing "
    "paths — the AVAILABLE_FEATURES machinery (db/data.py:641-752, "
    "webserver/views/api/v1/core.py:28-48).  The engine's primary form is "
    "typed nested structs (Parquet column pruning); this exercises the "
    "JSON-string fallback path (get_json_object pushdown + coalesce default).",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value,
               coalesce(json_extract_string(props, '$.absent'), '{}') AS absent_with_default
        FROM events WHERE event_id < 2500
    """,
)
def json_path_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2500)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
        F.coalesce(F.get_json_object("props", "$.absent"), F.lit("{}")).alias("absent_with_default"),
    )


# --------------------------------------------------------------------------------------
# J8/J6/E1 — order-preserving bulk point lookup with NULL for misses
# --------------------------------------------------------------------------------------
_LOOKUP_REQUEST = [(0, 5), (1, 99999999), (2, 1), (3, 3), (4, 5), (5, 77777777), (6, 2)]


@query(
    "ordered_lookup",
    family="J8,J6,E1",
    doc="Bulk key lookup preserving REQUEST order, NULL for misses — the bulk "
    "API contract (db/data.py:755-773, :853-879).  The request is a literal "
    "frame broadcast against the fact table; the big side never shuffles.",
    oracle="""
        WITH req(request_index, o_orderkey) AS (
          VALUES (0, CAST(5 AS BIGINT)), (1, 99999999), (2, 1), (3, 3), (4, 5),
                 (5, 77777777), (6, 2)
        )
        SELECT r.request_index, r.o_orderkey, o.o_custkey
        FROM req r LEFT JOIN orders o ON o.o_orderkey = r.o_orderkey
    """,
)
def ordered_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # Arrow-backed literal -> JVM LocalTableScan (no Python-RDD conversion)
    req = local_frame(spark, _LOOKUP_REQUEST, "request_index INT, o_orderkey BIGINT")
    hit = orders.join(F.broadcast(req), "o_orderkey", "inner").select("request_index", "o_custkey")
    return (
        req.join(F.broadcast(hit), "request_index", "left")
        .select("request_index", "o_orderkey", "o_custkey")
    )


# --------------------------------------------------------------------------------------
# F4 — duration formatting (db/data.py:1008-1009)
# --------------------------------------------------------------------------------------
@query(
    "format_track_length",
    family="F4",
    doc="Seconds → 'MM:SS' strftime-style formatting (db/data.py:1008-1009: "
    "minutes zero-padded within the hour, >=1 h wraps like %M:%S does).",
    oracle=f"""
        SELECT event_id, {sql_format_duration("value")} AS track_length
        FROM events WHERE event_id < 500
    """,
)
def format_track_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    return ev.select("event_id", format_duration(F.col("value")).alias("track_length"))


@query(
    "format_track_length_full",
    family="F4",
    doc="Seconds → the reference's display format with the hours branch "
    "(webserver/views/data.py:149-161): 'H:MM:SS' when >=1 h, 'M:SS' when "
    ">=1 min, else '00:SS'.  The synthetic durations (event_id*17 % 7500) "
    "cross both the 60 s and 3600 s boundaries.",
    oracle=f"""
        SELECT event_id, {sql_format_length_long("(event_id * 17) % 7500")} AS track_length
        FROM events WHERE event_id < 1000
    """,
)
def format_track_length_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    secs = (F.col("event_id") * 17) % 7500
    return ev.select("event_id", format_length_long(secs).alias("track_length"))


# --------------------------------------------------------------------------------------
# As-of join — most recent right row at-or-before each left row (operators/asof.py).
# The union-and-carry encoding: one shuffle, no range-join pair blow-up.
# --------------------------------------------------------------------------------------
@query(
    "asof_latest_purchase",
    family="J1,W2",
    doc="As-of join: every click event paired with the same user's most "
    "recent purchase at-or-before it (NULL when none yet).  Spark has no "
    "ASOF physical operator; operators/asof.py encodes it as union + keyed "
    "running-window carry — one shuffle of |L|+|R| rows, vs the O(|L|x|R|) "
    "per-key pair stream a range-join encoding pays.  Timestamps compare as "
    "integer microseconds in both engines (the parquet column is "
    "TIMESTAMP(NANOS); both sides truncate identically).  Purchase ties on "
    "(user_id, ts_us) resolve IN the carry window — tie_break=event_id, max "
    "wins, zero extra shuffle — where the oracle dedupes with max_by before "
    "its ASOF (ties are otherwise engine-arbitrary).  DuckDB's native ASOF "
    "LEFT JOIN is the oracle.",
    oracle="""
        WITH l AS (
          SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us
          FROM events WHERE event_type = 'click'
        ),
        r AS (
          SELECT user_id, ts_us, max_by(event_id, event_id) AS event_id,
                 max_by(value, event_id) AS value
          FROM (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, value
                FROM events WHERE event_type = 'purchase')
          GROUP BY user_id, ts_us
        )
        SELECT l.event_id, l.user_id, l.ts_us,
               r.event_id AS purchase_event_id, r.value AS purchase_value
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
    """,
)
def asof_latest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        ts_col="ts_us",
        right_cols=["event_id", "value"],
        prefix="purchase_",
        tie_break="event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("purchase_event_id"),
        F.col("purchase_value").alias("purchase_value"),
    )


# --------------------------------------------------------------------------------------
# Sessionization — gap-based session assignment over the event stream
# --------------------------------------------------------------------------------------
@query(
    "sessionize_events",
    family="W1,A8",
    doc="Gap-based sessionization of the event stream: a new session starts "
    "when a user is idle > 30 minutes; emits one row per session with start/"
    "end (integer microseconds), event count, and total value.  Two stacked "
    "window functions (lag-gap flag, running sum as session ordinal) + one "
    "grouped aggregation — all on a single shuffle by user, since every "
    "window and the final groupBy share the user_id partitioning.  The "
    "streaming twin is F.session_window in streaming/ingest_stream.py.",
    oracle="""
        WITH o AS (
          SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, value,
                 CASE WHEN epoch_ns(ts) // 1000
                           - lag(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000)
                           > 1800000000 OR
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
        SELECT user_id, CAST(session_idx AS INTEGER) AS session_idx,
               min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
               count(*) AS n_events, {total_value} AS total_value
        FROM s GROUP BY user_id, session_idx
    """.format(total_value=sql_round_half_up("sum(value)", 4)),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us")
    gap_us = 30 * 60 * 1_000_000
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w).isNull() | ((F.col("ts_us") - F.lag("ts_us").over(w)) > gap_us),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_idx",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("int"),
    )
    return sessions.groupBy("user_id", "session_idx").agg(
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
        round_half_up(F.sum("value"), 4).alias("total_value"),
    )


# --------------------------------------------------------------------------------------
# Exact percentiles per group (stats over the event stream)
# --------------------------------------------------------------------------------------
@query(
    "value_percentiles",
    family="A8,V2",
    doc="Exact p50/p90/p99 of event value per event_type — Spark's exact "
    "percentile aggregate (sort-based within group) against DuckDB's "
    "quantile_cont; both use linear interpolation, results rounded for "
    "float parity.  At 100 TB swap in approx_percentile (t-digest sketch, "
    "mergeable map-side) — exact is the oracle form.",
    oracle=f"""
        SELECT event_type,
               {sql_round_half_up('quantile_cont(value, 0.5)', 4)} AS p50,
               {sql_round_half_up('quantile_cont(value, 0.9)', 4)} AS p90,
               {sql_round_half_up('quantile_cont(value, 0.99)', 4)} AS p99
        FROM events GROUP BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        round_half_up(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        round_half_up(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        round_half_up(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
    )


# --------------------------------------------------------------------------------------
# Bucketed range join — bounded-Δt event pairs without the cross product
# --------------------------------------------------------------------------------------
@query(
    "events_within_window",
    family="J1,W2",
    doc="All ordered same-user event pairs within 30 minutes of each other "
    "(operators/rangejoin.py).  The naive range join nested-loops each "
    "user's history; bucketing time at the window width and equi-joining on "
    "(user, {bucket, bucket+1}) finds every pair exactly once with one "
    "shuffle, candidate fan-in bounded by bucket population.  The oracle is "
    "the naive inequality join.",
    oracle="""
        WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events)
        SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
               b.ts_us - a.ts_us AS delta
        FROM e a JOIN e b
          ON a.user_id = b.user_id
         AND b.ts_us - a.ts_us <= 1800000000
         AND (b.ts_us > a.ts_us OR (b.ts_us = a.ts_us AND b.event_id > a.event_id))
    """,
)
def events_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import interval_self_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    return interval_self_join(
        ev, key_col="user_id", ts_col="ts_us", window=1_800_000_000, id_col="event_id"
    )


# --------------------------------------------------------------------------------------
# Rolling window — 7-day moving average over the daily rollup
# --------------------------------------------------------------------------------------
@query(
    "daily_moving_average",
    family="A8,W3",
    doc="7-day trailing moving average of daily event counts: the daily "
    "rollup (one shuffle) feeds a RANGE-framed window over the day ordinal, "
    "so gaps in the calendar shrink the frame (true trailing-7-days, not "
    "trailing-7-rows).  Global window over days: day cardinality is "
    "O(corpus age), so a single partition is fine at any corpus scale.",
    oracle=f"""
        WITH d AS (
          SELECT CAST(ts AS DATE) AS day, count(*) AS n
          FROM events GROUP BY CAST(ts AS DATE)
        )
        SELECT day, n,
               {sql_round_half_up("avg(n) OVER (ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)", 4)} AS ma7
        FROM d
    """,
)
def daily_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("n"))
    # RANGE frame over the epoch-day ordinal == calendar-aware trailing window
    # bounded-window: input is the per-DAY aggregate — O(days) rows at any corpus size
    w = Window.orderBy(F.unix_date(F.col("day"))).rangeBetween(-6, 0)
    return d.select(
        "day", "n", round_half_up(F.avg("n").over(w), 4).alias("ma7")
    )


# --------------------------------------------------------------------------------------
# Pivot — event-type counts as a wide per-user table
# --------------------------------------------------------------------------------------
_PIVOT_TYPES = ["click", "view", "purchase", "signup", "error"]


@query(
    "event_type_pivot",
    family="A9,F14",
    doc="Per-user event-type histogram pivoted to a wide table — the A9 "
    "class-histogram shape as df.pivot with an explicit category list "
    "(skipping pivot's category-discovery scan).  Two-phase plan: "
    "pre-aggregate (user, type) counts, then pivot-aggregate per user — "
    "both map-side partial, the second shuffle carries one row per "
    "(user, type).",
    oracle="""
        SELECT user_id,
               {cols}
        FROM events GROUP BY user_id
    """.format(
        cols=", ".join(
            f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
            for t in _PIVOT_TYPES
        )
    ),
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    # pivot null-fills absent categories as NULL; the histogram wants 0
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in _PIVOT_TYPES],
    )


# --------------------------------------------------------------------------------------
# Inter-event gaps — lag deltas + per-user median gap
# --------------------------------------------------------------------------------------
@query(
    "user_event_gaps",
    family="W1,A8",
    doc="Per-user inter-event time statistics: lag() deltas over the user "
    "timeline, then median/max gap per user — the cadence profile behind "
    "session-gap threshold selection.  Single shuffle on user_id shared by "
    "the window and the aggregation.",
    oracle=f"""
        WITH g AS (
          SELECT user_id,
                 epoch_ns(ts) // 1000
                   - lag(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000) AS gap_us
          FROM events
        )
        SELECT user_id,
               count(gap_us) AS n_gaps,
               {sql_round_half_up('quantile_cont(gap_us, 0.5)', 1)} AS median_gap_us,
               max(gap_us) AS max_gap_us
        FROM g WHERE gap_us IS NOT NULL GROUP BY user_id
    """,
)
def user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", F.unix_micros("ts").alias("ts_us"))
    w = Window.partitionBy("user_id").orderBy("ts_us")
    g = ev.withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w)).filter(
        F.col("gap_us").isNotNull()
    )
    return g.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        round_half_up(F.percentile("gap_us", F.lit(0.5)), 1).alias("median_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


# --------------------------------------------------------------------------------------
# Value histogram — fixed-width buckets (width_bucket in both engines)
# --------------------------------------------------------------------------------------
@query(
    "value_histogram",
    family="A9",
    doc="Fixed-width histogram of event values (20 buckets over [0, 100)) — "
    "width_bucket in both engines; one partial-aggregated shuffle of 22 "
    "bucket counters regardless of corpus size.",
    oracle="""
        SELECT CAST(CASE WHEN value < 0 THEN 0
                         WHEN value >= 100 THEN 21
                         ELSE floor(value / 5) + 1 END AS INTEGER) AS bucket,
               count(*) AS n
        FROM events GROUP BY bucket
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.width_bucket("value", F.lit(0.0), F.lit(100.0), F.lit(20)).cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------------------
# Cohort retention — users by first-seen week, share still active N weeks later
# --------------------------------------------------------------------------------------
@query(
    "cohort_retention",
    family="A8,W2",
    doc="Weekly cohort retention: cohort = each user's first active week; "
    "for every (cohort, weeks-since) pair, how many of the cohort's users "
    "were active.  min-over-window for the cohort (one user_id shuffle), "
    "then a distinct-(user, week) aggregation keyed by (cohort, offset) — "
    "cardinality O(users x active-weeks), the standard retention-matrix "
    "shape.",
    oracle="""
        WITH w AS (
          SELECT DISTINCT user_id,
                 CAST(date_diff('week', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS week
          FROM events
        ),
        c AS (SELECT user_id, week, min(week) OVER (PARTITION BY user_id) AS cohort_week FROM w)
        SELECT cohort_week, week - cohort_week AS weeks_since, count(*) AS n_active
        FROM c GROUP BY cohort_week, weeks_since
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        ev.select(
            "user_id",
            F.floor(F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7).cast("long").alias("week"),
        )
        .distinct()
    )
    c = w.withColumn("cohort_week", F.min("week").over(Window.partitionBy("user_id")))
    return c.groupBy(
        "cohort_week", (F.col("week") - F.col("cohort_week")).alias("weeks_since")
    ).agg(F.count(F.lit(1)).alias("n_active"))


# --------------------------------------------------------------------------------------
# ROLLUP — region/nation revenue with subtotals and grand total in one pass
# --------------------------------------------------------------------------------------
@query(
    "rollup_revenue",
    family="A2,A8",
    doc="Hierarchical subtotals via ROLLUP(region, nation): per-nation rows, "
    "per-region subtotals, and the grand total from ONE aggregation pass "
    "(Spark expands grouping sets map-side; no self-union of re-aggregations). "
    "Dims broadcast as in join_multiway_rollup.",
    oracle=f"""
        SELECT r.r_name AS region_name, n.n_name AS nation_name,
               count(*) AS n_orders,
               {sql_round_half_up('sum(o.o_totalprice)', 2)} AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return (
        j.rollup(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            round_half_up(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------------------
# A9/stats — equi-depth histogram (the optimizer-statistics collection operator)
# --------------------------------------------------------------------------------------
@query(
    "equidepth_histogram",
    family="A9,STATS",
    doc="Equi-depth (equal-height) histogram of value per event_type via "
    "ntile(8) over a TOTAL order (value, event_id — the tie-break is what "
    "makes bucket assignment engine-independent): per-bucket count, min and "
    "max boundaries.  Equi-depth histograms are what cost-based optimizers "
    "collect for selectivity estimation (ANALYZE in the reference's "
    "PostgreSQL collects exactly these); at 100 TB the same shape runs on a "
    "percentile_approx sketch instead of the full sort.",
    oracle=f"""
        WITH t AS (
          SELECT event_type, value,
                 CAST(ntile(8) OVER (PARTITION BY event_type ORDER BY value, event_id) AS INTEGER) AS bucket
          FROM events
        )
        SELECT event_type, bucket, count(*) AS n,
               {sql_round_half_up('min(value)', 4)} AS lo,
               {sql_round_half_up('max(value)', 4)} AS hi
        FROM t GROUP BY event_type, bucket
    """,
)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    t = ev.select("event_type", "value", F.ntile(8).over(w).alias("bucket"))
    return t.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        round_half_up(F.min("value"), 4).alias("lo"),
        round_half_up(F.max("value"), 4).alias("hi"),
    )


# --------------------------------------------------------------------------------------
# W-family — funnel analysis (ordered multi-step conversion)
# --------------------------------------------------------------------------------------
@query(
    "funnel_stages",
    family="W3,A2,FUNNEL",
    doc="Ordered conversion funnel view -> click -> purchase per user: each "
    "stage's timestamp is the EARLIEST event of that type at-or-after the "
    "previous stage's timestamp (three conditional min-aggregations chained "
    "by broadcast joins — never a per-user sort).  funnel_stage = how deep "
    "the user got, the classic product-analytics rollup.",
    oracle="""
        WITH v AS (
          SELECT user_id, min(ts) AS v_ts FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
          SELECT e.user_id, min(e.ts) AS c_ts
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ts >= v.v_ts
          GROUP BY e.user_id
        ),
        p AS (
          SELECT e.user_id, min(e.ts) AS p_ts
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
          GROUP BY e.user_id
        )
        SELECT v.user_id,
               epoch_ns(v.v_ts) // 1000 AS view_ts_us,
               epoch_ns(c.c_ts) // 1000 AS click_ts_us,
               epoch_ns(p.p_ts) // 1000 AS purchase_ts_us,
               CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                         WHEN c.user_id IS NOT NULL THEN 2
                         ELSE 1 END AS INTEGER) AS funnel_stage
        FROM v LEFT JOIN c ON c.user_id = v.user_id
               LEFT JOIN p ON p.user_id = c.user_id
    """,
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") >= F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        v.join(p.select("user_id", "p_ts"), "user_id", "left")
        .join(c.select("user_id", "c_ts"), "user_id", "left")
        .select(
            "user_id",
            F.unix_micros("v_ts").alias("view_ts_us"),
            F.unix_micros("c_ts").alias("click_ts_us"),
            F.unix_micros("p_ts").alias("purchase_ts_us"),
            F.when(F.col("p_ts").isNotNull(), 3)
            .when(F.col("c_ts").isNotNull(), 2)
            .otherwise(1)
            .cast("int")
            .alias("funnel_stage"),
        )
    )


# --------------------------------------------------------------------------------------
# E/W-family — SCD2 validity intervals (temporal table from a change stream)
# --------------------------------------------------------------------------------------
@query(
    "scd2_value_history",
    family="W1,E3,SCD2",
    doc="Slowly-changing-dimension type-2 history: each user's event stream "
    "becomes validity intervals [valid_from, valid_to) via one lead() window "
    "over the total order (ts, event_id); the open (current) row has NULL "
    "valid_to.  The warehouse temporal-table build — at 100 TB one window "
    "pass partitioned by the entity key, no self-join.",
    oracle="""
        SELECT user_id, event_id,
               floor(value * 10000.0 + 0.5) / 10000.0 AS value,
               epoch_ns(ts) // 1000 AS valid_from_us,
               lead(epoch_ns(ts) // 1000) OVER (
                 PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id) AS valid_to_us
        FROM events
    """,
)
def scd2_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    return ev.select(
        "user_id",
        "event_id",
        round_half_up(F.col("value"), 4).alias("value"),
        F.unix_micros("ts").alias("valid_from_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("valid_to_us"),
    )


# --------------------------------------------------------------------------------------
# Data profiling — the per-column quality report a pipeline runs before/after
# every ingest (null counts, cardinality, value range).  Beyond the reference's
# own surface (its admin "incremental info" stats are per-table counts only,
# db/dump.py:138-155); this is the dataset-card / expectation-check operator.
# --------------------------------------------------------------------------------------
@query(
    "column_profile",
    family="A1,A3,QUALITY",
    doc="Column profile of the orders table: per column the null count, "
    "distinct count, and min/max rendered to a stable string (doubles via "
    "%.2f so both engines agree on repr).  Shape: a UNION of per-column "
    "aggregates, one COLUMN-PRUNED scan each — on a columnar store N "
    "single-column scans read the same total bytes as one full-width scan, "
    "and each branch hash-aggregates independently.  (The tempting "
    "alternative — one wide agg with 6 count_distincts — plans as a 7-way "
    "Expand followed by a SortAggregate over the full-width rows, because "
    "min/max over STRING columns can't use the hash aggregate; measured 40x "
    "slower at sf0.1.)  At 100 TB the branches also parallelize across the "
    "cluster instead of serializing into one sort.",
    oracle="""
        SELECT 'o_custkey' AS column_name,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
               CAST(min(o_custkey) AS VARCHAR) AS min_repr,
               CAST(max(o_custkey) AS VARCHAR) AS max_repr
        FROM orders
        UNION ALL
        SELECT 'o_orderdate',
               CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT o_orderdate) AS BIGINT),
               CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderkey',
               CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT o_orderkey) AS BIGINT),
               CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority',
               CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT o_orderpriority) AS BIGINT),
               min(o_orderpriority), max(o_orderpriority)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus',
               CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT o_orderstatus) AS BIGINT),
               min(o_orderstatus), max(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice',
               CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT o_totalprice) AS BIGINT),
               printf('%.2f', min(o_totalprice)), printf('%.2f', max(o_totalprice))
        FROM orders
    """,
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def render(col: str, dtype: str):
        if dtype == "double":
            return (
                F.format_string("%.2f", F.min(col)),
                F.format_string("%.2f", F.max(col)),
            )
        return F.min(col).cast("string"), F.max(col).cast("string")

    cols = [
        ("o_custkey", "long"),
        ("o_orderdate", "date"),
        ("o_orderkey", "long"),
        ("o_orderpriority", "string"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
    ]
    from functools import reduce

    branches = []
    for c, t in cols:
        mn, mx = render(c, t)
        branches.append(
            o.select(c)
            .agg(
                F.sum(F.col(c).isNull().cast("int")).cast("long").alias("n_null"),
                F.count_distinct(F.col(c)).cast("long").alias("n_distinct"),
                mn.alias("min_repr"),
                mx.alias("max_repr"),
            )
            .select(F.lit(c).alias("column_name"), "n_null", "n_distinct", "min_repr", "max_repr")
        )
    return reduce(DataFrame.unionByName, branches)


@query(
    "cube_revenue",
    family="A2,A8",
    doc="Full CUBE(l_returnflag, l_linestatus): every subtotal combination — "
    "per-pair rows, per-flag and per-status marginals, and the grand total — "
    "from ONE aggregation pass (Spark expands the 4 grouping sets map-side "
    "before the exchange, exactly like the ROLLUP plan; no self-union of "
    "re-aggregations).  Completes the grouping-sets surface next to "
    "rollup_revenue and event_type_pivot.",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_items,
               {sql_round_half_up('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            round_half_up(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


@query(
    "gap_fill_forward",
    family="W3,P9",
    doc="Time-series gap filling: build each user's complete daily calendar "
    "(sequence + explode — no driver-side date loop), left-join the daily "
    "rollup, and forward-fill missing days with last(ignorenulls) over the "
    "per-user ordered window.  The standard densify-then-fill operator for "
    "downstream models that need a regular grid.  Shuffles: the daily "
    "rollup and the window, both on the uniform user key; the calendar "
    "explode multiplies rows only by each user's span.",
    oracle=f"""
        WITH daily AS (
          SELECT user_id, CAST(ts AS DATE) AS day,
                 {sql_round_half_up('sum(value)', 4)} AS day_value
          FROM events GROUP BY user_id, CAST(ts AS DATE)
        ),
        bounds AS (SELECT user_id, min(day) AS mn, max(day) AS mx FROM daily GROUP BY user_id),
        cal AS (
          SELECT user_id, CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
          FROM bounds
        ),
        j AS (
          SELECT cal.user_id, cal.day, daily.day_value
          FROM cal LEFT JOIN daily USING (user_id, day)
        )
        SELECT user_id, day, day_value,
               last_value(day_value IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
               day_value IS NULL AS is_gap
        FROM j
    """,
)
def gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(round_half_up(F.sum("value"), 4).alias("day_value"))
    )
    cal = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(
            "user_id",
            F.explode(F.sequence("mn", "mx", F.expr("interval 1 day"))).alias("day"),
        )
    )
    j = cal.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "day",
        "day_value",
        F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("day_value").isNull().alias("is_gap"),
    )


@query(
    "rolling_active_users",
    family="A3,W3,P9",
    doc="Rolling 7-day distinct active users per observed day (the DAU/WAU "
    "analytics shape): pre-distinct (day, user) pairs, fan each pair out to "
    "the <=7 report days it supports (sequence + explode — bounded "
    "multiply), keep observed report days via a broadcast semi-join, one "
    "count-distinct per day.  Distinct-over-sliding-window is NOT "
    "decomposable into per-day partials, so the fan-out + exact distinct is "
    "the honest exact plan; the approximate path swaps in mergeable HLL "
    "sketches per day (approx_distinct_sketch) with no fan-out at all.",
    oracle="""
        WITH e AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        days AS (SELECT DISTINCT d FROM e),
        x AS (
          SELECT CAST(unnest(generate_series(e.d, e.d + 6, INTERVAL 1 DAY)) AS DATE) AS rd,
                 e.user_id
          FROM e
        )
        SELECT x.rd AS day, CAST(count(DISTINCT x.user_id) AS BIGINT) AS active_users_7d
        FROM x JOIN days ON days.d = x.rd
        GROUP BY x.rd
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    # derive observed days straight from the ts column, NOT from e: reusing e
    # would run the big (day, user) distinct twice (no ReuseExchange — the
    # extra distinct on top makes the subplans non-identical); this branch
    # scans one column and its partial agg collapses to |days| rows map-side
    days = ev.select(F.to_date("ts").alias("rd")).distinct()
    x = e.select(
        F.explode(F.sequence(F.col("d"), F.date_add("d", 6), F.expr("interval 1 day"))).alias("rd"),
        "user_id",
    )
    return (
        x.join(F.broadcast(days), "rd")
        .groupBy(F.col("rd").alias("day"))
        .agg(F.count_distinct("user_id").cast("long").alias("active_users_7d"))
    )


# --------------------------------------------------------------------------------------
# Wide -> long unpivot (melt).  The reference's statistics JSONs are stored
# wide (db/stats.py one row of many counters); every charting/metric sink
# wants them long.  Spark's native unpivot is an Expand node — one scan, no
# join, no shuffle (plan-asserted in tests/test_plans.py).
# --------------------------------------------------------------------------------------
@query(
    "unpivot_wide_metrics",
    family="F14,A9",
    doc="part's numeric attributes melted to (p_partkey, attr, val) via the "
    "native unpivot/Expand — the inverse of event_type_pivot; one scan, "
    "zero shuffles.",
    oracle=f"""
        SELECT p_partkey, 'p_size' AS attr, {sql_round_half_up('CAST(p_size AS DOUBLE)', 2)} AS val
        FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS attr, {sql_round_half_up('p_retailprice', 2)} AS val
        FROM part
    """,
)
def unpivot_wide_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    wide = part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").alias("p_retailprice"),
    )
    melted = wide.unpivot("p_partkey", ["p_size", "p_retailprice"], "attr", "val")
    return melted.select("p_partkey", "attr", round_half_up(F.col("val"), 2).alias("val"))


# --------------------------------------------------------------------------------------
# RANGE-frame window — trailing 30-day revenue per customer at every order.
# ROWS frames (daily_moving_average) count rows; RANGE frames bound by VALUE
# distance, the correct semantics for irregular time series (orders don't
# arrive daily).  Both engines implement RANGE peers identically over an
# integer day ordering.
# --------------------------------------------------------------------------------------
@query(
    "range_frame_revenue",
    family="W3,P9",
    doc="Per order: customer's order count and revenue over the trailing "
    "30-day RANGE window (value-bounded frame over days-since-epoch, ties "
    "= peers included, matching SQL RANGE semantics exactly).",
    oracle=f"""
        SELECT o_orderkey, o_custkey,
               count(*) OVER w AS n_orders_30d,
               {sql_round_half_up('sum(o_totalprice) OVER w', 2)} AS revenue_30d
        FROM (SELECT *, CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) // 86400 AS BIGINT) AS day
              FROM orders)
        WINDOW w AS (PARTITION BY o_custkey ORDER BY day
                     RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
    """,
)
def range_frame_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.withColumn("day", (F.unix_timestamp("o_orderdate") / F.lit(86400)).cast("long"))
    w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-30, 0)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
        round_half_up(F.sum("o_totalprice").over(w), 2).alias("revenue_30d"),
    )


# --------------------------------------------------------------------------------------
# Batch interval join — error events followed by clicks from the same user
# within 10 minutes.  The batch twin of streaming_interval_join: equi-key on
# user plus a range predicate on ts, which Spark executes as a sort-merge
# join with the range as a post-join predicate — per-user partitioned, never
# a cross product.  (The streaming variant additionally bounds state with
# watermarks; same logical semantics.)
# --------------------------------------------------------------------------------------
@query(
    "event_range_join",
    family="J1,P9",
    doc="Per error event: number of clicks by the same user in the next 10 "
    "minutes (equi + range join).  Errors with zero follow-up clicks keep a "
    "row (left join) — absence is signal for alert correlation.",
    oracle="""
        SELECT e.event_id, e.user_id,
               CAST(count(c.event_id) AS BIGINT) AS n_clicks_10m
        FROM events e
        LEFT JOIN events c
          ON c.user_id = e.user_id
         AND c.event_type = 'click'
         AND c.ts > e.ts
         AND c.ts <= e.ts + INTERVAL 10 MINUTE
        WHERE e.event_type = 'error'
        GROUP BY e.event_id, e.user_id
    """,
)
def event_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    joined = err.join(
        clk,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") > F.col("ts"))
        & (F.col("c_ts") <= F.col("ts") + F.expr("INTERVAL 10 MINUTES")),
        "left",
    )
    return joined.groupBy("event_id", "user_id").agg(
        F.count("c_id").cast("long").alias("n_clicks_10m")
    )


# --------------------------------------------------------------------------------------
# J1/A2/O4 — large-quantity order report (the TPC-H Q18 composition: HAVING
# over a grouped fact feeding a dim join + global top-k).  Scale shape: the
# HAVING filter runs in the lineitem aggregate BEFORE any join, so the
# order/customer joins see only the qualifying ~1% of orderkeys; the final
# global order is a TakeOrderedAndProject, never a full sort.
# --------------------------------------------------------------------------------------
_LARGE_ORDER_MIN_QTY = 250
_LARGE_ORDER_TOP = 100


@query(
    "large_order_customers",
    family="J1,A2,O4",
    doc=f"Customers holding orders whose total lineitem quantity exceeds "
    f"{_LARGE_ORDER_MIN_QTY} (TPC-H Q18 shape): the quantity rollup is "
    "HAVING-filtered before the orders/customer joins attach names, so "
    "joins move only qualifying keys; top-k on (rounded price, orderkey).",
    oracle=f"""
        SELECT c.c_name, o.o_custkey, o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS orderdate,
               {sql_round_half_up('o.o_totalprice', 2)} AS totalprice,
               {sql_round_half_up('t.sum_qty', 2)} AS sum_qty
        FROM (
          SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(l_quantity) > {_LARGE_ORDER_MIN_QTY}
        ) t
        JOIN orders o ON o.o_orderkey = t.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        ORDER BY {sql_round_half_up('o.o_totalprice', 2)} DESC, o.o_orderkey
        LIMIT {_LARGE_ORDER_TOP}
    """,
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > _LARGE_ORDER_MIN_QTY)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = big.join(o, big.l_orderkey == o.o_orderkey).join(
        c, F.col("o_custkey") == F.col("c_custkey")
    )
    out = j.select(
        "c_name",
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("orderdate"),
        round_half_up(F.col("o_totalprice"), 2).alias("totalprice"),
        round_half_up(F.col("q"), 2).alias("sum_qty"),
    )
    return out.orderBy(F.desc("totalprice"), "o_orderkey").limit(_LARGE_ORDER_TOP)


# --------------------------------------------------------------------------------------
# J4 + scalar subquery — dormant high-balance customers per nation (the TPC-H
# Q22 composition: a global-average scalar broadcast gates the probe side of
# an anti join).  Scale shape: the AVG is one partial-aggregated scan
# broadcast as a 1-row build; the anti join shuffles on custkey; the nation
# dim broadcasts.
# --------------------------------------------------------------------------------------
_DORMANT_CUTOFF = "2000-01-01"


@query(
    "dormant_rich_customers",
    family="J4,A1,J2",
    doc="Per nation: customers with above-global-average positive balance "
    f"and NO orders on/after {_DORMANT_CUTOFF} (TPC-H Q22 shape): scalar "
    "AVG subquery broadcast + anti join against the recent-orders keys + "
    "broadcast nation dim.",
    oracle=f"""
        SELECT n.n_name,
               CAST(count(*) AS BIGINT) AS n_cust,
               {sql_round_half_up('sum(c.c_acctbal)', 2)} AS total_bal
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE c.c_acctbal > (
                SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0
              )
          AND NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '{_DORMANT_CUTOFF} 00:00:00'
              )
        GROUP BY n.n_name
    """,
)
def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(_DORMANT_CUTOFF).cast("timestamp"))
        .select("o_custkey")
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    dormant = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return (
        dormant.join(F.broadcast(n), dormant.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cust"),
            round_half_up(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


# --------------------------------------------------------------------------------------
# J5+J4 composition — suppliers solely responsible for slow multi-supplier
# orders (the TPC-H Q21 EXISTS + NOT EXISTS composition).  Spark-first shape:
# instead of two correlated subqueries (two extra joins against lineitem),
# ONE per-order aggregate computes the distinct supplier count and the
# distinct LATE-supplier set together; the sole-late-supplier filter is then
# a row-local predicate and only (orderkey, suppkey) survivors reach the
# supplier-name join.  Late = shipped > 60 days after the order date.
# --------------------------------------------------------------------------------------
_SLOW_DAYS = 60
_SLOW_TOP = 50


@query(
    "slow_fulfillment_suppliers",
    family="J5,J4,A3",
    doc="Per supplier: count of multi-supplier orders where this supplier "
    f"was the ONLY one shipping > {_SLOW_DAYS} days after the order date "
    "(TPC-H Q21 shape).  The EXISTS/NOT-EXISTS pair folds into one "
    "per-order aggregate (supplier count + late-supplier set), so lineitem "
    "is scanned once, not three times.",
    oracle=f"""
        WITH ls AS (
          SELECT l.l_orderkey, l.l_suppkey,
                 max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL {_SLOW_DAYS} DAY
                          THEN 1 ELSE 0 END) AS late
          FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
          GROUP BY 1, 2
        ),
        agg AS (
          SELECT l_orderkey,
                 count(*) AS n_supp,
                 sum(late) AS n_late,
                 max(CASE WHEN late = 1 THEN l_suppkey END) AS the_late_supp
          FROM ls GROUP BY 1
        )
        SELECT s.s_name, CAST(count(*) AS BIGINT) AS n_waiting_orders
        FROM agg JOIN supplier s ON s.s_suppkey = agg.the_late_supp
        WHERE agg.n_supp > 1 AND agg.n_late = 1
        GROUP BY s.s_name
        ORDER BY n_waiting_orders DESC, s.s_name
        LIMIT {_SLOW_TOP}
    """,
)
def slow_fulfillment_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late_flag = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr(f"INTERVAL {_SLOW_DAYS} DAYS")
    ).cast("int")
    ls = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late_flag).alias("late"))
    )
    agg = ls.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("late").alias("n_late"),
        F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("the_late_supp"),
    )
    sole = agg.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.join(s, sole.the_late_supp == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_waiting_orders"))
        .orderBy(F.desc("n_waiting_orders"), "s_name")
        .limit(_SLOW_TOP)
    )


# --------------------------------------------------------------------------------------
# J1/DEDUP — blocked fuzzy-match diagnostics (entity resolution over part names)
# --------------------------------------------------------------------------------------
_FUZZY_LEV = 2


@query(
    "fuzzy_name_match_report",
    family="J1,DEDUP,DQ",
    doc="Entity-resolution blocking diagnostics: candidate part pairs block "
    "on (brand, size), a LOSSLESS length-band prefilter drops pairs whose "
    f"name lengths differ by > {_FUZZY_LEV} (edit distance >= length gap), "
    f"and survivors verify with levenshtein <= {_FUZZY_LEV}.  The per-brand "
    "report (blocked / length-band / matched counts) is the funnel every "
    "blocking-strategy tuning loop reads.  Scale shape: the self-join "
    "shuffles on the block key — never all-pairs; the length filter is a "
    "join predicate, so the quadratic-ish edit distance runs only inside "
    "band survivors.",
    oracle=f"""
        WITH p AS (SELECT p_partkey, p_brand, p_size, p_name FROM part),
        cand AS (
          SELECT a.p_brand,
                 abs(len(a.p_name) - len(b.p_name)) <= {_FUZZY_LEV} AS in_band,
                 CASE WHEN abs(len(a.p_name) - len(b.p_name)) <= {_FUZZY_LEV}
                      THEN levenshtein(a.p_name, b.p_name) <= {_FUZZY_LEV}
                      ELSE FALSE END AS matched
          FROM p a JOIN p b
            ON a.p_brand = b.p_brand AND a.p_size = b.p_size
           AND a.p_partkey < b.p_partkey
        )
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n_blocked,
               CAST(sum(CASE WHEN in_band THEN 1 ELSE 0 END) AS BIGINT) AS n_band,
               CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
        FROM cand GROUP BY p_brand
    """,
)
def fuzzy_name_match_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size", "p_name")
    a = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_partkey").alias("id_a"),
        F.col("p_name").alias("name_a"),
    )
    b = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("name_b"),
    )
    cand = (
        a.join(b, ["brand", "size"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "brand",
            (F.abs(F.length("name_a") - F.length("name_b")) <= _FUZZY_LEV).alias("in_band"),
            "name_a",
            "name_b",
        )
        .select(
            "brand",
            "in_band",
            # levenshtein only evaluates inside the length band
            F.when(
                F.col("in_band"), F.levenshtein("name_a", "name_b") <= _FUZZY_LEV
            ).otherwise(F.lit(False)).alias("matched"),
        )
    )
    return cand.groupBy(F.col("brand").alias("p_brand")).agg(
        F.count(F.lit(1)).cast("long").alias("n_blocked"),
        F.sum(F.col("in_band").cast("int")).cast("long").alias("n_band"),
        F.sum(F.col("matched").cast("int")).cast("long").alias("n_matched"),
    )


# --------------------------------------------------------------------------------------
# A2 + scalar-max join — top-revenue supplier over a shipping quarter (the
# TPC-H Q15 view-plus-max composition).  Scale shape: ONE partial-aggregated
# scan builds the per-supplier revenue view; its scalar MAX broadcasts as a
# 1-row build; the equality filter reuses the SAME aggregate exchange (no
# second scan); the supplier dim broadcasts onto the (usually single-row)
# winner set.
# --------------------------------------------------------------------------------------
_Q15_START = "1996-01-01"
_Q15_END = "1996-04-01"  # exclusive: one quarter


@query(
    "top_supplier_revenue",
    family="A2,J2,O4",
    doc=f"Supplier(s) with the maximum lineitem revenue (sum of "
    f"extendedprice*(1-discount)) shipped in [{_Q15_START}, {_Q15_END}) — "
    "the TPC-H Q15 shape.  The revenue view aggregates ONCE; the global "
    "max attaches as a broadcast 1-row cross join and the winners filter "
    "rides the same exchange (Catalyst reuses the aggregate for both "
    "consumers).  Revenue is rounded half-up to 2 BEFORE the max/equality "
    "so the winner set is cross-engine stable at fp tie boundaries.",
    oracle=f"""
        WITH rev AS (
          SELECT l_suppkey, {sql_round_half_up("sum(l_extendedprice * (1 - l_discount))", 2)} AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '{_Q15_START}' AND l_shipdate < TIMESTAMP '{_Q15_END}'
          GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
        WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
        ORDER BY s.s_suppkey
    """,
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit(_Q15_START).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_Q15_END).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            round_half_up(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    winners = rev.crossJoin(F.broadcast(mx)).filter(F.col("total_revenue") == F.col("mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        winners.join(F.broadcast(s), winners.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------------------
# A3 + J4 — supplier diversity per part attribute group (the TPC-H Q16
# composition: distinct-count with an excluded-supplier anti join).  The
# schema has no partsupp table; lineitem's (l_partkey, l_suppkey) pairs ARE
# the observed part-supplier relation, deduped with one grouped exchange.
# Scale shape: the excluded-supplier set is a broadcast anti join on the
# scan; the (partkey, suppkey) dedup and the per-group distinct count hash
# on narrow long keys; the part dim broadcasts.
# --------------------------------------------------------------------------------------
_Q16_EXCL_BRAND = "Brand#13"
_Q16_MAX_SIZE = 25


@query(
    "part_supplier_diversity",
    family="A3,J4,J2",
    doc="Distinct-supplier count per (brand, type, size) over the observed "
    "part-supplier pairs in lineitem (TPC-H Q16 shape: partsupp is not in "
    "this schema; the shipped pairs stand in).  Suppliers with negative "
    f"account balance are excluded by a broadcast anti join; brand "
    f"{_Q16_EXCL_BRAND} and sizes > {_Q16_MAX_SIZE} are excluded by "
    "broadcast-dim predicates BEFORE the distinct-count shuffle, so the "
    "aggregate moves only qualifying narrow keys.  Top-40 by (count desc, "
    "brand, type, size) keeps the result bounded and the order total.",
    oracle=f"""
        WITH ps AS (
          SELECT DISTINCT l.l_partkey, l.l_suppkey
          FROM lineitem l
          WHERE l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        )
        SELECT p.p_brand, p.p_type, p.p_size,
               CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
        WHERE p.p_brand <> '{_Q16_EXCL_BRAND}' AND p.p_size <= {_Q16_MAX_SIZE}
        GROUP BY p.p_brand, p.p_type, p.p_size
        ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
        LIMIT 40
    """,
)
def part_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") != _Q16_EXCL_BRAND) & (F.col("p_size") <= _Q16_MAX_SIZE))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    ps = (
        li.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    out = ps.groupBy("p_brand", "p_type", "p_size").agg(
        F.count(F.lit(1)).cast("long").alias("supplier_cnt")
    )
    return out.orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size").limit(40)


# --------------------------------------------------------------------------------------
# J2 — regional co-located supplier volume (TPC-H Q5 shape): revenue per
# nation where the customer and the shipping supplier sit in the SAME nation,
# within one region and one order-date year.  Scale shape: region/nation/
# supplier broadcast; customer joins orders on custkey (shuffle), the result
# joins lineitem on orderkey (the one big shuffle); the same-nation predicate
# is an equi-condition of the supplier join, not a post-filter.
# --------------------------------------------------------------------------------------
_Q5_REGION = "ASIA"
_Q5_START = "1996-01-01"
_Q5_END = "1997-01-01"


@query(
    "regional_supplier_volume",
    family="J2,A2",
    doc=f"Revenue per nation in region {_Q5_REGION} for order-year "
    f"[{_Q5_START}, {_Q5_END}) where customer and supplier share the "
    "nation (TPC-H Q5): broadcast dim chain region->nation->supplier, "
    "customer x orders then lineitem equi-joins, same-nation enforced in "
    "the supplier join key.  Revenue rounded half-up to 2 before the "
    "final ordering.",
    oracle=f"""
        SELECT n.n_name,
               {sql_round_half_up("sum(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = '{_Q5_REGION}'
          AND o.o_orderdate >= TIMESTAMP '{_Q5_START}'
          AND o.o_orderdate < TIMESTAMP '{_Q5_END}'
        GROUP BY n.n_name
        ORDER BY revenue DESC, n.n_name
    """,
)
def regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q5_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q5_END).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == _Q5_REGION)
    nat = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    j = (
        c.join(F.broadcast(nat), c.c_nationkey == nat.n_nationkey)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
    )
    return (
        j.groupBy("n_name")
        .agg(
            round_half_up(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


# --------------------------------------------------------------------------------------
# J2 — bilateral trade volume (TPC-H Q7 shape): shipped revenue between two
# nations by ship-year, both directions.  Scale shape: nation-filtered
# supplier and customer dims broadcast onto the lineitem/orders spine.
# --------------------------------------------------------------------------------------
_Q7_NATION_A = "NATION_3"
_Q7_NATION_B = "NATION_7"


@query(
    "nation_trade_volume",
    family="J2,A2",
    doc=f"Yearly shipped revenue between {_Q7_NATION_A} and {_Q7_NATION_B} "
    "in BOTH directions (TPC-H Q7): supplier-nation and customer-nation "
    "dims broadcast; the cross-pair filter keeps (A->B) and (B->A) rows "
    "only; group by (supp_nation, cust_nation, ship-year).",
    oracle=f"""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
               {sql_round_half_up("sum(l.l_extendedprice * (1 - l.l_discount))", 2)} AS volume
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        WHERE (sn.n_name = '{_Q7_NATION_A}' AND cn.n_name = '{_Q7_NATION_B}')
           OR (sn.n_name = '{_Q7_NATION_B}' AND cn.n_name = '{_Q7_NATION_A}')
        GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
        ORDER BY supp_nation, cust_nation, l_year
    """,
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(_Q7_NATION_A, _Q7_NATION_B)
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    j = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
        )
        .agg(
            round_half_up(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("volume")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------------------
# J2 + O4 — returned-item losses (TPC-H Q10 shape): top customers by revenue
# of RETURNED lineitems in one quarter.  Scale shape: the returnflag + date
# predicates prune at the scan; the revenue rollup happens on orderkey
# BEFORE customer attributes attach (joins move only qualifying keys).
# --------------------------------------------------------------------------------------
_Q10_START = "1996-07-01"
_Q10_END = "1996-10-01"
_Q10_TOP = 20


@query(
    "returned_item_losses",
    family="J2,A2,O4",
    doc=f"Top-{_Q10_TOP} customers by returned-item revenue (l_returnflag = "
    f"'R') for orders placed in [{_Q10_START}, {_Q10_END}) — TPC-H Q10.  "
    "Filters push to both scans; the per-customer rollup precedes the "
    "name/nation attachment; top-k on (rounded revenue desc, custkey).",
    oracle=f"""
        SELECT c.c_custkey, c.c_name, n.n_name,
               {sql_round_half_up("sum(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '{_Q10_START}'
          AND o.o_orderdate < TIMESTAMP '{_Q10_END}'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue DESC, c.c_custkey
        LIMIT {_Q10_TOP}
    """,
)
def returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q10_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q10_END).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
        )
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    out = (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey", "c_name", "n_name", round_half_up(F.col("rev"), 2).alias("revenue")
        )
    )
    return out.orderBy(F.desc("revenue"), "c_custkey").limit(_Q10_TOP)


# --------------------------------------------------------------------------------------
# A1 — promotional revenue share (TPC-H Q14 shape): one scan, conditional
# aggregation against a broadcast part dim, single scalar output row.
# --------------------------------------------------------------------------------------
_Q14_START = "1996-03-01"
_Q14_END = "1996-04-01"


@query(
    "promo_revenue_share",
    family="A1,J2",
    doc=f"Share of {_Q14_START[:7]} shipped revenue from PROMO parts "
    "(TPC-H Q14): ONE conditional aggregate over the date-pruned lineitem "
    "scan with the part-type dim broadcast; 100*promo/total computed on "
    "the exact sums and rounded once at the end.",
    oracle=f"""
        SELECT {sql_round_half_up(
            "100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)"
            " / sum(l.l_extendedprice * (1 - l.l_discount))", 4)} AS promo_share
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP '{_Q14_START}'
          AND l.l_shipdate < TIMESTAMP '{_Q14_END}'
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_Q14_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q14_END).cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return j.agg(
        round_half_up(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0)))
            / F.sum(rev),
            4,
        ).alias("promo_share")
    )


# --------------------------------------------------------------------------------------
# J3 + A9 — customer order-count distribution (TPC-H Q13 shape): left join
# preserving zero-order customers, then a count-of-counts histogram.  Scale
# shape: the per-customer rollup aggregates the FK side first (orders), then
# a LEFT join from customer fills the zeros — the distribution shuffle moves
# one row per customer, and the histogram is a second tiny aggregate.
# --------------------------------------------------------------------------------------
_Q13_EXCL_PRIORITY = "1-URGENT"


@query(
    "customer_order_distribution",
    family="J3,A9",
    doc="Distribution of per-customer order counts EXCLUDING one priority "
    f"class ({_Q13_EXCL_PRIORITY}) — TPC-H Q13.  The orders side "
    "aggregates BEFORE the customer join; the LEFT join keeps "
    "zero-order customers (coalesce 0), which is the part a naive inner "
    "join silently drops; the final histogram groups the counts.",
    oracle=f"""
        WITH per_cust AS (
          SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN (
            SELECT o_custkey, o_orderkey FROM orders
            WHERE o_orderpriority <> '{_Q13_EXCL_PRIORITY}'
          ) o ON o.o_custkey = c.c_custkey
          GROUP BY c.c_custkey
        )
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM per_cust
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != _Q13_EXCL_PRIORITY)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = c.join(o, c.c_custkey == o.o_custkey, "left").select(
        F.coalesce(F.col("n"), F.lit(0)).alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --------------------------------------------------------------------------------------
# J5 + A2 — late-shipment order priority check (TPC-H Q4 shape): EXISTS
# decorrelated to a left-semi join whose predicate spans both tables.
# Scale shape: the date window prunes the orders scan; only qualifying
# orderkeys cross the semi-join shuffle, and the lineitem side carries two
# columns.  The cross-table predicate (shipped >90 days after the order
# date) rides INSIDE the join condition, so no post-join filter
# materializes the non-qualifying pairs.
# --------------------------------------------------------------------------------------
_Q4_START = "1996-07-01"
_Q4_END = "1996-10-01"
_Q4_LATE_DAYS = 90


@query(
    "order_priority_check",
    family="J5,A2",
    doc=f"Orders per priority in [{_Q4_START}, {_Q4_END}) having at least "
    f"one lineitem shipped more than {_Q4_LATE_DAYS} days after the order "
    "date (TPC-H Q4 adapted to this schema's columns): EXISTS as a "
    "left-semi join with the late-shipment predicate in the join "
    "condition.",
    oracle=f"""
        SELECT o.o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '{_Q4_START}'
          AND o.o_orderdate < TIMESTAMP '{_Q4_END}'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL {_Q4_LATE_DAYS} DAY
          )
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q4_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q4_END).cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q4_LATE_DAYS} DAYS")),
            "left_semi",
        )
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------------------
# A1 — banded-predicate revenue delta (TPC-H Q6 shape): the "what would we
# have earned without these discounts" scan-only aggregate.  Scale shape:
# every predicate (date year, discount band, quantity cap) reaches the
# parquet scan as a pushed filter over three primitive columns; the plan is
# one WholeStageCodegen scan->partial-agg->single-row exchange.
# --------------------------------------------------------------------------------------
_Q6_START = "1997-01-01"
_Q6_END = "1998-01-01"
_Q6_DISC_LO = 0.04
_Q6_DISC_HI = 0.07
_Q6_MAX_QTY = 24


@query(
    "forecast_revenue_change",
    family="A1,P9",
    doc=f"Revenue that the [{_Q6_DISC_LO}, {_Q6_DISC_HI}] discount band gave "
    f"away in {_Q6_START[:4]} on small-quantity lineitems (< {_Q6_MAX_QTY}) "
    "— TPC-H Q6: a pure scan-side conjunctive-band aggregate, every "
    "predicate pushed to parquet; one scalar row out.",
    oracle=f"""
        SELECT {sql_round_half_up('sum(l_extendedprice * l_discount)', 2)} AS revenue_delta,
               count(*) AS n_lineitems
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{_Q6_START}'
          AND l_shipdate < TIMESTAMP '{_Q6_END}'
          AND l_discount BETWEEN {_Q6_DISC_LO} AND {_Q6_DISC_HI}
          AND l_quantity < {_Q6_MAX_QTY}
    """,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(_Q6_START).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_Q6_END).cast("timestamp"))
            & (F.col("l_discount") >= _Q6_DISC_LO)
            & (F.col("l_discount") <= _Q6_DISC_HI)
            & (F.col("l_quantity") < _Q6_MAX_QTY)
        )
        .agg(
            round_half_up(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue_delta"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# --------------------------------------------------------------------------------------
# J2 + A2 — national market share (TPC-H Q8 shape): the two-nation-chain
# join (customer nation -> region gate, supplier nation -> share numerator)
# with a conditional share per order-year.  Scale shape: all four dims
# (part, supplier, nation x2, region) broadcast; the only shuffles are the
# two fact equi-joins and the tiny year rollup; the share is ONE
# conditional aggregate, not two scans.
# --------------------------------------------------------------------------------------
_Q8_REGION = "ASIA"
_Q8_TYPE = "ECONOMY"
_Q8_SUPP_NATION = "NATION_5"


@query(
    "nation_market_share",
    family="J2,A2",
    doc=f"{_Q8_SUPP_NATION}'s share of {_Q8_TYPE}-part revenue sold to "
    f"{_Q8_REGION} customers, per order-year (TPC-H Q8): broadcast dim "
    "chain; share = conditional sum / total sum in one aggregate, "
    "rounded half-up to 4.",
    oracle=f"""
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               {sql_round_half_up(
                   "sum(CASE WHEN sn.n_name = '" + _Q8_SUPP_NATION + "' "
                   "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)"
                   " / sum(l.l_extendedprice * (1 - l.l_discount))", 4)} AS mkt_share
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = cn.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        WHERE r.r_name = '{_Q8_REGION}' AND p.p_type = '{_Q8_TYPE}'
        GROUP BY o_year
        ORDER BY o_year
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == _Q8_TYPE).select("p_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == _Q8_REGION)
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust_nat = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("cn_key")
    )
    supp_nat = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cust_nat), c.c_nationkey == F.col("cn_key"), "left_semi")
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(supp_nat), s.s_nationkey == F.col("sn_key"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            round_half_up(
                F.sum(F.when(F.col("supp_nation") == _Q8_SUPP_NATION, rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------------------
# J2 + A2 — product-line profit by supplier nation and year (TPC-H Q9
# shape, adapted: the testdata has no partsupp, so profit is the discounted
# revenue rather than revenue minus supplycost — the join/rollup shape is
# identical).  Scale shape: the p_name LIKE filter prunes the part dim
# BEFORE broadcast; lineitem joins move only matching partkeys.  The profit
# sum is computed over SCALED INTEGERS (price cents x discount basis
# points) so float addition order can't flip the 2-digit rounding — the
# same integer-moment determinism ab_welch_ttest uses.
# --------------------------------------------------------------------------------------
_Q9_NAME_FRAGMENT = "widget"


@query(
    "product_type_profit",
    family="J2,A2",
    doc=f"Profit proxy (discounted revenue) of parts named *{_Q9_NAME_FRAGMENT}* "
    "by supplier nation x order-year (TPC-H Q9 adapted — no partsupp table, "
    "so no supplycost term): LIKE-filtered part dim broadcast, supplier "
    "nation attached from broadcast dims, two-key rollup.",
    oracle=f"""
        SELECT sn.n_name AS supp_nation,
               CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               {sql_round_half_up(
                   "sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)"
                   " * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT))) / 10000.0", 2)} AS profit
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE '%{_Q9_NAME_FRAGMENT}%'
        GROUP BY supp_nation, o_year
        ORDER BY supp_nation, o_year DESC
    """,
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains(_Q9_NAME_FRAGMENT))
        .select("p_partkey")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    disc_bp = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    return (
        j.groupBy("supp_nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            round_half_up(F.sum(cents * (F.lit(100) - disc_bp)) / F.lit(10000.0), 2).alias(
                "profit"
            )
        )
        .orderBy("supp_nation", F.desc("o_year"))
    )


# --------------------------------------------------------------------------------------
# J1 + A1 — disjunctive-band revenue (TPC-H Q19 shape): three OR'd
# (brand, size, quantity) bands over the part join.  Scale shape: the
# disjunction splits into a part-side predicate (brand/size — prunes the
# broadcast dim) and a join-output predicate (the per-branch quantity
# bands); Catalyst pushes the common `p_size <= max` and the quantity
# range envelope to the scans, and the OR evaluates inside the join's
# generated code — no union-of-three-scans blowup.
# --------------------------------------------------------------------------------------
_Q19_BANDS = (
    ("Brand#11", 15, 5.0, 15.0),
    ("Brand#14", 30, 15.0, 30.0),
    ("Brand#16", 50, 25.0, 45.0),
)


@query(
    "brand_quantity_revenue",
    family="J1,A1",
    doc="Revenue from three OR'd (brand, max-size, quantity-band) branches "
    "(TPC-H Q19 adapted to this schema): the disjunction evaluates inside "
    "the broadcast part join; one scalar aggregate out.",
    oracle=f"""
        SELECT {sql_round_half_up("sum(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue,
               count(*) AS n_lineitems
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE {" OR ".join(
            f"(p.p_brand = '{b}' AND p.p_size BETWEEN 1 AND {sz}"
            f" AND l.l_quantity BETWEEN {lo} AND {hi})"
            for (b, sz, lo, hi) in _Q19_BANDS
        )}
    """,
)
def brand_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    branch = None
    for b, sz, lo, hi in _Q19_BANDS:
        cond = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(1, sz)
            & F.col("l_quantity").between(lo, hi)
        )
        branch = cond if branch is None else (branch | cond)
    # the brand/size half of each branch prunes the broadcast dim: a part
    # row outside EVERY (brand, size) envelope can never satisfy the OR
    part_env = None
    for b, sz, _lo, _hi in _Q19_BANDS:
        c = (F.col("p_brand") == b) & F.col("p_size").between(1, sz)
        part_env = c if part_env is None else (part_env | c)
    j = li.join(F.broadcast(p.filter(part_env)), li.l_partkey == p.p_partkey)
    return j.filter(branch).agg(
        round_half_up(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


# --------------------------------------------------------------------------------------
# J1 + LAYOUT — skew-isolated join: the classic hot-key split.  AQE's
# skew-join handles shuffle-side skew by splitting oversized partitions,
# but the canonical manual pattern still matters at 100 TB when the hot
# keys are known (catalog stats / heavy-hitter sketch): route the hot
# keys' facts through a BROADCAST of just their dim rows (no shuffle at
# all for the heavy mass), and only the cold long-tail through the
# ordinary shuffle join.  The result must be EXACTLY the plain join —
# the oracle enforces it.
# --------------------------------------------------------------------------------------
_SKEW_HOT_K = 5


@query(
    "skew_isolated_join",
    family="J1,LAYOUT",
    doc=f"events x customer with the top-{_SKEW_HOT_K} hottest user keys "
    "routed through a broadcast-dim join (their dim rows only) and the "
    "cold tail through the shuffle join; union then rollup per market "
    "segment.  Identical output to the plain join by construction.",
    oracle=f"""
        WITH hot AS (
          SELECT user_id FROM (
            SELECT user_id, count(*) AS n FROM events GROUP BY user_id
            ORDER BY n DESC, user_id LIMIT {_SKEW_HOT_K}
          )
        )
        SELECT c.c_mktsegment,
               count(*) AS n_events,
               {sql_round_half_up('sum(e.value)', 2)} AS sum_value,
               count(DISTINCT e.user_id) AS n_users
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
    """,
)
def skew_isolated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    hot = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "user_id")
        .limit(_SKEW_HOT_K)
        .select("user_id")
    )
    # hot path: facts for the heavy keys never shuffle — their (tiny) dim
    # slice broadcasts onto them; at 100 TB this is the mass of the data.
    # cold path: the long tail takes the ordinary shuffle join.
    from ..functions.skew import hot_cold_split_join

    hot_j, cold_j = hot_cold_split_join(
        ev, cust, fact_key="user_id", dim_key="c_custkey", hot_keys=hot
    )
    hot_joined = hot_j.select("user_id", "value", "c_mktsegment")
    cold_joined = cold_j.select("user_id", "value", "c_mktsegment")
    return (
        hot_joined.unionByName(cold_joined)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_half_up(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------------------
# AQE skew-join certification — the default-key (unknown-bucket) skew shape
# --------------------------------------------------------------------------------------
_AQE_SKEW_MOD = 4  # orderkeys with l_orderkey % 4 != 0 collapse onto the unknown bucket


@query(
    "skew_join_adaptive",
    family="J3,A2",
    doc="The default-key skew join every production pipeline hits: ~75% of "
    "fact rows carry the sentinel FK 0 (the 'unknown bucket' — here derived "
    "deterministically as l_orderkey % {m} != 0 so the oracle reproduces "
    "it), LEFT-joined to orders so unmatched rows survive as the UNKNOWN "
    "class, then a priority rollup.  Spark-first on TWO regimes: at small "
    "SF, AQE broadcasts the orders side — a broadcast hash join has no "
    "skew problem at all, the hot key never shuffles.  At 100 TB the dim "
    "no longer broadcasts and the plan becomes a sort-merge join whose hot "
    "post-shuffle partition Spark's OWN skew handling "
    "(spark.sql.adaptive.skewJoin) splits into advisory-sized chunks — "
    "certified by a plan-assertion pytest that forces the SMJ regime with "
    "lowered thresholds and asserts skew=true partitions AND unchanged "
    "results (tests/test_r10_queries.py).  Unlike skew_isolated_join "
    "(manual hot/cold planner, the engine-controlled path), this row "
    "certifies the runtime-adaptive path — both belong in a 100 TB "
    "toolbox: the planner when hot keys are known, AQE when they emerge "
    "at runtime.  (Reference analog: the J3 left join + A2 rollup, "
    "db/data.py:515-559.)".format(m=_AQE_SKEW_MOD),
    oracle=f"""
        WITH fact AS (
          SELECT CASE WHEN l_orderkey % {_AQE_SKEW_MOD} != 0 THEN 0
                      ELSE l_orderkey END AS order_fk,
                 l_extendedprice, l_discount
          FROM lineitem
        )
        SELECT coalesce(o_orderpriority, 'UNKNOWN') AS priority,
               CAST(count(*) AS BIGINT) AS n_items,
               {sql_round_half_up('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue
        FROM fact LEFT JOIN orders ON o_orderkey = order_fk
        GROUP BY coalesce(o_orderpriority, 'UNKNOWN')
        ORDER BY priority
    """,
)
def skew_join_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % _AQE_SKEW_MOD != 0, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("order_fk"),
        "l_extendedprice",
        "l_discount",
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        li.join(orders, li.order_fk == orders.o_orderkey, "left")
        .groupBy(F.coalesce("o_orderpriority", F.lit("UNKNOWN")).alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            round_half_up(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("priority")
    )


@query(
    "skew_join_planned",
    family="J1,A2",
    doc="The KNOWN-hot-key rung of the skew ladder (the planner twin of "
    "skew_join_adaptive, second registered consumer of "
    "functions/skew.py's hot_cold_split_join): ~75% of fact rows are "
    "remapped onto ONE existing orderkey (min(o_orderkey), a 1-row "
    "broadcast relation — so the hot key always matches at every SF), "
    "then the join routes the hot mass through broadcast-only joins "
    "(their dim slice broadcasts ONTO them — the heavy rows never "
    "shuffle) while only the cold tail takes the ordinary join.  "
    "Measured at sf1 (SCALE.md skew playbook, interleaved x3, identical "
    "outputs): naive SMJ 2.52 s, AQE runtime split 1.46 s, this planner "
    "1.30 s — known-hot beats runtime-split because AQE splits the "
    "REDUCE side and still pays the hot rows' map-side scatter.  Use "
    "this form when hot keys are known up front (catalog stats, a "
    "heavy-hitter sketch — frequent_items_sketch is the feeder); AQE "
    "catches the ones nobody predicted.  The hot branch's "
    "broadcast-only plan contract is asserted in tests/test_plans.py.",
    oracle=f"""
        WITH mn AS (SELECT min(o_orderkey) AS hot_key FROM orders),
        fact AS (
          SELECT CASE WHEN l_orderkey % {_AQE_SKEW_MOD} != 0 THEN hot_key
                      ELSE l_orderkey END AS order_fk,
                 l_extendedprice, l_discount
          FROM lineitem CROSS JOIN mn
        )
        SELECT o_orderpriority AS priority,
               CAST(count(*) AS BIGINT) AS n_items,
               {sql_round_half_up('sum(l_extendedprice * (1 - l_discount))', 2)} AS revenue
        FROM fact JOIN orders ON o_orderkey = order_fk
        GROUP BY o_orderpriority
        ORDER BY priority
    """,
)
def skew_join_planned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.skew import hot_cold_split_join

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # the hot key as a 1-row broadcast relation — no driver collect, and it
    # provably exists in the dim at every SF
    mn = orders.agg(F.min("o_orderkey").alias("hot_key"))
    fact = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .crossJoin(F.broadcast(mn))
        .select(
            F.when(F.col("l_orderkey") % _AQE_SKEW_MOD != 0, F.col("hot_key"))
            .otherwise(F.col("l_orderkey"))
            .alias("order_fk"),
            "l_extendedprice",
            "l_discount",
        )
    )
    hot_j, cold_j = hot_cold_split_join(
        fact,
        orders,
        fact_key="order_fk",
        dim_key="o_orderkey",
        hot_keys=mn.select(F.col("hot_key").alias("order_fk")),
    )
    cols = ["order_fk", "l_extendedprice", "l_discount", "o_orderpriority"]
    return (
        hot_j.select(*cols)
        .unionByName(cold_j.select(*cols))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            round_half_up(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------------------
# A-family — incremental aggregate-state MERGE: the materialized-view
# maintenance discipline.  A 100 TB rollup is never recomputed from
# scratch; yesterday's per-key state (count / sum / max — all mergeable
# monoids) FULL-OUTER-merges with the delta batch's state.  The oracle
# recomputes from the full table: merged-incremental == recomputed is
# exactly the correctness contract of incremental maintenance.  Sums are
# integer cents so the split point cannot introduce fp-order drift.
# --------------------------------------------------------------------------------------
_INC_SPLIT = "1999-01-01"
_INC_TOP = 200


@query(
    "incremental_agg_merge",
    family="A2,A8,CDC",
    doc=f"Per-customer order state (n, sum cents, latest date) built as "
    f"base (< {_INC_SPLIT}) MERGED with delta (>= {_INC_SPLIT}) via "
    "full-outer monoid combination; must equal the full recompute "
    f"(the oracle).  Top-{_INC_TOP} customers by (n, custkey).",
    oracle=f"""
        SELECT o_custkey,
               count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
               max(o_orderdate) AS latest_order
        FROM orders
        GROUP BY o_custkey
        ORDER BY n_orders DESC, o_custkey
        LIMIT {_INC_TOP}
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    split = F.lit(_INC_SPLIT).cast("timestamp")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s"),
            F.max("o_orderdate").alias("m"),
        )

    base = state(o.filter(F.col("o_orderdate") < split))
    delta = state(o.filter(F.col("o_orderdate") >= split))
    merged = (
        base.withColumnsRenamed({"n": "n_b", "s": "s_b", "m": "m_b"})
        .join(
            delta.withColumnsRenamed({"n": "n_d", "s": "s_d", "m": "m_d"}),
            "o_custkey",
            "full_outer",
        )
        .select(
            "o_custkey",
            (F.coalesce(F.col("n_b"), F.lit(0)) + F.coalesce(F.col("n_d"), F.lit(0))).alias(
                "n_orders"
            ),
            (F.coalesce(F.col("s_b"), F.lit(0)) + F.coalesce(F.col("s_d"), F.lit(0))).alias(
                "sum_cents"
            ),
            F.greatest(F.col("m_b"), F.col("m_d")).alias("latest_order"),
        )
    )
    return merged.orderBy(F.desc("n_orders"), "o_custkey").limit(_INC_TOP)


# --------------------------------------------------------------------------------------
# TPC-H Q2 shape — min-equality join-back (scalar MIN subquery, ties kept)
# --------------------------------------------------------------------------------------
_Q2_REGION = "ASIA"


@query(
    "cheapest_supplier_per_part",
    family="J2,A2,O4",
    doc="The TPC-H Q2 composition adapted to this schema: for each part, the "
    "supplier(s) in one region offering the MINIMUM average effective price "
    "(correlated scalar-MIN subquery decorrelated to a grouped join-back).  "
    "Unlike latest_per_group's row_number top-1, the min-EQUALITY join "
    "keeps ties — the Q2 semantics.  The region restriction broadcasts "
    "through nation->supplier BEFORE the per-(part,supplier) aggregate, so "
    "the big fact scan aggregates only in-region rows; the min relation "
    "re-joins on (partkey, rounded price) — same shuffle key as the "
    "aggregate that produced it, no extra exchange.  Top 100 by price desc "
    "then part/supplier for a bounded result.",
    oracle=f"""
        WITH rs AS (
          SELECT s_suppkey, s_name, s_acctbal, n_name
          FROM supplier
          JOIN nation ON n_nationkey = s_nationkey
          JOIN region ON r_regionkey = n_regionkey AND r_name = '{_Q2_REGION}'
        ),
        ps AS (
          SELECT l_partkey, l_suppkey,
                 {sql_round_half_up('avg(l_extendedprice * (1 - l_discount))', 2)} AS eff_price
          FROM lineitem JOIN rs ON s_suppkey = l_suppkey
          GROUP BY l_partkey, l_suppkey
        ),
        mn AS (SELECT l_partkey, min(eff_price) AS min_price FROM ps GROUP BY l_partkey)
        SELECT p.p_partkey, p.p_brand, ps.eff_price, rs.s_name, rs.n_name,
               {sql_round_half_up('rs.s_acctbal', 2)} AS s_acctbal
        FROM ps
        JOIN mn ON mn.l_partkey = ps.l_partkey AND ps.eff_price = mn.min_price
        JOIN rs ON rs.s_suppkey = ps.l_suppkey
        JOIN part p ON p.p_partkey = ps.l_partkey
        ORDER BY ps.eff_price DESC, p.p_partkey, rs.s_name
        LIMIT 100
    """,
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == _Q2_REGION)
    part = load_table(spark, sf_dir, "part")
    rs = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # region prune BEFORE the fact aggregate.  The broadcast here is the
    # single-column in-region supplier KEY SET (suppkeys only, ~1/5 of the
    # supplier table) — a few MB per 1M suppliers, the standard dim-filter
    # probe; the full rs/part relations are NOT hinted (see join-back below)
    ps = (
        li.join(F.broadcast(rs.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            round_half_up(F.avg(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "eff_price"
            )
        )
    )
    # min join-back on the SAME key the aggregate shuffled on (ties kept —
    # the scalar-subquery equality, not a window top-1)
    mn = ps.groupBy("l_partkey").agg(F.min("eff_price").alias("min_price"))
    # no broadcast hints on rs/part here: both are SF-proportional relations
    # (supplier- and part-table sized), so a hard hint would force an
    # executor-memory cliff at scale — AQE picks broadcast when the
    # post-min-filter side is actually small, shuffle-hash otherwise
    return (
        ps.join(mn, "l_partkey")
        .filter(F.col("eff_price") == F.col("min_price"))
        .join(rs, ps.l_suppkey == rs.s_suppkey)
        .join(part, ps.l_partkey == part.p_partkey)
        .select(
            "p_partkey",
            "p_brand",
            "eff_price",
            "s_name",
            "n_name",
            round_half_up(F.col("s_acctbal"), 2).alias("s_acctbal"),
        )
        .orderBy(F.desc("eff_price"), "p_partkey", "s_name")
        .limit(100)
    )


# --------------------------------------------------------------------------------------
# TPC-H Q11 shape — HAVING against a global scalar from the SAME aggregation input
# --------------------------------------------------------------------------------------
# a part is "important" above 3/2 x the mean share; kept as an integer
# ratio so the HAVING compare stays bigint-vs-bigint end-to-end (a 1.5
# literal would promote both sides to double and silently lose exactness
# past 2^53 cents)
_Q11_MULT_NUM, _Q11_MULT_DEN = 3, 2


@query(
    "important_parts_value_share",
    family="A2,J2,O4",
    doc="The TPC-H Q11 composition: per-part total value (price x quantity "
    "over the lineitem fact) kept only where it exceeds a multiple of the "
    "MEAN per-part value — a HAVING predicate against scalar subqueries "
    "(global total AND part count) computed from the same aggregation "
    "input.  TPC-H's literal 'fraction of total' threshold is scale-"
    "dependent (0.0001/SF); the mean-relative form keeps selectivity "
    "stable at every SF, with the identical plan shape.  Spark-first: ONE "
    "per-part aggregate; the global scalars re-aggregate the per-part "
    "partials (tiny) instead of rescanning the fact, and cross back as a "
    "broadcast 1-row relation.  Cents-integer arithmetic end-to-end.",
    oracle=f"""
        WITH pv AS (
          SELECT l_partkey,
                 CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS value_cents
          FROM lineitem
          GROUP BY l_partkey
        ),
        tot AS (SELECT sum(value_cents) AS total_cents, count(*) AS n_parts FROM pv)
        SELECT l_partkey, value_cents
        FROM pv CROSS JOIN tot
        WHERE {_Q11_MULT_DEN} * value_cents * n_parts > {_Q11_MULT_NUM} * total_cents
        ORDER BY value_cents DESC, l_partkey
    """,
)
def important_parts_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    pv = li.groupBy("l_partkey").agg(
        F.sum(cents * F.col("l_quantity").cast("long")).cast("long").alias("value_cents")
    )
    tot = pv.agg(
        F.sum("value_cents").alias("total_cents"), F.count(F.lit(1)).alias("n_parts")
    )
    # integer cross-multiplication (den * value * n > num * total) keeps the
    # compare bigint-vs-bigint — no float division, no double promotion
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(
            F.lit(_Q11_MULT_DEN) * F.col("value_cents") * F.col("n_parts")
            > F.lit(_Q11_MULT_NUM) * F.col("total_cents")
        )
        .select("l_partkey", "value_cents")
        .orderBy(F.desc("value_cents"), "l_partkey")
    )


# --------------------------------------------------------------------------------------
# TPC-H Q20 shape — nested semi-join chain gated by a correlated aggregate threshold
# --------------------------------------------------------------------------------------
_Q20_MEAN_MULT = 2  # supplier dominates a part at > this multiple of the mean supplier share


@query(
    "dominant_part_suppliers",
    family="J5,A2,J2",
    doc="The TPC-H Q20 composition: suppliers who, for at least one part, "
    "shipped MORE than twice the mean per-supplier quantity of that part — "
    "a nested decorrelation: per-(part,supplier) quantity joined against "
    "the per-part total AND supplier count (same shuffle key, no extra "
    "exchange), the qualifying pairs collapse to a supplier key set that "
    "SEMI-joins the supplier dim.  The correlated 'threshold(sum(...)) "
    "WHERE same part' subquery never executes per-row — it is one grouped "
    "relation reused by every pair.  (TPC-H's literal 0.5*sum threshold "
    "assumes the partsupp skew this schema lacks; the mean-relative form "
    "keeps the shape with stable selectivity.)  Integer cross-multiply — "
    "no float division crosses the engines.",
    oracle=f"""
        WITH pq AS (
          SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS supp_qty
          FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        pt AS (SELECT l_partkey, sum(supp_qty) AS part_qty, count(*) AS n_supp
               FROM pq GROUP BY l_partkey),
        qualifying AS (
          SELECT DISTINCT pq.l_suppkey
          FROM pq JOIN pt ON pt.l_partkey = pq.l_partkey
          WHERE pq.supp_qty * pt.n_supp > {_Q20_MEAN_MULT} * pt.part_qty
        )
        SELECT s_suppkey, s_name, {sql_round_half_up('s_acctbal', 2)} AS s_acctbal
        FROM supplier
        WHERE s_suppkey IN (SELECT l_suppkey FROM qualifying)
        ORDER BY s_suppkey
    """,
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    pq = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").cast("long").alias("supp_qty")
    )
    # the correlated per-part aggregate as a window over the pair partials
    # (bounded: suppliers-per-part rows per partition) — no fact rescan, no
    # join-back, one fewer exchange than the grouped-join form (measured
    # faster at sf0.1 AND the 10x corpus, identical results)
    w = Window.partitionBy("l_partkey")
    qualifying = (
        pq.withColumn("part_qty", F.sum("supp_qty").over(w))
        .withColumn("n_supp", F.count(F.lit(1)).over(w))
        .filter(F.col("supp_qty") * F.col("n_supp") > _Q20_MEAN_MULT * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        sup.join(F.broadcast(qualifying), sup.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", round_half_up(F.col("s_acctbal"), 2).alias("s_acctbal"))
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------------------
# TPC-H Q21 shape — EXISTS + NOT-EXISTS self-correlations on the same fact, one aggregate
# --------------------------------------------------------------------------------------
_Q21_NATION = "NATION_7"
_Q21_LATE_DAYS = 365  # a line is "late" if shipped > this long after the order date


@query(
    "waiting_suppliers",
    family="J4,J5,A2",
    doc="The TPC-H Q21 composition ('suppliers who kept waiting orders'): "
    "count, per supplier in one nation, the late lineitems of finalized "
    "multi-supplier orders where that supplier was the ONLY late one.  The "
    "classic form is two correlated self-subqueries on the fact — EXISTS "
    "(another supplier in the order) AND NOT EXISTS (another LATE supplier) "
    "— per outer row; both decorrelate into ONE per-order aggregate pass: "
    "n_supp > 1 encodes the EXISTS, distinct-late-supplier-count = 1 "
    "encodes the NOT-EXISTS (the outer row is itself late, so it IS that "
    "one).  Spark-first: the fact shuffles AT MOST ONCE in either plan "
    "regime — at scale, SMJ exchanges lineitem/orders on orderkey and "
    "BOTH downstream aggregates reuse that exchange "
    "(HashPartitioning(orderkey) satisfies both ClusteredDistributions); "
    "at small SF, AQE broadcasts the status-filtered orders instead, the "
    "only fact exchange feeds the (orderkey, suppkey) aggregate, and "
    "later exchanges move pair PARTIALS (PLANS.md capture).  The "
    "two-level agg replaces count(DISTINCT) and avoids the "
    "Expand operator; the per-supplier rollup (<= |supplier| rows) joins "
    "the nation-filtered dim WITHOUT a broadcast hint (supplier is "
    "SF-proportional — AQE decides).  This schema has no receipt/commit "
    "dates, so 'late' is ship-lag > {d} days (reference analog: the "
    "J4 work-queue anti-joins, db/data.py:950-981).  Completes the "
    "Q21-lite slow_fulfillment_suppliers (same decorrelation core) with "
    "the full literal composition: o_orderstatus='F' restriction, "
    "LINE-level numwait (a supplier with 2 late lines in one qualifying "
    "order counts 2), the single-nation dim filter, and the "
    "numwait-desc top-100 output contract.".format(d=_Q21_LATE_DAYS),
    oracle=f"""
        WITH lo AS (
          SELECT l_orderkey, l_suppkey,
                 (l_shipdate > o_orderdate + INTERVAL {_Q21_LATE_DAYS} DAY) AS late
          FROM lineitem JOIN orders ON o_orderkey = l_orderkey AND o_orderstatus = 'F'
        ),
        ps AS (
          SELECT l_orderkey, l_suppkey,
                 max(CASE WHEN late THEN 1 ELSE 0 END) AS any_late,
                 CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS late_lines
          FROM lo GROUP BY l_orderkey, l_suppkey
        ),
        po AS (
          SELECT l_orderkey, count(*) AS n_supp,
                 CAST(sum(any_late) AS BIGINT) AS n_late,
                 min(CASE WHEN any_late = 1 THEN l_suppkey END) AS late_supp,
                 CAST(sum(late_lines) AS BIGINT) AS total_late_lines
          FROM ps GROUP BY l_orderkey
        ),
        bysupp AS (
          SELECT late_supp AS s_key, CAST(sum(total_late_lines) AS BIGINT) AS numwait
          FROM po WHERE n_supp > 1 AND n_late = 1 GROUP BY late_supp
        )
        SELECT s_name, numwait
        FROM bysupp
        JOIN supplier ON s_suppkey = s_key
        JOIN nation ON n_nationkey = s_nationkey AND n_name = '{_Q21_NATION}'
        ORDER BY numwait DESC, s_name
        LIMIT 100
    """,
)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == _Q21_NATION)
    # both sides fact-sized at scale: one sort-merge exchange on orderkey...
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q21_LATE_DAYS} DAYS")
        ).alias("late"),
    )
    # ...which BOTH aggregates below reuse (group keys ⊇ {orderkey}): the
    # two-level shape replaces two count(DISTINCT)s — no Expand, map-side
    # combinable partials
    ps = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("late").cast("int")).alias("any_late"),
        F.sum(F.col("late").cast("int")).cast("long").alias("late_lines"),
    )
    po = ps.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("any_late").cast("long").alias("n_late"),
        F.min(F.when(F.col("any_late") == 1, F.col("l_suppkey"))).alias("late_supp"),
        F.sum("late_lines").cast("long").alias("total_late_lines"),
    )
    bysupp = (
        po.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .groupBy("late_supp")
        .agg(F.sum("total_late_lines").cast("long").alias("numwait"))
    )
    # bysupp <= |supplier| rows; supplier is SF-proportional — no hard
    # broadcast hint, AQE picks the strategy (nation, 25 rows, does hint)
    return (
        bysupp.join(sup, bysupp.late_supp == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# --------------------------------------------------------------------------------------
# TPC-H Q22 shape — NOT EXISTS anti-join + substring bucketing + global-avg scalar gate
# --------------------------------------------------------------------------------------
_Q22_CODES = ("03", "13", "17", "18", "23", "29", "31")
_Q22_IDLE_DAYS = 180  # "idle" = no order in the trailing window of the order-date range
_Q22_CODES_SQL = ", ".join(f"'{c}'" for c in _Q22_CODES)


@query(
    "idle_customer_balance",
    family="J4,A1,A2",
    doc="The TPC-H Q22 composition ('global sales opportunity'): per "
    "country-code bucket, count and total balance of above-average-balance "
    "customers with NO recent orders.  Three classic sub-shapes in one "
    "query: substring bucketing over an IN-set (this schema has no c_phone "
    "— the code is the last 2 digits of the fixed-width c_name, same "
    "substring+IN shape), a scalar-subquery gate (avg balance over the "
    "POSITIVE-balance members of the same filtered scan), and a NOT-EXISTS "
    "decorrelated to a left-anti join.  Spark-first: the gate and the "
    "recency cutoff are 1-row broadcast relations (no driver collect); "
    "recent orders pre-aggregate to DISTINCT custkeys (map-combined, <= "
    "|customer| rows) before the anti-join so raw order rows never reach "
    "it; the trailing-{d}-day cutoff is derived from max(o_orderdate), so "
    "selectivity is scale-stable (TPC-H's literal date would go degenerate "
    "as the generated date range shifts).  Balances cross the engines as "
    "integer cents.  (Reference analog: the J4 unprocessed anti-join, "
    "db/data.py:950-981.)  Completes the Q22-lite dormant_rich_customers "
    "(same gate + anti-join core, grouped by nation with a FIXED literal "
    "cutoff) with the full literal composition: substring+IN-set country "
    "bucketing, the gate computed over the SAME code-filtered candidate "
    "scan (not all customers), per-code output, and the scale-stable "
    "trailing-window recency cutoff.".format(d=_Q22_IDLE_DAYS),
    oracle=f"""
        WITH cand AS (
          SELECT c_custkey, substr(c_name, 17, 2) AS cntrycode,
                 CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
          FROM customer
          WHERE substr(c_name, 17, 2) IN ({_Q22_CODES_SQL})
        ),
        gate AS (
          SELECT CAST(sum(bal_cents) AS BIGINT) AS sum_cents,
                 CAST(count(*) AS BIGINT) AS n_pos
          FROM cand WHERE bal_cents > 0
        ),
        cutoff AS (
          SELECT max(o_orderdate) - INTERVAL {_Q22_IDLE_DAYS} DAY AS cut FROM orders
        ),
        recent AS (
          SELECT DISTINCT o_custkey FROM orders CROSS JOIN cutoff
          WHERE o_orderdate > cut
        ),
        idle AS (
          SELECT cand.cntrycode, cand.bal_cents
          FROM cand CROSS JOIN gate
          WHERE cand.bal_cents * gate.n_pos > gate.sum_cents
            AND cand.c_custkey NOT IN (SELECT o_custkey FROM recent)
        )
        SELECT cntrycode,
               CAST(count(*) AS BIGINT) AS numcust,
               CAST(sum(bal_cents) AS BIGINT) AS tot_cents
        FROM idle
        GROUP BY cntrycode
        ORDER BY cntrycode
    """,
)
def idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    code = F.substring(F.col("c_name"), 17, 2)
    # balances live as EXACT integer cents from the scan on: the
    # above-average gate is then the integral cross-multiplication
    # bal_cents * n_pos > sum_cents (the Q11 pattern) — both engines
    # evaluate the same exact predicate, so a balance within 1 ulp of a
    # float mean can never flip membership between Spark and the oracle.
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
    cand = cust.filter(code.isin(*_Q22_CODES)).select(
        "c_custkey", code.alias("cntrycode"), cents.alias("bal_cents")
    )
    # scalar gate + recency cutoff as 1-row broadcast relations — the
    # decorrelated scalar subqueries never touch the driver
    gate = cand.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").cast("long").alias("sum_cents"),
        F.count(F.lit(1)).cast("long").alias("n_pos"),
    )
    cutoff = orders.agg(
        (F.max("o_orderdate") - F.expr(f"INTERVAL {_Q22_IDLE_DAYS} DAYS")).alias("cut")
    )
    recent = (
        orders.crossJoin(F.broadcast(cutoff))
        .filter(F.col("o_orderdate") > F.col("cut"))
        .select("o_custkey")
        .distinct()  # map-combined down to <= |customer| keys pre-anti-join
    )
    idle = (
        cand.crossJoin(F.broadcast(gate))
        .filter(F.col("bal_cents") * F.col("n_pos") > F.col("sum_cents"))
        .join(recent, cand.c_custkey == recent.o_custkey, "left_anti")
    )
    return (
        idle.groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum("bal_cents").cast("long").alias("tot_cents"),
        )
        .orderBy("cntrycode")
    )


# --------------------------------------------------------------------------------------
# TPC-H Q12 shape — two-class conditional counts over a lateness band join
# --------------------------------------------------------------------------------------
_Q12_HIGH = ("1-URGENT", "2-HIGH")
_Q12_HIGH_SQL = ", ".join(f"'{p}'" for p in _Q12_HIGH)


@query(
    "late_shipment_priority",
    family="J1,A2,P9",
    doc="The TPC-H Q12 composition ('shipping modes and order priority' — "
    "the last classic shape, completing all 22): per line status (this "
    "schema's shipmode analog), count late-shipped lines split into "
    "high-priority (1-URGENT/2-HIGH orders) vs low-priority classes — the "
    "canonical join + CASE-sum two-class rollup.  'Late' is the same "
    "ship-lag > {d} days band as waiting_suppliers (no receipt/commit "
    "dates in this schema); the band needs BOTH dates, so it filters "
    "after the join, but both scans project only their join/band/class "
    "columns.  Spark-first: the fact joins on orderkey (SMJ at scale; "
    "AQE broadcasts the pruned orders side at small SF), then ONE "
    "map-side-combined aggregate over a 2-row group space — the "
    "conditional classes are codegen CASE expressions, never a pivot or "
    "a second pass.".format(d=_Q21_LATE_DAYS),
    oracle=f"""
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ({_Q12_HIGH_SQL})
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ({_Q12_HIGH_SQL})
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL {_Q21_LATE_DAYS} DAY
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """,
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin(*_Q12_HIGH)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q21_LATE_DAYS} DAYS")
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(high.cast("long")).cast("long").alias("high_line_count"),
            F.sum((~high).cast("long")).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )
