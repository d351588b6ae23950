"""Dataset-eval job queue (M2) and similarity eval-results store (V7).

Reference: db/dataset_eval.py — a pending→running→done/failed state machine
over the ``dataset_eval_jobs`` table with earliest-created-first pops
(:167-188), and db/similarity.py:456-543 — UPSERT of eval results + feedback.

In a warehouse there is no row-level UPDATE; state transitions are expressed
as append + last-writer-wins resolution: each transition appends an event row,
and the current state of a job is the latest event (W2-style window).  On
Delta this would be a MERGE; the semantics here are identical and engine-only.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import local_frame

JOB_STATUSES = ["pending", "running", "done", "failed"]  # db/dataset_eval.py:11-14

JOB_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("snapshot_id", T.StringType()),
        T.StructField("status", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("result", T.StringType()),  # JSON payload for done/failed
    ]
)


def job_current_state(events: DataFrame) -> DataFrame:
    """Latest event per job (last-writer-wins by ts, then status rank)."""
    rank = F.array_position(F.array(*[F.lit(s) for s in JOB_STATUSES]), F.col("status"))
    w = Window.partitionBy("job_id").orderBy(F.desc("ts"), F.desc(rank))
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def next_pending_job(events: DataFrame) -> DataFrame:
    """Earliest-created pending job — the queue pop (db/dataset_eval.py:167-188).
    Creation time = the job's first event ts."""
    state = job_current_state(events)
    created = events.groupBy("job_id").agg(F.min("ts").alias("created"))
    return (
        state.filter(F.col("status") == "pending")
        .join(created, "job_id")
        .orderBy("created", "job_id")
        .limit(1)
    )


def transition(
    spark: SparkSession,
    events: DataFrame,
    job_id: str,
    new_status: str,
    ts: datetime,
    result: str | None = None,
) -> DataFrame:
    """Append a state-transition event (Delta MERGE equivalent)."""
    if new_status not in JOB_STATUSES:
        raise ValueError(f"unknown status {new_status!r}")
    row = [{"job_id": job_id, "snapshot_id": None, "status": new_status, "ts": ts, "result": result}]
    return events.unionByName(local_frame(spark, row, JOB_EVENT_SCHEMA), allowMissingColumns=True)


# --- V7: similarity eval results / feedback store ------------------------------------
def upsert_eval_results(existing: DataFrame, incoming: DataFrame, keys: list[str]) -> DataFrame:
    """UPSERT semantics (INSERT ... ON CONFLICT DO UPDATE,
    db/similarity.py:456-543): incoming rows replace existing rows with the
    same key; everything else is kept.  Delta MERGE equivalent, emulated with
    anti-join + union."""
    kept = existing.join(incoming.select(*keys).dropDuplicates(keys), keys, "left_anti")
    return kept.unionByName(incoming)
