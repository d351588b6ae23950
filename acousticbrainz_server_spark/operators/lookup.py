"""Order-preserving key↔key lookup maps (J8).

Reference: db/data.py:755-773 (get_mbids_by_ids) and :853-879
(get_ids_by_mbids) — resolve ids to (gid, offset) and back, preserving the
REQUEST order and yielding NULL for misses (the API contract for bulk
endpoints).

Spark-first: the request is a tiny frame; attach an input-index column, left
join (broadcast of the request side against the big table), and restore
request order by the carried index.  The big side never shuffles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import local_frame


def get_ids_by_mbids(
    spark: SparkSession,
    lowlevel: DataFrame,
    mbid_offsets: Sequence[tuple[str, int]],
) -> DataFrame:
    """(request_index, gid, submission_offset, id|NULL) in request order;
    gids are lower-cased like the reference (db/data.py:853-879)."""
    req = local_frame(
        spark,
        [(i, g.lower(), int(o)) for i, (g, o) in enumerate(mbid_offsets)],
        "request_index BIGINT, gid STRING, submission_offset BIGINT",
    )
    hit = lowlevel.join(F.broadcast(req), ["gid", "submission_offset"], "inner").select(
        "request_index", "id"
    )
    return req.join(F.broadcast(hit), "request_index", "left").orderBy("request_index").select(
        "request_index", "gid", "submission_offset", "id"
    )


def get_mbids_by_ids(
    spark: SparkSession,
    lowlevel: DataFrame,
    ids: Sequence[int],
) -> DataFrame:
    """(request_index, id, gid|NULL, submission_offset|NULL) in request order."""
    req = local_frame(spark, [(i, int(v)) for i, v in enumerate(ids)], "request_index BIGINT, id BIGINT")
    hit = lowlevel.join(F.broadcast(req), "id", "inner").select("request_index", "gid", "submission_offset")
    return req.join(F.broadcast(hit), "request_index", "left").orderBy("request_index").select(
        "request_index", "id", "gid", "submission_offset"
    )
