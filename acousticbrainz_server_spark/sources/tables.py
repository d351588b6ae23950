"""Parquet table sources for the driver's synthetic testdata.

The driver materializes TPC-H-ish tables plus ``events`` / ``documents`` /
``embeddings`` under /root/testdata/sf{N}/ (see TESTDATA.md).  Loading is a
plain columnar parquet scan — Catalyst handles predicate pushdown and column
pruning, so callers should select/filter on the returned DataFrame and trust
the optimizer (verified via .explain in tests/test_plans.py).

Rows held in Python (request keys, literal dimension tables, progress
records) enter plans through :func:`local_frame`, never a bare
``createDataFrame``.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def events_ts_is_nanos(path: str) -> bool:
    """Probe the parquet footer: True when events.ts is TIMESTAMP(NANOS)."""
    if not os.path.isfile(path):
        return False
    import pyarrow.parquet as pq

    return str(pq.read_schema(path).field("ts").type) == "timestamp[ns]"


def normalize_events_ts(df: DataFrame, nanos: bool) -> DataFrame:
    """Normalize events.ts to TimestampType regardless of parquet generation.

    nanos=True: ts arrived as BIGINT nanoseconds (via the nanosAsLong legacy
    conf) — truncate to microseconds EXACTLY like DuckDB's TIMESTAMP_NS ->
    TIMESTAMP cast.  Integer `div` is essential: nanos ~1.7e18 exceed double
    precision, so float division corrupts the low digits.

    nanos=False: ts arrived as TIMESTAMP_NTZ (micros parquet) — cast to
    TimestampType so every downstream plan (windows, streaming, comparisons)
    sees the same type in both generations.  Both paths rely on
    ``session.QUERY_CONF`` (nanosAsLong; timezone UTC, so the NTZ->TZ cast
    is value-identical to DuckDB's UTC-naive reading).
    """
    if nanos:
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def parquet_column_max(sf_dir: str, name: str, column: str):
    """Column max from parquet FOOTER statistics — metadata only, no Spark job.

    The packed-long key guards (triangle_count, degree_distribution) need a
    global ``max(id) < 2^32`` decision before the plan builds; running it as
    a Spark aggregate serializes an extra action in front of the main job
    (measured ~1s at sf0.1 because it materializes the lazy checkpoint
    chain).  Row-group statistics answer it for the cost of one footer read.
    At cluster scale this is the catalog/table-stats lookup, or a
    footer-only scan under parquet aggregate pushdown — metadata either way.

    Returns None when any row group lacks min/max stats; callers must treat
    that as "not provably packable" and take the safe struct-key path.
    """
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    md = pq.ParquetFile(path).metadata
    idx = next(
        (
            i
            for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == column
        ),
        None,
    )
    if idx is None:
        return None
    mx = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        mx = st.max if mx is None else max(mx, st.max)
    return mx


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table.

    ``events`` needs the session conf of ``session.QUERY_CONF`` (timezone
    UTC, nanosAsLong), which every registered query's child session and
    ``get_spark``'s builder carry; this function sets no conf.
    """
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    if name == "events":
        # events.ts has been written as TIMESTAMP(NANOS) in some testdata
        # generations (Spark's vectorized reader rejects it) and TIMESTAMP(US)
        # in others — probe the footer and adapt rather than assume either.
        path = os.path.join(sf_dir, "events.parquet")
        return normalize_events_ts(spark.read.parquet(path), events_ts_is_nanos(path))
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``load_table(..., "events")`` — same footer probe,
    same ts normalization, so a testdata generation flip (nanos<->micros)
    can never split the batch and streaming paths again (the round-3 lesson:
    three streaming plans hard-coded the nanos arithmetic and broke)."""
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    # the streaming file source wants a directory: stream the sf dir with a
    # glob pinning it to the events table
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw, events_ts_is_nanos(path))


def local_frame(spark: SparkSession, rows: Iterable, schema: str | StructType) -> DataFrame:
    """Rows held in Python as a JVM ``LocalRelation`` (``LocalTableScan``).

    ``spark.createDataFrame(<python list>, schema)`` ships the rows as a
    pickled ``PythonRDD``: every action on the frame starts one Python-worker
    task per ``defaultParallelism`` partition just to unpickle a handful of
    literal rows (on a 4-core host, ~4 s of worker CPU per pass of the
    16-query serving workload, against ~0.7 s without it).  A
    ``pyarrow.Table`` input instead becomes a ``LocalRelation`` on the JVM
    side, which runs no Python task at all.

    ``schema`` is a DDL string or a ``StructType``; ``rows`` are tuples,
    ``Row``s or dicts, possibly empty.  Each row goes through the schema's
    own ``toInternal`` first, so dict/Row field matching, nested structs and
    naive ``datetime`` handling (local-time epoch, as in the list path) are
    exactly PySpark's; the Arrow columns then carry the internal values
    (timestamps as UTC epoch micros, so no second session-zone shift).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    internal = [struct.toInternal(r) for r in rows]
    cols = list(zip(*internal)) if internal else [()] * len(arrow)
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
