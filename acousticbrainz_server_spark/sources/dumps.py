"""Dump / export / import surface (SURVEY.md §2.1 S4-S9).

Reference: db/dump.py — Postgres COPY to TSV inside tar.zst (S4/S5), one
JSON file per submission sharded by mbid prefix (S6), CSV feature dumps (S7),
import (S8), and time-windowed incremental dumps driven by a ``data_dump``
bookkeeping table (S9).

Spark-first: every dump is a partitioned columnar write —
``maxRecordsPerFile`` replaces the reference's hand-rolled 500k-row file
splitting (ROWS_PER_FILE, db/dump.py:36-38), ``partitionBy`` the mbid-prefix
sharding (db/dump.py:585-696), and a plain filter the incremental WHERE
(generate_where, db/dump.py:321-333).  Compression is zstd (the reference
tunes zstd -10, db/dump.py:629-631).
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tables import local_frame

ROWS_PER_FILE = 500_000  # db/dump.py:36-38
SAMPLE_DATASET_SIZE = 100_000  # db/dump.py:31
SCHEMA_VERSION = 4  # db/__init__.py:7
# The reference's archive member is "SCHEMA_SEQUENCE" (db/dump.py:993-997);
# the leading underscore keeps Spark's file index from listing the stamp as a
# data file when the dump directory is read back (same convention as _SUCCESS).
SCHEMA_SEQUENCE_FILE = "_SCHEMA_SEQUENCE"

# S7 CSV feature dump path sets (db/dump.py:180-201)
FEATURE_DUMP_COLUMNS = {
    "tonal": [
        "data.tonal.key_key",
        "data.tonal.key_scale",
        "data.tonal.key_strength",
        "data.tonal.chords_key",
        "data.tonal.chords_scale",
        "data.tonal.tuning_frequency",
    ],
    "lowlevel": [
        "data.lowlevel.average_loudness",
        "data.lowlevel.dynamic_complexity",
    ],
    "rhythm": [
        "data.rhythm.bpm",
        "data.rhythm.beats_count",
        "data.rhythm.danceability",
        "data.rhythm.onset_rate",
    ],
}


def write_schema_sequence(out_dir: str, version: int = SCHEMA_VERSION) -> None:
    """Stamp a dump directory with its schema version (db/dump.py:993-997
    writes a SCHEMA_SEQUENCE member into the tar archive; the Spark dump is a
    directory, so the stamp is a sibling file).  Local-FS write — on a real
    cluster the dump root is driver-visible (HDFS/S3 via the Hadoop FS API);
    the stamp is one tiny driver-side put either way."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, SCHEMA_SEQUENCE_FILE), "w") as f:
        f.write(str(version))


def check_schema_sequence(in_dir: str, expected: int = SCHEMA_VERSION) -> None:
    """S8 import gate: refuse a dump whose stamped schema version differs from
    the importer's (db/dump.py:464-470).  Dumps without a stamp (pre-stamp
    layouts) pass, like tar members other than SCHEMA_SEQUENCE do."""
    path = os.path.join(in_dir, SCHEMA_SEQUENCE_FILE)
    if not os.path.exists(path):
        return
    with open(path) as f:
        got = int(f.read().strip())
    if got != expected:
        raise ValueError(
            f"Incorrect schema version! Expected: {expected}, got: {got}. "
            "Please, get the latest version of the dump."
        )


def dump_table_tsv(df: DataFrame, out_dir: str, rows_per_file: int = ROWS_PER_FILE) -> None:
    """S4/S5: TSV export, natively split at rows_per_file (COPY + _copy_tables,
    db/dump.py:241-386).  Nested columns are JSON-encoded, like the JSONB
    text COPY output.  The directory is stamped with SCHEMA_VERSION
    (db/dump.py:993-997); ``import_table_tsv`` checks the stamp."""
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
            cols.append(F.to_json(F.col(f.name), {"ignoreNullFields": "false"}).alias(f.name))
        else:
            cols.append(F.col(f.name))
    (
        df.select(*cols)
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", "true")
        .option("compression", "gzip")
        .option("maxRecordsPerFile", rows_per_file)
        .csv(out_dir)
    )
    write_schema_sequence(out_dir)


def import_table_tsv(
    spark: SparkSession,
    in_dir: str,
    schema: T.StructType,
    expected_schema_version: int = SCHEMA_VERSION,
) -> DataFrame:
    """S8: read a TSV dump back with an explicit schema; JSON-encoded nested
    columns are parsed back to their typed form.  The directory's
    SCHEMA_SEQUENCE stamp is verified first (db/dump.py:449-497, :464-470) —
    a version mismatch raises instead of importing incompatible rows."""
    check_schema_sequence(in_dir, expected_schema_version)
    flat_fields = []
    json_fields: list[T.StructField] = []
    for f in schema.fields:
        if isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
            flat_fields.append(T.StructField(f.name, T.StringType()))
            json_fields.append(f)
        else:
            flat_fields.append(f)
    raw = spark.read.schema(T.StructType(flat_fields)).option("sep", "\t").option("header", "true").csv(in_dir)
    for f in json_fields:
        raw = raw.withColumn(f.name, F.from_json(F.col(f.name), f.dataType))
    return raw.select(*[f.name for f in schema.fields])


def dump_lowlevel_json(
    lowlevel: DataFrame,
    lowlevel_json: DataFrame,
    out_dir: str,
    sample_size: int | None = None,
) -> None:
    """S6: one JSON record per submission, sharded into two directory levels
    ``mbid[0:2]/mbid[2:3]`` exactly like the reference's dump layout
    (db/dump.py:604-607); ``sample_size`` reproduces the 100k sample dump
    ordered by submitted (db/dump.py:31, 615-618)."""
    joined = lowlevel.select("id", "gid", "submission_offset", "submitted").join(lowlevel_json, "id")
    if sample_size is not None:
        # the reference orders by submitted alone (db/dump.py:615-618); gid is
        # a determinism tiebreak so the sampled set is stable under ties
        joined = joined.orderBy("submitted", "gid").limit(sample_size)
    (
        joined.withColumn("shard", F.substring("gid", 1, 2))
        .withColumn("shard2", F.substring("gid", 3, 1))
        .select("shard", "shard2", "gid", "submission_offset", "data")
        .write.mode("overwrite")
        .partitionBy("shard", "shard2")
        .option("compression", "gzip")
        .json(out_dir)
    )


def dump_features_csv(lowlevel: DataFrame, lowlevel_json: DataFrame, out_dir: str) -> None:
    """S7: scalar feature projections to CSV, one directory per path set
    (dump_lowlevel_features, db/dump.py:500-582)."""
    joined = lowlevel.select("id", "gid", "submission_offset").join(lowlevel_json, "id")
    for name, paths in FEATURE_DUMP_COLUMNS.items():
        joined.select(
            "gid", "submission_offset", *[F.col(p).alias(p.split(".", 1)[1].replace(".", "_")) for p in paths]
        ).write.mode("overwrite").option("header", "true").csv(os.path.join(out_dir, name))


# --- S9: incremental dump windows over a data_dump bookkeeping table -----------------
DATA_DUMP_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("created", T.TimestampType(), False),
        T.StructField("dump_type", T.StringType(), False),  # 'full' | 'partial'
    ]
)


def incremental_window(data_dump: DataFrame, now: datetime) -> tuple[datetime | None, datetime]:
    """(start, end]: start = the latest prior dump's created (None for the
    first dump = everything), end = now (prepare_dump/generate_where,
    db/dump.py:321-333, 871-897)."""
    row = data_dump.agg(F.max("created").alias("m")).collect()[0]
    return row["m"], now


def filter_incremental(df: DataFrame, start: datetime | None, end: datetime, ts_col: str = "submitted") -> DataFrame:
    """Time-window predicate ``start < ts <= end`` (db/dump.py:321-333)."""
    cond = F.col(ts_col) <= F.lit(end)
    if start is not None:
        cond = cond & (F.col(ts_col) > F.lit(start))
    return df.filter(cond)


def record_dump(spark: SparkSession, data_dump: DataFrame, now: datetime, dump_type: str = "partial") -> DataFrame:
    """Append the bookkeeping row (no Delta in this env — emulated with a
    union; the cluster path is a Delta MERGE/append)."""
    next_id = (data_dump.agg(F.coalesce(F.max("id"), F.lit(0)).alias("m")).collect()[0]["m"] or 0) + 1
    new = local_frame(spark, [{"id": next_id, "created": now, "dump_type": dump_type}], DATA_DUMP_SCHEMA)
    return data_dump.unionByName(new)
