"""Every registered query runs on its own child session.

``registry.query`` runs each body inside ``session.query_scope``, on a
``newSession()`` child with ``QUERY_CONF`` plus the query's declared conf.  These tests keep that true: no
plan or source module sets conf on the session it is handed, a streaming
query leaves no listener and no sink view behind on the caller, and
queries run from several threads on one SparkContext give the serial
answers and leave the caller's session as it was.  Streams that tests
start directly, outside ``query_scope``, are swept by the autouse fixture
in ``conftest.py``.
"""

from __future__ import annotations

import ast
import json
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all
from acousticbrainz_server_spark.session import QUERY_CONF, query_session
from tests.conftest import SF_CORRECT, SF_SMOKE
from tools.verify_oracle import table_hash

_load_all()

PACKAGE = Path(__file__).resolve().parent.parent / "acousticbrainz_server_spark"


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _listeners(spark) -> int:
    return spark.sparkContext._jsc.sc().listenerBus().listeners().size()


def test_no_conf_set_in_plans_or_sources():
    offenders = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
        for sub in ("plans", "sources")
        for path in sorted((PACKAGE / sub).rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("set", "unset")
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
    ]
    assert not offenders, offenders


def test_query_session_conf_stays_on_the_child(spark):
    child = query_session(spark, {"spark.sql.shuffle.partitions": "3"})
    assert child.conf.get("spark.sql.shuffle.partitions") == "3"
    for k, v in QUERY_CONF.items():
        assert child.conf.get(k) == v
    # neither the caller nor a child of the child sees it
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert query_session(child).conf.get("spark.sql.shuffle.partitions") == "4"


def test_streaming_query_leaves_no_listener_or_view_on_caller(spark):
    fn = QUERIES["streaming_daily_counts"].spark_fn
    views = _temp_views(spark)
    fn(spark, SF_SMOKE).collect()  # the first child may start shared state
    before = _listeners(spark)
    for _ in range(3):
        assert fn(spark, SF_SMOKE).count() > 0
    assert _listeners(spark) == before
    assert _temp_views(spark) == views


@pytest.fixture(scope="module")
def direct_stream_listener_counts(spark):
    spark.range(1).count()  # the first SQL execution adds SQLAppStatusListener for good
    return []


@pytest.mark.parametrize("run", range(3))
def test_direct_streams_leave_listener_count_flat(spark, tmp_path, direct_stream_listener_counts, run):
    """A stateful stream started on ``spark`` itself registers listener
    buses that ``query_scope`` never sees; the conftest sweep after each
    test must bring the count back, so every run starts at the same count."""
    from pyspark.sql.types import StringType, StructField, StructType, TimestampType

    from acousticbrainz_server_spark.streaming.ingest_stream import stream_ingest_stateful

    counts = direct_stream_listener_counts
    counts.append(_listeners(spark))
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "part.json").write_text(
        "\n".join(json.dumps({"gid": f"g{i % 2}", "submitted": f"2024-05-01T0{i}:00:00"}) for i in range(3))
    )
    q = stream_ingest_stateful(
        spark, str(in_dir), str(tmp_path / "out"), str(tmp_path / "ck"),
        schema=StructType([StructField("gid", StringType()), StructField("submitted", TimestampType())]),
    )
    q.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 3
    assert counts == counts[:1] * len(counts), counts


# A mix of batch, streaming (memory sink, RocksDB state, stream-stream join),
# Python UDTF, data-source and stream-writer registration and temp-view
# queries, plus one that writes and re-reads scratch files and two that
# build the same scratch backlog (session.build_once).
_MIXED = (
    "streaming_interval_join",
    "streaming_watermark_audit_rocksdb",
    "dump_incremental_window",
    "streaming_python_sink_rollup",
    "streaming_observe_metrics",
    "streaming_python_source_rollup",
    "python_udtf_chunk_profile",
    "pricing_summary",
    "simhash_fingerprint",
)


def _hash(spark, name: str) -> tuple[int, str]:
    df = QUERIES[name].spark_fn(spark, SF_CORRECT)
    return table_hash(df.columns, [tuple(r) for r in df.collect()])


def test_registered_queries_run_concurrently_on_one_context(spark):
    views = _temp_views(spark)
    with ThreadPoolExecutor(max_workers=4) as pool:
        threaded = dict(zip(_MIXED, pool.map(lambda n: _hash(spark, n), _MIXED, timeout=900)))
    serial = {name: _hash(spark, name) for name in _MIXED}
    assert threaded == serial
    assert _temp_views(spark) == views
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.streaming.stateStore.providerClass", None) is None
