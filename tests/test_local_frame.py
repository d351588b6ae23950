"""``local_frame``: rows held in Python as a JVM LocalRelation.

Each case compares against the list-based ``spark.createDataFrame`` the
helper replaces (same schema, same rows), checks that the analyzed plan is a
``LocalRelation`` (no PythonRDD, so no Python-worker task), and an AST scan
keeps every other ``createDataFrame`` call out of the package.
"""

from __future__ import annotations

import ast
from datetime import datetime
from pathlib import Path

import pytest

from acousticbrainz_server_spark import schemas
from acousticbrainz_server_spark.sources.tables import local_frame

PACKAGE = Path(__file__).resolve().parent.parent / "acousticbrainz_server_spark"

CASES = {
    "nulls_and_booleans": (
        [(1, None, True, 2.5), (None, "x", None, None), (3, "y", False, -0.0)],
        "a INT, b STRING, c BOOLEAN, d DOUBLE",
    ),
    "empty": ([], "doc_a LONG, doc_b LONG, jaccard DOUBLE"),
    "array_double": (
        [(1, [1.0, None, 3.5]), (2, None), (3, [])],
        "table_idx INT, plane ARRAY<DOUBLE>",
    ),
    "naive_timestamp_dict_rows": (
        [
            {"dump_type": "full", "id": 1, "created": datetime(2024, 3, 1, 12, 30, 5, 123456)},
            {"id": 2, "created": None, "dump_type": None},
        ],
        "id INT, created TIMESTAMP, dump_type STRING",
    ),
    "nested_struct_map": (
        [
            {
                "id": 1,
                "highlevel": 7,
                "data": {"all": {"rock": 0.25, "pop": 0.75}, "value": "pop", "probability": 0.75},
                "model": 3,
                "version": 1,
            },
            {"id": 2, "highlevel": 8, "data": None, "model": 4, "version": None},
        ],
        schemas.HIGHLEVEL_MODEL,
    ),
}


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_list_create_dataframe(spark, case):
    rows, schema = CASES[case]
    old = spark.createDataFrame(rows, schema)
    new = local_frame(spark, rows, schema)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    assert _analyzed(new) == "LocalRelation"


def test_local_frame_plans_a_local_table_scan(spark):
    df = local_frame(spark, [(0, 5), (1, 99)], "request_index INT, o_orderkey BIGINT")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "PythonRDD" not in plan and "Scan ExistingRDD" not in plan


def test_no_create_dataframe_outside_local_frame():
    offenders = []
    home = PACKAGE / "sources" / "tables.py"
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = {
            id(node)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame" and path == home
            for node in ast.walk(fn)
        }
        offenders += [
            f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and id(node) not in allowed
        ]
    assert offenders == [], "route in-memory rows through sources.tables.local_frame"
