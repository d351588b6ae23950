"""Local correctness harness mimicking the driver's gate: run every registered
query on Spark AND its oracle SQL on DuckDB over the same sf dir; compare row
count, column names, and an order-insensitive value hash.

Usage: python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all
from acousticbrainz_server_spark.session import get_spark
from acousticbrainz_server_spark.sources.tables import TESTDATA_TABLES


def normalize_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _canon_spark_type(dt: str) -> str:
    dt = dt.lower()
    m = {"bigint": "i64", "long": "i64", "int": "i32", "integer": "i32", "smallint": "i16",
         "tinyint": "i8", "double": "f64", "float": "f32", "string": "str", "boolean": "bool",
         "date": "date", "binary": "bin"}
    if dt in m:
        return m[dt]
    if dt.startswith("timestamp"):
        return "ts"
    if dt.startswith("decimal"):
        return "decimal"
    if dt.startswith("array") or dt.startswith("struct") or dt.startswith("map"):
        # strip element types symmetrically with the arrow side: spark spells
        # them array<double>, arrow list<item: double> — bare kind only
        return dt.split("(")[0].split("<")[0]
    return dt


def _canon_arrow_type(t) -> str:
    s = str(t)
    m = {"int64": "i64", "int32": "i32", "int16": "i16", "int8": "i8", "uint64": "u64",
         "uint32": "u32", "double": "f64", "float": "f32", "string": "str",
         "large_string": "str", "bool": "bool", "date32[day]": "date", "binary": "bin"}
    if s in m:
        return m[s]
    if s.startswith("timestamp"):
        return "ts"
    if s.startswith("decimal"):  # decimal128(38,9) / decimal256 -> decimal
        return "decimal"
    if s.startswith("list") or s.startswith("large_list") or s.startswith("struct") or s.startswith("map"):
        return s.split("(")[0].split("<")[0].replace("large_list", "array").replace("list", "array")
    return s


def type_mismatches(spark_schema, arrow_schema) -> list[str]:
    """Columns whose engine-level types differ — the external gate hashes
    dtype-sensitively (round-1 lesson: DuckDB sum()→HUGEINT red-flagged two
    otherwise-identical results), so value equality alone is not enough."""
    sp = {f.name: _canon_spark_type(f.dataType.simpleString()) for f in spark_schema.fields}
    du = {f.name: _canon_arrow_type(f.type) for f in arrow_schema}
    return [f"{c}: spark={sp[c]} oracle={du[c]}" for c in sp if c in du and sp[c] != du[c]]


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(normalize_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    _load_all()

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    spark = get_spark("verify_oracle")
    failures = []
    for name, spec in sorted(QUERIES.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.spark_fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        t_spark = time.time() - t0
        if spec.oracle is None:
            print(f"ok~  {name}: rows-only, {len(srows)} rows ({t_spark:.1f}s spark)")
            if len(srows) == 0:
                print(f"     WARNING {name}: 0 rows")
            continue
        t0 = time.time()
        try:
            otbl = con.execute(spec.oracle).fetch_arrow_table()
            ocols = otbl.schema.names
            orows = [tuple(d[c] for c in ocols) for d in otbl.to_pylist()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        t_duck = time.time() - t0
        sn, sh = table_hash(scols, srows)
        on, oh = table_hash(ocols, orows)
        tmis = type_mismatches(sdf.schema, otbl.schema)
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns differ spark={sorted(scols)} oracle={sorted(ocols)}")
            failures.append(name)
        elif tmis:
            print(f"FAIL {name}: column type mismatch: {tmis}")
            failures.append(name)
        elif sn != on:
            print(f"FAIL {name}: rowcount spark={sn} oracle={on}")
            failures.append(name)
        elif sh != oh:
            print(f"FAIL {name}: value hash mismatch ({sn} rows)")
            # show a sample diff
            sset = {"|".join(normalize_cell(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows}
            oset = {"|".join(normalize_cell(r[i]) for i in sorted(range(len(ocols)), key=lambda i: ocols[i])) for r in orows}
            for d in list(sset - oset)[:3]:
                print(f"     spark-only: {d}")
            for d in list(oset - sset)[:3]:
                print(f"     oracle-only: {d}")
            failures.append(name)
        else:
            note = " (0 rows!)" if sn == 0 else ""
            print(f"ok   {name}: {sn} rows hash={sh} ({t_spark:.1f}s spark, {t_duck:.1f}s duck){note}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
