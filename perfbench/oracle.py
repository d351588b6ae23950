"""Reference results for the benchmark's output check.

Each workload query is computed once per run on DuckDB from its registered
oracle SQL, over the same generated tables.  Spark results are compared by
row count and by the order-insensitive value hash of
``tools/verify_oracle.py`` (its ``normalize_cell``/``table_hash`` are
imported, not copied, so both checks hash identically).
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pyarrow as pa

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_verify_oracle():
    path = os.path.join(REPO_ROOT, "tools", "verify_oracle.py")
    spec = importlib.util.spec_from_file_location("verify_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_vo = _load_verify_oracle()
table_hash = _vo.table_hash


def arrow_rows(tbl: pa.Table) -> tuple[list[str], list[tuple]]:
    cols = tbl.schema.names
    return cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()]


def pandas_digest(pdf) -> tuple[list[str], int, str]:
    """(sorted columns, rows, hash) of a ``toPandas()`` result.  The frame is
    read back through Arrow, which maps pandas' NaN-for-null back to null and
    numpy scalars back to Python values, as the oracle side produces them."""
    cols, rows = arrow_rows(pa.Table.from_pandas(pdf, preserve_index=False))
    n, h = table_hash(cols, rows)
    return sorted(cols), n, h


def oracle_digests(data_dir: str, specs: dict) -> dict[str, tuple[list[str], int, str]]:
    """DuckDB reference digest for every named query spec."""
    con = duckdb.connect()
    try:
        for t in _vo.TESTDATA_TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name, spec in specs.items():
            cols, rows = arrow_rows(con.execute(spec.oracle).fetch_arrow_table())
            n, h = table_hash(cols, rows)
            out[name] = (sorted(cols), n, h)
        return out
    finally:
        con.close()
