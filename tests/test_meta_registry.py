"""Registry-wide meta-tests: every entry must stay driver-consumable.

The driver gate samples a prefix of the registry; a typo'd window name, an
oracle that stopped parsing after a DuckDB upgrade, or a duplicate output
column (the compare sorts columns by name) would silently weaken coverage.
These checks run in seconds and pin the whole surface:

- every DRIVER_ORDER_HEAD name is actually registered;
- no duplicate registry names (the decorator raises, but HEAD typos don't);
- every oracle EXPLAINs in DuckDB against the real sf0.001 views (parse +
  bind + plan — no execution), so oracle SQL can't rot unnoticed;
- every oracle projects no duplicate column names.
"""

from __future__ import annotations

import duckdb
import pytest

from acousticbrainz_server_spark.plans.registry import (
    DRIVER_ORDER_HEAD,
    QUERIES,
    _load_all,
)
from acousticbrainz_server_spark.sources.tables import TESTDATA_TABLES
from tests.conftest import SF_SMOKE

_load_all()


def test_driver_window_names_all_registered():
    missing = [n for n in DRIVER_ORDER_HEAD if n not in QUERIES]
    assert not missing, f"DRIVER_ORDER_HEAD typos: {missing}"


def test_driver_window_has_no_duplicates():
    seen, dups = set(), []
    for n in DRIVER_ORDER_HEAD:
        if n in seen:
            dups.append(n)
        seen.add(n)
    assert not dups, f"duplicate window entries: {dups}"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()


def test_every_oracle_explains_in_duckdb(duck):
    """Parse/bind/plan every oracle (EXPLAIN — no execution).  Catches SQL
    rot, renamed fixture paths, and engine-version drift in one sweep."""
    bad = []
    for name, spec in sorted(QUERIES.items()):
        if spec.oracle is None:
            continue
        try:
            duck.execute(f"EXPLAIN {spec.oracle}")
        except Exception as e:  # noqa: BLE001 — collecting the full report
            bad.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0]}")
    assert not bad, "oracles failing EXPLAIN:\n" + "\n".join(bad)


def test_every_oracle_projects_unique_columns(duck):
    """The driver compare sorts columns BY NAME before hashing — duplicate
    names would make the hash ambiguous."""
    bad = []
    for name, spec in sorted(QUERIES.items()):
        if spec.oracle is None:
            continue
        try:
            cols = [d[0] for d in duck.execute(
                f"SELECT * FROM ({spec.oracle}) LIMIT 0"
            ).description]
        except Exception:
            continue  # covered by the EXPLAIN test
        if len(cols) != len(set(cols)):
            bad.append(f"{name}: {cols}")
    assert not bad, "duplicate output columns:\n" + "\n".join(bad)


def test_perf_artifact_names_are_registered():
    """AMORTIZATION.json / SCALESWEEP.json rows must reference real
    registered queries — artifact names must not rot when queries are
    renamed."""
    import json
    import os

    from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all

    _load_all()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for fname, key in (("AMORTIZATION.json", "queries"), ("SCALESWEEP.json", "queries")):
        rows = json.load(open(os.path.join(root, fname)))[key]
        unknown = set(rows) - set(QUERIES)
        assert not unknown, f"{fname} references unregistered queries: {unknown}"


def test_exchange_bound_guards_reference_registered_queries():
    """The executable perf ceilings in tools/bench_ratio.py must track the
    registry: a renamed query would silently drop its guard otherwise, and
    every guarded query must still carry a DuckDB oracle (the ceilings are
    warm-vs-oracle acceptances)."""
    import importlib.util
    import os

    from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all

    _load_all()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_ratio", os.path.join(root, "tools", "bench_ratio.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    guards = mod.EXCHANGE_BOUND_CEILINGS_SF01
    assert set(guards) <= set(QUERIES), set(guards) - set(QUERIES)
    for name, ceiling in guards.items():
        assert QUERIES[name].oracle is not None, name
        assert 0 < ceiling < 30, (name, ceiling)
    # the box-portable ratio twin must cover exactly the same query set
    ratio_guards = mod.EXCHANGE_BOUND_RATIO_CEILINGS_SF01
    assert set(ratio_guards) == set(guards)
    for name, rc in ratio_guards.items():
        assert 1 < rc < 50, (name, rc)
