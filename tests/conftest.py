from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from acousticbrainz_server_spark.session import detach_stream_buses, get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(autouse=True)
def _sweep_stream_buses(request):
    """Detach the stream listener buses a test leaves on the SparkContext.

    Registered queries run in ``query_scope``, which does this itself; a
    test that starts a stream directly on ``spark`` (the streaming helpers)
    would otherwise leave one bus, and the stream's clone session, per
    stream for the rest of the run."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    bus = spark.sparkContext._jsc.sc().listenerBus()
    before = bus.listeners()
    yield
    detach_stream_buses(spark, bus, before)
