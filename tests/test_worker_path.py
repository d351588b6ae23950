"""Python UDF workers import the package whatever the driver's cwd.

``ann_ivf_pq_topk`` encodes its vectors in a ``mapInPandas`` kernel defined
in ``similarity/pq.py``; the worker unpickles it by reference, so it must be
able to import ``acousticbrainz_server_spark``.  The driver here finds the
package through its own ``sys.path`` only, runs from ``/`` and has no
``PYTHONPATH``: ``get_spark`` has to hand the package's location to the
workers.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent

_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from acousticbrainz_server_spark.plans.registry import QUERIES, _load_all
from acousticbrainz_server_spark.session import get_spark
_load_all()
spark = get_spark("worker_path", cpus=1)
print(QUERIES["ann_ivf_pq_topk"].spark_fn(spark, {sf!r}).count())
"""


def test_pandas_udf_workers_find_the_package_from_any_cwd():
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    run = subprocess.run(
        [sys.executable, "-c", _DRIVER.format(repo=str(REPO), sf=SF_SMOKE)],
        cwd="/",
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert int(run.stdout.split()[-1]) > 0
