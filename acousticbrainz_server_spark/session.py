"""SparkSession factory and the per-query child session.

Local-mode settings are tuned for the test/bench harness (local[N], one JVM);
the same builder config is what we would ship to a real cluster, minus master
and driver-memory (which come from spark-submit there).  Key choices:

- AQE on: runtime coalescing / skew-join handling replaces hand-tuned batch
  sizes the reference uses (e.g. ADD_METRICS_BATCH_SIZE=10000,
  reference similarity/manage.py:12) — Spark picks partition sizes at runtime.
- shuffle.partitions ~ cores for local mode; on a 1000-executor cluster this
  would be set ~2-3x total cores (or left to AQE's coalescing with a high
  initial value).
- ``QUERY_CONF`` (session timezone UTC, ``nanosAsLong``): the reference
  stores TIMESTAMPTZ (UTC) and the DuckDB oracle is UTC-naive — pinning
  makes results comparable.
- Arrow enabled: every Pandas-UDF boundary (external-binary map stage, custom
  dedup kernels) moves data in Arrow batches, not pickled rows.

Every registered query runs on its own child session
(:func:`query_session`, applied by ``plans/registry.py``), the way each
request of the reference gets its own transaction and session settings: a
query's conf, temp views, registered UDTFs/data sources and streaming sinks
stay on the child, so no query changes the caller's session or a concurrent
query's.  Children share the SparkContext (so everything set on this
builder) and the cache.

Scratch files (stream sources and checkpoints, dump round trips, bucketed
tables) live in one tree per process, ``<tmp>/abspark_<pid>/``
(:func:`scratch_dir`).  Shared inputs are built once per process and key
(:func:`build_once`), per-run output goes to a fresh dir
(:func:`fresh_run_dir`), and :func:`reap_scratch` removes only the trees of
dead processes.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shutil
import tempfile
import uuid
from typing import Callable

from pyspark.sql import SparkSession

# unset -> the host's core count (a fixed 32 oversubscribed small hosts)
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

# SQL conf every query runs under, whatever the caller's session says:
# - session timezone UTC: the micros TIMESTAMP_NTZ -> TIMESTAMP cast of
#   events.ts and every tz-sensitive rendering (to_date, window starts,
#   date_trunc) must agree with the UTC-naive DuckDB oracle;
# - nanosAsLong: TIMESTAMP(NANOS) parquet (some events.parquet generations)
#   reads as BIGINT instead of crashing the vectorized reader
#   (sources/tables.normalize_events_ts truncates it); no effect on micros.
QUERY_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

_reaped = False


def scratch_dir(kind: str, *key) -> str:
    """``<tmp>/abspark_<pid>/<kind>/<md5(key)>``: this process's scratch for
    ``key`` (typically the absolute sf_dir).

    Only this process writes under ``abspark_<pid>``, so nothing else can
    reap or rebuild it while it is in use.  The temp dir is read at call
    time: a harness may point ``tempfile.tempdir`` elsewhere after import."""
    tag = hashlib.md5(":".join(map(str, key)).encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"abspark_{os.getpid()}", kind, tag)


def build_once(path: str, build: Callable[[str], None]) -> str:
    """Return ``path``, first running ``build(tmp)`` if it does not exist.

    ``build`` writes a new directory at ``tmp``, a uuid sibling of ``path``,
    which is then renamed onto ``path``; so ``path`` existing means the
    build is complete.  Threads that race on a cold ``path`` each build,
    the first rename wins and the others drop their copy."""
    if os.path.isdir(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{uuid.uuid4().hex}"
    try:
        build(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.isdir(path):  # not a lost race
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def fresh_run_dir(base: str, prefix: str) -> str:
    """A new ``<base>/<prefix>-<uuid>`` path (not created), after removing
    the earlier ``<prefix>-*`` run dirs under ``base``; so two runs that
    share ``base`` and ``prefix`` must not overlap.

    The ``-`` keeps one prefix from matching another that extends it
    (``ckpt-sink-*`` vs ``ckpt-sink_rocksdb-*``)."""
    with contextlib.suppress(FileNotFoundError):
        for e in os.listdir(base):
            if e.startswith(prefix + "-"):
                shutil.rmtree(os.path.join(base, e), ignore_errors=True)
    return os.path.join(base, f"{prefix}-{uuid.uuid4().hex[:12]}")


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:  # EPERM: another user's live process
        pass
    return True


def reap_scratch() -> list[str]:
    """Remove the ``abspark_<pid>`` (and older ``abspark_<name>_<pid>``)
    scratch trees under the temp dir whose process is dead; returns them.

    On the first call in a process it also removes the tree of this
    process's own pid, which an earlier, dead process with the same pid
    left behind.  A live process's tree is never touched."""
    global _reaped
    tmp = tempfile.gettempdir()
    try:
        entries = os.listdir(tmp)
    except OSError:
        return []
    removed = []
    for e in entries:
        m = re.fullmatch(r"abspark_(?:.*_)?(\d+)", e)
        if not m:
            continue
        pid = int(m.group(1))
        in_use = _reaped if pid == os.getpid() else _alive(pid)
        if in_use:
            continue
        path = os.path.join(tmp, e)
        shutil.rmtree(path, ignore_errors=True)
        removed.append(path)
    _reaped = True
    return removed


def get_spark(
    app_name: str = "acousticbrainz_server_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession with engine defaults."""
    if not _reaped:
        reap_scratch()
    # Parallelism belongs to Spark, not to BLAS: numpy kernels inside Pandas
    # UDFs already run in one Python worker per core — letting OpenBLAS spawn
    # its own thread pool per worker oversubscribes cores ~32x (measured 6x
    # wall-clock swings on the sgemm dedup kernel).  Workers inherit this env.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # Python workers unpickle UDFs that import this package: put its parent
    # dir on their path, whatever the driver's cwd or sys.path.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let the planner choose shuffled-hash join when its size conditions
        # hold instead of always preferring sort-merge (optimization guide
        # §3.1): the per-partition hash build skips both sort passes.  This
        # is planner-gated by build-side size (not a forced hint), so joins
        # whose build side cannot fit per-partition still take sort-merge.
        # r12 interleaved A/B over the 35 heaviest batch queries: total
        # min-over-trials 85.4 -> 78.3 s, 14 queries >10% faster (graph edge
        # builders, dedup shingle joins, ANN probes), none reproducibly
        # slower on re-test.  Scale note: same setting a 100 TB deployment
        # wants — SMJ remains the fallback wherever estimates say a
        # partition's build side is large.  Tradeoff (r12 ADVICE): an SHJ
        # build side cannot SPILL, so a badly misestimated post-filter
        # cardinality or a skewed key can OOM an executor where SMJ would
        # have spilled; the planner gate (~64 MB x shuffle partitions) plus
        # AQE skew splitting is the guard — watch skewed joins if estimates
        # are ever known to be unreliable for a workload.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    for k, v in {**QUERY_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def query_session(spark: SparkSession, conf: dict[str, str] | None = None) -> SparkSession:
    """A child of ``spark`` with :data:`QUERY_CONF` plus ``conf`` set on it.

    ``newSession()`` shares the SparkContext and the cache but has its own
    SQLConf, temp views, UDTF and data-source registry and streaming query
    manager.  It starts from the SparkContext's conf, not from ``spark``'s
    runtime conf: a ``conf.set`` on the caller's session does not reach it."""
    child = spark.newSession()
    for k, v in {**QUERY_CONF, **(conf or {})}.items():
        child.conf.set(k, v)
    return child


@contextlib.contextmanager
def query_scope(spark: SparkSession, conf: dict[str, str] | None = None):
    """Run a block on ``query_session(spark, conf)``, the active session of
    this thread until the block ends.

    Active, because some Spark paths resolve names on the thread's active
    session rather than the DataFrame's: a stream written to a Python data
    source registered on the child is one.  On exit, the streaming listener
    buses registered meanwhile are detached (:func:`detach_stream_buses`)."""
    sessions = spark.sparkContext._jvm.SparkSession
    bus = spark.sparkContext._jsc.sc().listenerBus()
    before = bus.listeners()
    caller = sessions.getActiveSession()
    child = query_session(spark, conf)
    sessions.setActiveSession(child._jsparkSession)
    try:
        yield child
    finally:
        if caller.isDefined():
            sessions.setActiveSession(caller.get())
        else:
            sessions.clearActiveSession()
        detach_stream_buses(spark, bus, before)


def detach_stream_buses(spark: SparkSession, bus, before) -> None:
    """Remove from ``bus`` (the context's ``LiveListenerBus``) each
    ``StreamingQueryListenerBus`` not in ``before`` that has no listener.

    A session's stream manager registers such a bus and nothing removes it:
    both the child that starts a stream and the per-stream clone of it that
    a stateful stream builds, so each would stay reachable (memory-sink
    tables included) for the life of the context.  A bus that has a
    ``StreamingQueryListener`` is kept."""
    after = bus.listeners()
    if after.size() == before.size():  # the common case: nothing to diff
        return
    new = spark.sparkContext._jvm.java.util.ArrayList(after)
    new.removeAll(before)
    # indexed, not `for ... in`: py4j's list iterator costs ~15 ms
    for i in range(new.size()):
        listener = new.get(i)
        if (
            listener.getClass().getSimpleName() == "StreamingQueryListenerBus"
            and listener.listeners().isEmpty()
        ):
            bus.removeListener(listener)
