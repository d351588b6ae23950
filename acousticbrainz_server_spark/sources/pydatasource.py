"""Custom Python Data Source (Spark 4 ``pyspark.sql.datasource`` API).

The reference ingests submissions from external processes (POST bodies,
dump files); a Spark-4-native engine additionally exposes the *pluggable
source* surface so such feeds mount as first-class readable relations.
``SynthEventsDataSource`` is the registered demonstration source: a
deterministic event generator whose rows are a pure integer function of the
row index, so a SQL oracle can reproduce the full scan exactly — the same
trick the md5-portable hash family uses, applied to a source connector.

Scale design: ``partitions()`` splits the row range into N independent
``InputPartition``s, so the scan parallelizes like any file source; the
generator math is branch-free integer arithmetic per row.  A production
source would yield ``pyarrow.RecordBatch`` per partition (the API's
vectorized path) — tuples keep the demonstration dependency-light.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")

# deterministic row formulas (Knuth multiplicative + LCG constants);
# all intermediates fit int64 for n < 2^31
_USER_MULT = 2654435761
_USER_MOD = 997
_VAL_MULT = 1103515245
_VAL_ADD = 12345
_VAL_MOD = 2147483648  # 2^31


def synth_row(i: int) -> tuple[int, int, str, float]:
    return (
        i,
        (i * _USER_MULT) % _USER_MOD,
        EVENT_TYPES[(i * 7) % 5],
        ((i * _VAL_MULT + _VAL_ADD) % _VAL_MOD) / _VAL_MOD,
    )


@dataclass
class _RangePartition(InputPartition):
    start: int
    end: int


class SynthEventsReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n = int(options.get("n", 10000))
        self.num_partitions = int(options.get("partitions", 8))
        # arrow=true switches read() to yield pyarrow.RecordBatch — the
        # API's vectorized path (one numpy pass per partition instead of a
        # python loop per row); both paths produce identical rows
        self.arrow = str(options.get("arrow", "false")).lower() == "true"

    def partitions(self):
        step = -(-self.n // self.num_partitions)
        return [
            _RangePartition(lo, min(lo + step, self.n))
            for lo in range(0, self.n, step)
        ]

    def read(self, partition: _RangePartition):
        if not self.arrow:
            for i in range(partition.start, partition.end):
                yield synth_row(i)
            return
        import numpy as np
        import pyarrow as pa

        i = np.arange(partition.start, partition.end, dtype=np.int64)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(i),
                pa.array((i * _USER_MULT) % _USER_MOD),
                pa.array(np.asarray(EVENT_TYPES, dtype=object)[(i * 7) % 5]),
                pa.array(((i * _VAL_MULT + _VAL_ADD) % _VAL_MOD) / _VAL_MOD),
            ],
            names=["event_id", "user_id", "event_type", "value"],
        )


class SynthEventsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthevents"

    def schema(self) -> str:
        return "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"

    def reader(self, schema) -> SynthEventsReader:
        return SynthEventsReader(self.options)

    def simpleStreamReader(self, schema) -> "SynthEventsStreamReader":
        return SynthEventsStreamReader(self.options)


class SynthEventsStreamReader(SimpleDataSourceStreamReader):
    """Streaming twin of the batch reader: the same deterministic row formula
    served as an offset-tracked micro-batch feed (Spark 4
    ``SimpleDataSourceStreamReader``).

    Offsets are the row index — ``initialOffset`` starts at 0, each
    ``read(start)`` serves up to ``batch`` rows and advances the offset, and
    ``readBetweenOffsets`` replays any committed range EXACTLY (rows are a
    pure function of the index), which is what makes checkpoint recovery
    deterministic: a restarted query re-reads the uncommitted tail and gets
    byte-identical rows.  ``n`` caps the feed so availableNow terminates.
    """

    def __init__(self, options: dict) -> None:
        self.n = int(options.get("n", 10000))
        self.batch = int(options.get("batch", 1000))

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def read(self, start: dict):
        lo = int(start["idx"])
        hi = min(lo + self.batch, self.n)
        # a LIST ITERATOR, specifically: the prefetch wrapper calls next()
        # on it (so a bare list fails) AND copy.copy()s it for cache replay
        # (so a generator fails — generators don't pickle)
        return iter([synth_row(i) for i in range(lo, hi)]), {"idx": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter([synth_row(i) for i in range(int(start["idx"]), int(end["idx"]))])


def register_synth_source(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(SynthEventsDataSource)


# --------------------------------------------------------------------------------------
# Write path: a JSON-lines directory sink with a two-phase commit protocol
# --------------------------------------------------------------------------------------


class _JsonLinesCommit(WriterCommitMessage):
    def __init__(self, temp_path: str, rows: int) -> None:
        self.temp_path = temp_path
        self.rows = rows


class JsonLinesWriter(DataSourceWriter):
    """``DataSourceWriter`` demonstrating the exactly-once file-sink
    protocol: each task writes to a ``.inprogress`` temp file and reports it
    in its commit message; only the DRIVER's ``commit()`` renames the temp
    files into place and stamps a ``_SUCCESS`` manifest listing them, so a
    failed/speculative task's output is never visible and ``abort()`` can
    delete stragglers.  This is the same temp-then-rename discipline
    Spark's own FileCommitProtocol uses.

    Commit naming: every commit gets a driver-generated uuid embedded in its
    final file names (``part-<commit>-00000.jsonl``), so repeated APPEND
    writes to the same path can never collide with or silently overwrite a
    previous commit's files; the ``_SUCCESS`` manifest merges prior
    generations on append.  OVERWRITE mode clears all pre-existing part
    files (including stale higher-index ones from larger prior commits)
    before renaming, so readers never see mixed generations.

    Deployment constraint: ``commit()``/``abort()`` rename/remove the task
    temp files FROM THE DRIVER, which is correct only when driver and
    executors share a filesystem (local mode, NFS, or a fuse-mounted object
    store).  A multi-node deployment over non-shared storage must route the
    renames through a storage client (s3/gcs/hdfs) instead — out of scope
    for this demonstration sink.
    """

    def __init__(self, options: dict, schema, overwrite: bool) -> None:
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonlines_py sink requires option 'path'")
        self.field_names = [f.name for f in schema.fields]
        self.overwrite = overwrite
        # driver-generated, shipped to tasks in the pickled writer, reused by
        # commit(): the unique generation tag for this logical write
        self.commit_id = uuid.uuid4().hex[:12]

    def write(self, iterator):
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        temp = os.path.join(self.path, f".{uuid.uuid4().hex}.inprogress")
        n = 0
        with open(temp, "w") as f:
            for row in iterator:
                f.write(json.dumps(dict(zip(self.field_names, row))) + "\n")
                n += 1
        return _JsonLinesCommit(temp, n)

    def commit(self, messages):
        import glob
        import json
        import os

        manifest_path = os.path.join(self.path, "_SUCCESS")
        prior: list[dict] = []
        if self.overwrite:
            # clear EVERY earlier generation (incl. stale higher-index files
            # from a larger prior commit) before this one becomes visible
            for stale in glob.glob(os.path.join(self.path, "part-*.jsonl")):
                os.remove(stale)
            if os.path.exists(manifest_path):
                os.remove(manifest_path)
        elif os.path.exists(manifest_path):
            with open(manifest_path) as f:
                prior = json.load(f).get("files", [])
        finals = []
        for i, m in enumerate(messages):
            final = os.path.join(self.path, f"part-{self.commit_id}-{i:05d}.jsonl")
            os.replace(m.temp_path, final)
            finals.append({"file": os.path.basename(final), "rows": m.rows})
        with open(manifest_path, "w") as f:
            json.dump({"files": prior + finals}, f)

    def abort(self, messages):
        import os

        for m in messages:
            try:
                os.remove(m.temp_path)
            except OSError:
                pass


class JsonLinesStreamWriter(DataSourceStreamWriter):
    """``DataSourceStreamWriter`` (the write-side twin of the r8 stream
    READER): a per-micro-batch two-phase commit that upgrades Spark's
    at-least-once foreachBatch-style delivery to EXACTLY-ONCE-PER-BATCH in
    the sink, the same contract the incremental-corpus MERGE certifies —
    here expressed through the pluggable-sink API instead of foreachBatch.

    Protocol per batch: executors ``write()`` rows to uuid-named
    ``.inprogress`` temp files and report them in commit messages; the
    driver's ``commit(messages, batchId)`` renames them to
    ``part-b<batch>-<i>.jsonl`` and then atomically publishes a per-batch
    manifest ``_batch-<batchId>.json`` listing the files (tmp + fsync +
    rename, then directory fsync — the same durability ladder as the
    incremental-corpus state swap).  COMMITTED data is exactly the union of
    manifest-listed files; orphaned temps and un-manifested parts are
    invisible to readers.

    Exactly-once under replay: a crash AFTER the manifest but BEFORE
    Spark's checkpoint offset commit replays the batch on restart — the
    replayed ``commit()`` finds the manifest already present, discards the
    fresh temps, and returns (idempotent skip).  A crash BEFORE the
    manifest leaves the batch invisible, so the replay commits it once.
    Both crash points are certified by
    tests/test_streaming.py::test_python_stream_sink_kill_resume_*.

    Fault injection (test hook, inert in production use): option
    ``fail_at_batch`` raises inside ``commit()`` for that batch exactly
    once (a marker file records the strike); ``fail_point`` selects the
    crash side — ``before_manifest`` (default) or ``after_manifest``.
    Strike markers live OUTSIDE the data directory, in ``<path>.strikes/``
    beside it, so external consumers listing the output never see test
    debris, and the markers go wherever the output's parent directory goes.

    Deployment constraint: same shared-filesystem assumption as
    JsonLinesWriter (driver renames executor-written temps).
    """

    def __init__(self, options: dict, schema) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonlines_py stream sink requires option 'path'")
        self.field_names = [f.name for f in schema.fields]
        fab = options.get("fail_at_batch")
        self.fail_at_batch = int(fab) if fab is not None else None
        self.fail_point = options.get("fail_point", "before_manifest")

    def _strike_path(self, batch_id: int) -> str:
        """One-shot fail-injection marker for ``batch_id``, in
        ``<path>.strikes/``, NOT in the data directory (ADVICE r11).  Not in
        the driver's scratch tree either: ``commit()`` runs in a Python
        worker the JVM starts, whose pid is not the driver's."""
        import os

        d = os.path.normpath(self.path) + ".strikes"
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"strike-{batch_id}")

    def write(self, iterator):
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        temp = os.path.join(self.path, f".{uuid.uuid4().hex}.inprogress")
        n = 0
        with open(temp, "w") as f:
            for row in iterator:
                f.write(json.dumps(dict(zip(self.field_names, row))) + "\n")
                n += 1
        return _JsonLinesCommit(temp, n)

    def _manifest(self, batch_id: int) -> str:
        import os

        return os.path.join(self.path, f"_batch-{batch_id}.json")

    def commit(self, messages, batchId: int) -> None:
        import json
        import os

        os.makedirs(self.path, exist_ok=True)
        manifest = self._manifest(batchId)
        if os.path.exists(manifest):
            # replayed batch (crash landed between manifest publish and the
            # checkpoint's offset commit): already visible — drop the fresh
            # temps and skip.  THE exactly-once guard.
            self.abort(messages, batchId)
            return
        if self.fail_at_batch == batchId and self.fail_point == "before_manifest":
            strike = self._strike_path(batchId)
            if not os.path.exists(strike):
                open(strike, "w").write("struck\n")
                raise RuntimeError(f"injected commit failure before manifest, batch {batchId}")
        finals = []
        for i, m in enumerate(messages):
            if m is None:
                continue
            final = os.path.join(self.path, f"part-b{batchId:05d}-{i:05d}.jsonl")
            os.replace(m.temp_path, final)
            ffd = os.open(final, os.O_RDONLY)
            try:
                os.fsync(ffd)
            finally:
                os.close(ffd)
            finals.append({"file": os.path.basename(final), "rows": m.rows})
        # atomic manifest publish: tmp + fsync + rename + dir fsync — the
        # manifest's existence IS the batch's commit point
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batchId, "files": finals}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, manifest)
        dfd = os.open(self.path, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        if self.fail_at_batch == batchId and self.fail_point == "after_manifest":
            strike = self._strike_path(batchId)
            if not os.path.exists(strike):
                open(strike, "w").write("struck\n")
                raise RuntimeError(f"injected commit failure after manifest, batch {batchId}")

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is None:
                continue
            try:
                os.remove(m.temp_path)
            except OSError:
                pass


class JsonLinesDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonlines_py"

    def writer(self, schema, overwrite: bool) -> JsonLinesWriter:
        return JsonLinesWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> JsonLinesStreamWriter:
        return JsonLinesStreamWriter(self.options, schema)


def committed_stream_sink_files(path: str) -> list[str]:
    """The committed view of a ``jsonlines_py`` stream-sink directory: the
    union of files listed in per-batch manifests, in batch order.  Anything
    else in the directory (orphaned temps, renamed-but-unmanifested parts
    from a crash) is uncommitted and excluded — this listing is the read
    protocol that makes the sink's two-phase commit meaningful."""
    import glob as _glob
    import json
    import os

    files: list[str] = []
    manifests = sorted(
        _glob.glob(os.path.join(path, "_batch-*.json")),
        key=lambda p: int(os.path.basename(p)[len("_batch-") : -len(".json")]),
    )
    for mp in manifests:
        with open(mp) as f:
            for entry in json.load(f).get("files", []):
                files.append(os.path.join(path, entry["file"]))
    return files


def register_jsonlines_sink(spark) -> None:
    spark.dataSource.register(JsonLinesDataSource)
