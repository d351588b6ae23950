"""Process-tree and host counters read from /proc, and the estimators the
benchmark reports (percentiles)."""

from __future__ import annotations

import math
import os
import threading

_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for e in os.listdir("/proc"):
        if e.isdigit():
            f = _stat_fields(int(e))
            if f:
                children.setdefault(int(f[1]), []).append(int(e))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def cpu_s(pids: list[int]) -> float:
    """User+system CPU of ``pids``, including their reaped children."""
    ticks = 0
    for p in pids:
        f = _stat_fields(p)
        if f:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TCK


def pss_mb(pids: list[int]) -> float:
    """Resident memory of ``pids`` with each shared page split among its
    sharers, so forked Python workers are not counted once per worker."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            pass
    return kb / 1024


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def steal_s() -> float:
    """Host-wide steal time so far, summed over CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TCK


def percentile(values: list[float], p: float) -> tuple[float, int]:
    """``p``-th percentile, interpolated linearly between the two nearest
    ranks, and the sample count it rests on.  Interpolation keeps the median
    of a few unlike ops from jumping with whichever op happens to sit at the
    middle rank."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = p / 100 * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo), len(s)


class PeakRss:
    """Samples the process tree's resident memory (PSS) on a thread while
    active and keeps the peak.  The tree is found by a walk over /proc, so it
    is refreshed only every ``TREE_EVERY`` samples: the JVM and its reused
    Python workers live for the whole run.  This keeps the sampler's own CPU
    and GIL time small next to the client's."""

    INTERVAL_S = 0.25
    TREE_EVERY = 4

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        i = 0
        while not self._stop.is_set():
            if i % self.TREE_EVERY == 0:
                pids = tree_pids()
            self.peak_mb = max(self.peak_mb, pss_mb(pids))
            i += 1
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
