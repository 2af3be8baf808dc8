"""Measurement helpers the workloads share: percentiles, the process-tree
memory sampler and CPU reader, streaming-progress and event-log readers, the output
directory walk, and the host context. None of them touches the
program; they read the surfaces Spark already exposes."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import threading
import time


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it,
    as ``(value, percentile)``. Below ``2 * beyond`` samples every such
    percentile lies under the median, so the maximum is reported as
    percentile 100 instead."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n < 2 * beyond:
        return s[-1], 100.0
    k = n - beyond  # the k-th smallest sample has exactly `beyond` above it
    return s[k - 1], 100.0 * k / n


# ---------------------------------------------------------------------------
# process tree: memory and CPU time
# ---------------------------------------------------------------------------

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree() -> list[tuple[int, list[str]]]:
    """(pid, stat fields after the command name) of this process and
    all its descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # the process ended while we read it
        pid = int(path.split("/")[2])
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        stack.extend(children.get(pid, []))
    return out


def _exe(pid: int) -> str:
    """The name of the binary the process runs ("" once it has exited).
    A child the JVM spawns takes the name of the spawning thread, yet
    runs ``java`` in the JVM's memory until it execs."""
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_resident_bytes() -> int:
    """Resident memory of the JVM and the Python processes in the tree.
    The JVM counts as its RSS from ``statm``: ``smaps_rollup`` would
    walk every page of its heap and take tens of milliseconds. It counts
    once: a process the JVM spawns shares the JVM's memory until it
    execs, so only the largest process running ``java`` is taken. The
    Python processes count as PSS: the workers are forked from one
    daemon and share most pages with it, and PSS splits shared pages
    among the sharers where plain RSS would count them once per worker.
    The short-lived commands the JVM runs (``chmod``, ``ls``) are left
    out."""
    jvm, python = 0, 0
    for pid, _ in _tree():
        exe = _exe(pid)
        if exe == "java":
            jvm = max(jvm, _rss_bytes(pid))
        elif exe.startswith("python"):
            python += _pss_bytes(pid)
    return jvm + python


class RssSampler:
    """Samples the resident memory of this process and its descendants
    (the JVM and the Python workers) on a background thread; ``peak_mb``
    is the largest total seen. The thread's own CPU time is kept in
    ``cpu_s`` so that ``tree_cpu`` can leave it out."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            t0 = time.thread_time()
            self.peak_bytes = max(self.peak_bytes, tree_resident_bytes())
            self.cpu_s += time.thread_time() - t0
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        global SAMPLER
        SAMPLER = self
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        global SAMPLER
        self._stop.set()
        self._thread.join(timeout=5)
        SAMPLER = None

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


#: the running sampler, whose CPU time ``tree_cpu`` leaves out
SAMPLER: RssSampler | None = None


def tree_cpu() -> dict[str, float]:
    """CPU seconds (user + system, reaped children included) the process
    tree has used so far, split into ``driver`` (this Python process,
    less the memory sampler), ``workers`` (the Python worker daemon and
    its workers) and ``jvm`` (the JVM and the commands it runs). CPU
    time leaves out the time a virtual CPU is stolen by the host, which
    wall time does not."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    me = os.getpid()
    for pid, fields in _tree():
        cpu = sum(int(x) for x in fields[11:15]) / _TICKS  # utime stime cutime cstime
        out["driver" if pid == me else "workers" if _exe(pid).startswith("python") else "jvm"] += cpu
    if SAMPLER is not None:
        out["driver"] -= SAMPLER.cpu_s
    return out


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


def progress_of(query) -> list[dict]:
    """Every progress record of a terminated query, as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def _iso_ms(stamp: str) -> float:
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000


def batch_windows(progress: list[dict]) -> list[tuple[float, float]]:
    """(start, end) epoch-ms windows of the triggers these records cover."""
    out = []
    for p in progress:
        start = _iso_ms(p["timestamp"])
        out.append((start, start + p["durationMs"].get("triggerExecution", 0)))
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_job_intervals(event_dir: str) -> list[tuple[float, float]]:
    """(submission, completion) epoch-ms of every job in the event logs
    under ``event_dir``."""
    starts: dict[int, float] = {}
    out: list[tuple[float, float]] = []
    # Spark 4 writes rolling logs: one directory of event files per app
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True)
                       + glob.glob(os.path.join(event_dir, "local-*"))):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerJob' not in line[:60]:
                    continue
                ev = json.loads(line)
                if ev["Event"] == "SparkListenerJobStart":
                    starts[ev["Job ID"]] = ev["Submission Time"]
                elif ev["Event"] == "SparkListenerJobEnd" and ev["Job ID"] in starts:
                    out.append((starts.pop(ev["Job ID"]), ev["Completion Time"]))
    return out


def covered_ms(window: tuple[float, float], intervals: list[tuple[float, float]]) -> tuple[float, int]:
    """How much of ``window`` the intervals cover (their union), and how
    many intervals start inside it."""
    lo, hi = window
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if a < hi and b > lo)
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    started = sum(1 for a, _ in intervals if lo <= a < hi)
    return busy, started


# ---------------------------------------------------------------------------
# output files
# ---------------------------------------------------------------------------


def data_files(root: str) -> dict[str, int]:
    """{path: bytes} of the data files under ``root``: everything except
    names starting with ``_`` or ``.`` (commit markers, checksums,
    manifests and sidecars)."""
    out: dict[str, int] = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        for name in filenames:
            if name.startswith(("_", ".")):
                continue
            path = os.path.join(dirpath, name)
            try:
                st = os.stat(path)
            except FileNotFoundError:
                continue
            out[f"{path}:{st.st_ino}:{st.st_mtime_ns}"] = st.st_size
    return out


# ---------------------------------------------------------------------------
# host context
# ---------------------------------------------------------------------------


def calib_cpu_s() -> float:
    """The fixed compute workload of ``bench.py``'s ``_calib_cpu``: eight
    float32 1024x1024 matmuls and a 5M-iteration Python loop. Its time
    tracks host drift, so it is recorded beside every run."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.standard_normal((1024, 1024), dtype=np.float32)
    b = rng.standard_normal((1024, 1024), dtype=np.float32)
    t0 = time.perf_counter()
    for _ in range(8):
        a @ b
    s = 0
    for i in range(5_000_000):
        s += i & 1023
    return time.perf_counter() - t0
