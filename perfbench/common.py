"""Helpers shared by the workloads: statistics, the drift probe, memory of
the process tree read from ``/proc``, job counts from Spark's status
tracker, and span recording for the traced run."""

from __future__ import annotations

import contextlib
import gc
import os
import signal
import statistics
import threading
import time


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    values = sorted(values)
    if not values:
        raise ValueError("percentile of no samples")
    k = max(0, min(len(values) - 1, int(-(-q * len(values) // 100)) - 1))
    return float(values[k])


class Metric:
    """One reported number with its unit and sample count."""

    def __init__(self, value: float, unit: str, samples: int):
        self.value = float(value)
        self.unit = unit
        self.samples = int(samples)

    def as_dict(self) -> dict:
        return {"value": self.value, "unit": self.unit, "samples": self.samples}


@contextlib.contextmanager
def no_gc():
    """Python's cyclic GC off for the benchmark's own input generation:
    its full collections walk every object of the process, Spark's and
    the program's included, so they would make the time to generate the
    same input depend on what else the driver holds."""
    gc.disable()
    try:
        yield
    finally:
        gc.enable()


class Phases(dict):
    """Wall seconds per named phase of a run (a diagnostic, not a metric)."""

    @contextlib.contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self[name] = self.get(name, 0.0) + time.perf_counter() - t0


# ── host drift sentinel ─────────────────────────────────────────────────
def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop (best of three); moves only
    with the host, never with the program under test."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        best = min(best, time.perf_counter() - t0)
    return best


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


# ── process tree ────────────────────────────────────────────────────────
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(pid: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of every descendant of ``pid``."""
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        parent = todo.pop()
        for c in kids.get(parent, []):
            out.append((c, parent))
            todo.append(c)
    return out


def descendants(pid: int) -> list[int]:
    return [c for c, _ in _tree(pid)]


def _status_kb(pid: int) -> tuple[int, int]:
    """(VmRSS, VmHWM) of a process in kB, zeros once it has exited."""
    rss = hwm = 0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
                elif line.startswith("VmHWM:"):
                    hwm = int(line.split()[1])
    except OSError:
        pass
    return rss, hwm


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return "?"


def _not_yet_exec(pid: int, parent: int) -> bool:
    """A child between fork and exec: same executable as its parent, but
    named after the parent's thread that forked it (the JVM starting a
    Python worker). It shares the parent's pages, with vfork its whole
    address space, so its resident set would count the JVM twice."""
    return _exe(pid) == _exe(parent) and _comm(pid) != _comm(parent)


class PeakRss:
    """Peak over samples, every ``interval`` seconds, of the resident set
    summed over the process tree: this process, the JVM, Python workers
    and the load generator. Also keeps each process's own peak
    (``VmHWM``) for the breakdown."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self.hwm_kb: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = 0
        for pid, parent in [(me, None)] + _tree(me):
            if parent is not None and _not_yet_exec(pid, parent):
                continue
            rss, hwm = _status_kb(pid)
            total += rss
            if hwm > self.hwm_kb.get(pid, ("", 0))[1]:
                self.hwm_kb[pid] = ("driver" if pid == me else _comm(pid), hwm)
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def mb(self) -> float:
        return self.peak_kb / 1024

    def breakdown_mb(self) -> dict[str, float]:
        """Sum of per-process peaks, by process name."""
        out: dict[str, float] = {}
        for name, kb in self.hwm_kb.values():
            out[name] = out.get(name, 0.0) + kb / 1024
        return out


def stop_tree(pids: list[int], timeout: float = 15.0) -> None:
    """SIGTERM then SIGKILL each pid still alive, and wait until all are
    gone (zombies of this process are reaped)."""
    def alive(p):
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass
        try:
            with open(f"/proc/{p}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    for sig, wait in ((signal.SIGTERM, timeout), (signal.SIGKILL, timeout)):
        live = [p for p in pids if alive(p)]
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while live and time.monotonic() < deadline:
            time.sleep(0.05)
            live = [p for p in live if alive(p)]
        if not live:
            return
    raise RuntimeError(f"processes did not exit: {live}")


# ── Spark status tracker ────────────────────────────────────────────────
class JobCounter:
    """Counts jobs, executed stages and tasks Spark ran since the previous
    ``take()``. Reads the status tracker right away, before
    ``spark.ui.retainedJobs`` can evict a job."""

    def __init__(self, spark, groups=(None,)):
        self.tracker = spark.sparkContext.statusTracker()
        self.groups = list(groups)
        self.seen: set[int] = set(self._ids())

    def _ids(self) -> set[int]:
        ids: set[int] = set()
        for g in self.groups:
            ids.update(self.tracker.getJobIdsForGroup(g))
        return ids

    def take(self) -> tuple[int, int, int]:
        new = sorted(self._ids() - self.seen)
        self.seen.update(new)
        stages = tasks = 0
        for j in new:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else []:
                st = self.tracker.getStageInfo(s)
                if st and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return len(new), stages, tasks


class Spans:
    """In-memory spans (name, key, start, end, parent name); written out
    when the run ends."""

    def __init__(self):
        self.rows: list[tuple] = []
        self.overhead_s = 0.0  # time spent in the tracing hooks themselves

    def add(self, name: str, key, t0: float, t1: float, parent: str | None = None):
        self.rows.append((name, key, t0, t1, parent))

    def durations(self, name: str) -> dict:
        return {k: t1 - t0 for n, k, t0, t1, _ in self.rows if n == name}

    def self_time(self, name: str) -> dict:
        """Span duration minus the union of its children's intervals."""
        out = {}
        for n, k, t0, t1, _ in self.rows:
            if n != name:
                continue
            kids = sorted((a, b) for cn, ck, a, b, p in self.rows
                          if p == name and ck == k)
            covered, end = 0.0, t0
            for a, b in kids:
                a, b = max(a, end), min(b, t1)
                if b > a:
                    covered += b - a
                    end = b
            out[k] = (t1 - t0) - covered
        return out

    def as_list(self) -> list[dict]:
        return [{"name": n, "key": k, "start": t0, "end": t1, "parent": p}
                for n, k, t0, t1, p in self.rows]
