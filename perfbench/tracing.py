"""Measurement helpers: spans, the process tree's CPU and memory from
``/proc``, Spark job counts per job group, and a streaming-progress
listener. Nothing here reaches into the program; every number is taken
around a call into one of its public functions."""

from __future__ import annotations

import json
import statistics
import os
import threading
import time
from contextlib import contextmanager

_HZ = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans (name, start, end, parent) kept in memory and written once.
    A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"metrics": metrics, "spans": self.spans}, f, indent=1)


def round_median(per_round: list[float]) -> dict[str, tuple[float, str]]:
    """The end-to-end CPU metric: the median over the run's rounds of
    each round's CPU milliseconds per item, so that one round slowed by
    the host weighs little."""
    return {"core_ms_per_item": (statistics.median(per_round), "ms")}


def _stat(pid: int):
    """(ppid, comm, cpu ticks incl. reaped children) of one process, or
    None when it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): ppid is 4, utime..cstime are 14..17
    return int(fields[1]), comm, sum(int(x) for x in fields[11:15])


def _tree() -> dict[int, tuple[str, int]]:
    """pid -> (comm, cpu ticks) for this process and its descendants."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                procs[int(entry)] = st
    me = os.getpid()
    keep = {me}
    changed = True
    while changed:
        changed = False
        for pid, (ppid, _, _) in procs.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                changed = True
    return {pid: procs[pid][1:] for pid in keep if pid in procs}


def descendants() -> set[int]:
    return set(_tree()) - {os.getpid()}


def wait_ended(pids: set[int], timeout: float) -> bool:
    """Wait until none of ``pids`` runs (gone or a zombie)."""
    deadline = time.monotonic() + timeout
    while True:
        running = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            if raw[raw.rindex(")") + 2] != "Z":
                running.append(pid)
        if not running:
            return True
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)


def tree_cpu() -> dict[str, float]:
    """CPU seconds used so far by the tree, split into the JVM and the
    Python processes (this driver and the Python workers). Children
    reaped by a live member count through its cutime/cstime."""
    out = {"jvm": 0.0, "python": 0.0}
    for comm, ticks in _tree().values():
        out["jvm" if comm == "java" else "python"] += ticks / _HZ
    return out


def fmt_cpu(cpu: dict[str, float]) -> str:
    return f"{sum(cpu.values()):.2f} s (jvm {cpu['jvm']:.2f})"


def tree_hwm_mb() -> float:
    """Sum of VmHWM (peak resident set) over the live process tree."""
    total_kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _HZ


class JobCounter:
    """Spark jobs per job group, read from ``statusTracker()``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, out: dict, key: str):
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, key)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            out[key] = out.get(key, 0) + len(self.sc.statusTracker().getJobIdsForGroup(gid))


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress event's
    batch id, input rows and ``durationMs`` per query, and notes each
    query's termination so the caller can wait for the bus to drain."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: dict[str, list[tuple[int, int, dict]]] = {}
            self.terminated: set[str] = set()
            self.cond = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self.cond:
                self.progress.setdefault(str(p.id), []).append(
                    (p.batchId, p.numInputRows, dict(p.durationMs))
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.cond:
                self.terminated.add(str(event.id))
                self.cond.notify_all()

        def wait_terminated(self, qid: str, timeout: float = 30.0) -> bool:
            with self.cond:
                return self.cond.wait_for(lambda: qid in self.terminated, timeout)

    return _Listener()


@contextmanager
def counting_scandir(os_module, counter: list[int]):
    """Within the block, count into ``counter[0]`` every entry that
    ``os_module.scandir`` yields, as the module calling it sees it."""
    real = os_module.scandir

    class _Counted:
        def __init__(self, it):
            self._it = it

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._it.close()

        def __iter__(self):
            for entry in self._it:
                counter[0] += 1
                yield entry

    os_module.scandir = lambda *a, **k: _Counted(real(*a, **k))
    try:
        yield
    finally:
        os_module.scandir = real
