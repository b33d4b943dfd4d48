"""Measurement helpers shared by the workloads.

- ``ProcTree``: CPU seconds and peak resident memory of a process and
  all its descendants, read from ``/proc`` (the benchmark's Python plus
  the Spark JVM it launched, or the ``serve`` subprocess and its JVM).
- ``StageCounters``: executor CPU, shuffle and spill per Spark job
  group, read from Spark's in-memory status store through py4j
  (the session runs with the UI off, so there is no REST endpoint).
- ``Tracer``: spans kept in memory (name, start, end, parent, request
  id) and written out once when the run ends. A disabled tracer records
  nothing and labels no job, so untraced runs pay nothing for it.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            # the command name may hold spaces; fields resume after ')'
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


class ProcTree:
    """A set of root processes and everything they spawn."""

    def __init__(self, *roots: int) -> None:
        self.roots = list(roots)

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for name in os.listdir("/proc"):
            if name.isdigit() and (f := _stat_fields(int(name))) is not None:
                children[int(f[1])].append(int(name))
        out, todo = [], list(self.roots)
        while todo:
            pid = todo.pop()
            if pid not in out:
                out.append(pid)
                todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """User + system CPU of the live tree, reaped children included."""
        ticks = 0
        for pid in self.pids():
            if (f := _stat_fields(pid)) is not None:
                ticks += sum(int(v) for v in f[11:15])
        return ticks / _CLK

    def peak_rss_mb(self) -> float:
        """Sum over the live tree of each process's peak resident set."""
        kb = 0
        for pid in self.pids():
            with contextlib.suppress(OSError):
                with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
        return kb / 1024


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


class StageCounters:
    """Task counters summed over the stages of one job group."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_status = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def flush(self) -> None:
        """Wait until the listener has filed every finished task."""
        self._bus.waitUntilEmpty(30_000)

    def group(self, label: str) -> dict[str, float]:
        tracker = self._sc.statusTracker()
        out = dict.fromkeys(
            ("jobs", "tasks", "cpu_s", "shuffle_write_mb", "spill_mb",
             "input_records"), 0.0)
        stages: set[int] = set()
        for job in tracker.getJobIdsForGroup(label):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            stages.update(info.stageIds if info else ())
        for sid in stages:
            try:
                attempts = self._store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles)
            except Exception:  # evicted or never submitted (skipped stage)
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                out["tasks"] += st.numCompleteTasks()
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
                out["input_records"] += st.inputRecords()
        return out


class Tracer:
    """In-memory spans; with ``sc`` set, each span that asks for it also
    labels the Spark jobs it runs with its own job group."""

    def __init__(self, enabled: bool, sc=None) -> None:
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None,
             request: str | None = None, label_jobs: bool = False):
        """Yields the span's id (None when disabled). Its Spark job group
        is ``<name>#<id>``."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = len(self.spans)
            self.spans.append({})
        if label_jobs:
            self.sc.setJobGroup(f"{name}#{sid}", name)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            if label_jobs:
                self.sc._jsc.clearJobGroup()
            self.spans[sid] = {
                "id": sid, "name": name, "parent": parent,
                "request": request, "start": start - self._t0,
                "end": end - self._t0,
            }

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, request: str | None = None) -> None:
        """Record a span timed elsewhere (``perf_counter`` readings)."""
        with self._lock:
            self.spans.append({
                "id": len(self.spans), "name": name, "parent": parent,
                "request": request, "start": start - self._t0,
                "end": end - self._t0,
            })

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (1-99) by linear interpolation."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]
