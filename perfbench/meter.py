"""What the benchmark measures besides wall time.

- ``ProcTree``: CPU seconds and resident memory of this process and all
  its descendants (the Spark JVM and its Python workers), read from
  ``/proc``. CPU is tick-based, so hypervisor steal is not in it.
- ``host_steal_s``: host-wide steal time from ``/proc/stat``, recorded per
  run so that a noisy run can be attributed.
- ``StatusStore``: per-stage counters from the driver's ``AppStatusStore``
  over py4j (works with the UI off), summed over the stages that ran
  since a mark.
- ``Tracer``: spans (name, start, end, parent) kept in memory; the run
  record carries them out when the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process ended between listing and reading
        return None


class ProcTree:
    """This process and its descendants."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self._peak_mb = 0.0
        self._stop = threading.Event()
        self._sampler: threading.Thread | None = None

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            stat = _read(f"/proc/{entry}/stat")
            if stat is None:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """User+system seconds of the live processes, plus those of their
        reaped children (so a worker that exited still counts)."""
        ticks = 0
        for pid in self.pids():
            stat = _read(f"/proc/{pid}/stat")
            if stat is None:
                continue
            f = stat.rsplit(")", 1)[1].split()
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        return ticks / _CLK

    def rss_mb(self) -> float:
        kb = 0
        for pid in self.pids():
            status = _read(f"/proc/{pid}/status")
            for line in (status or "").splitlines():
                if line.startswith("VmRSS:"):
                    kb += int(line.split()[1])
                    break
        return kb / 1024

    def start_sampling(self, every_s: float) -> None:
        """Sample the tree's summed resident memory in a thread; the
        highest sum is ``peak_mb``."""

        def loop():
            while not self._stop.wait(every_s):
                self._peak_mb = max(self._peak_mb, self.rss_mb())

        self._sampler = threading.Thread(target=loop, daemon=True)
        self._sampler.start()

    def stop_sampling(self) -> float:
        self._stop.set()
        if self._sampler is not None:
            self._sampler.join(timeout=5)
        self._peak_mb = max(self._peak_mb, self.rss_mb())
        return self._peak_mb


def host_steal_s() -> float:
    """Cumulative steal seconds summed over all CPUs of the host."""
    fields = (_read("/proc/stat") or "cpu 0 0 0 0 0 0 0 0").splitlines()[0].split()
    return int(fields[8]) / _CLK if len(fields) > 8 else 0.0


_STAGE_FIELDS = {
    "tasks": "numTasks",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


class StatusStore:
    """Counters of the stages and jobs that ran since a mark."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)

    def _stages(self):
        empty = self._jvm.java.util.ArrayList
        return self._store.stageList(empty(), False, False, self._no_quantiles, empty())

    def mark(self) -> tuple[int, int]:
        stages = self._stages()
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        top_stage = stages.apply(0).stageId() if stages.size() else -1
        top_job = jobs.apply(0).jobId() if jobs.size() else -1
        return top_stage, top_job

    def since(self, mark: tuple[int, int], stage_time: bool = False) -> dict[str, float]:
        """Sums over stages with a higher id than the mark (both lists
        come newest first), plus the number of jobs and stages; with
        ``stage_time``, also the summed run time of those stages
        (``stage_s``). Waits until the listener bus has delivered every
        event, so the store holds the stages that just ended."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        out["stages"] = out["stage_s"] = 0
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark[0]:
                break
            if str(s.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            for key, getter in _STAGE_FIELDS.items():
                out[key] += getattr(s, getter)()
            if stage_time:
                out["stage_s"] += (s.completionTime().get().getTime() - s.submissionTime().get().getTime()) / 1e3
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        out["jobs"] = 0
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= mark[1]:
                break
            out["jobs"] += 1
        out["cpu_s"] = out.pop("cpu_ns") / 1e9
        out["gc_s"] = out.pop("gc_ms") / 1e3
        return out

    def cached_bytes(self) -> int:
        """Memory plus disk bytes of every cached RDD (e.g. a persisted
        DataFrame)."""
        rdds = self._store.rddList(True)
        return sum(rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed() for i in range(rdds.size()))


class Tracer:
    """Spans with their parents, kept in memory."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0
