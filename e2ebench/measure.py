"""Measurement plumbing: spans, process-tree memory and CPU, host weather.

Everything here observes the engine from outside: wall clocks around
calls into the package, ``/proc`` for memory and CPU of the benchmark's
process tree (driver Python, the JVM it launches, the JVM's Python
workers) and Spark's public status/progress APIs read by the workloads.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def process_start_perf() -> float:
    """``time.perf_counter()`` value at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / _HZ)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """Live descendant pids of ``root`` (default: this process)."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _mem_bytes(pid: int) -> int:
    """Resident memory of one process. Python processes report their
    proportional set size (PSS: a page shared by n processes counts 1/n),
    so forked workers do not count the daemon's pages again. The JVM
    reports plain RSS from ``statm``: it shares nothing with the others,
    and walking its page tables for PSS takes ~20 ms under its mmap lock,
    enough to perturb what is being measured."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            exe = f.read().split(b"\0", 1)[0]
        if exe.endswith(b"java"):
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def python_worker_cpu_s() -> float:
    """CPU seconds (user + system) of the Python processes under the JVM:
    the pyspark daemon and its forked workers, where ``mapInPandas`` runs."""
    me = os.getpid()
    total = 0
    for pid in descendants():
        if pid == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark" not in cmd or b"java" in cmd.split(b"\0", 1)[0]:
                continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])  # utime, stime
        except (OSError, IndexError, ValueError):
            continue
    return total / _HZ


class MemorySampler:
    """Samples the summed resident memory of this process and its
    descendants (see :func:`_mem_bytes`)."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_mem_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(self.period_s)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


class Weather:
    """Host steal and load over a run, from /proc/stat and /proc/loadavg."""

    @staticmethod
    def _cpu() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def __init__(self):
        self._t0 = self._cpu()

    def report(self) -> dict:
        t1 = self._cpu()
        delta = [b - a for a, b in zip(self._t0, t1)]
        total = sum(delta) or 1
        steal = delta[7] if len(delta) > 7 else 0
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        return {"steal_pct": 100.0 * steal / total, "load1": load1,
                "cpus": os.cpu_count()}


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at exit.

    ``enabled=False`` keeps the same call sites at the cost of one
    attribute check, so the untraced run times exactly what the traced
    run times.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.tags: dict = {}  # merged into every new span
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **self.tags, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: dict | None, **attrs) -> None:
        """Record a span measured elsewhere (a micro-batch from progress)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "run": self.run_id,
                               "parent": parent["id"] if parent else None,
                               "start": start, "end": end, **self.tags, **attrs})

    def self_time_s(self) -> dict[str, float]:
        """Per layer (span-name prefix before the first dot): the summed
        span time minus the part covered by child spans."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + (s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            layer = s["name"].split(".", 1)[0]
            own = (s["end"] - s["start"]) - child_cover.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + max(own, 0.0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")
