"""Outside-in instruments: in-memory spans, Spark status-tracker counts,
directory walks and peak resident memory. None of them touch the engine."""

from __future__ import annotations

import contextlib
import gc
import itertools
import json
import os
import threading
import time


class Tracer:
    """Spans around calls into engine layers. Each span has a name, start,
    end, parent span and request id; spans of one request share the id.
    Disabled tracers record nothing and cost one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.cost_s = 0.0  # time spent inside the tracer itself
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent["request"]
        rec = {"id": next(self._ids), "name": name, "request": request,
               "parent": parent["id"] if parent else None}
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
                self.cost_s += (rec["start"] - t_in) + (time.perf_counter() - rec["end"])

    def self_times(self, name: str) -> list[float]:
        """Self time in seconds of every span called ``name`` outside set-up:
        its duration minus the part of it that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            if s["name"] != name or s["request"] == "setup":
                continue
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out.append(s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class JobCounter:
    """Spark jobs and tasks per request, read from the status tracker. Each
    request runs under its own job group; jobs an engine call starts from a
    helper thread carry no group, so those are attributed by diffing the
    ungrouped job ids around a single-threaded call."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def ungrouped(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def counts(self, group: str, extra_jobs: set[int] = frozenset()) -> tuple[int, int]:
        jobs = set(self.tracker.getJobIdsForGroup(group)) | set(extra_jobs)
        tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for st in (info.stageIds if info else []):
                stage = self.tracker.getStageInfo(st)
                tasks += stage.numCompletedTasks if stage else 0
        return len(jobs), tasks


def file_sizes(root: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def tree_bytes(root: str) -> int:
    return sum(file_sizes(root).values()) if os.path.isdir(root) else 0


def _proc_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus this process."""
    return (_proc_kb(jvm_pid, "VmHWM") + _proc_kb("self", "VmHWM")) * 1024 / 1e6


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it (the driver JVM, its Python workers), counting children
    they have already reaped. Time the hypervisor or other processes take
    from this tree is not in it."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while the list was read
            continue
        # rest[1] is ppid; rest[11:15] utime, stime, cutime, cstime
        stats[int(d)] = (int(rest[1]), sum(map(int, rest[11:15])))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def live_memory_mb(spark) -> float:
    """Memory the system holds on to: driver JVM heap in use after full
    collections, plus this process's resident memory. Unlike peak RSS it
    does not depend on when the collector happened to run. Spark keeps the
    status of past jobs on the heap, so it is read after a fixed amount of
    work (the end of set-up), not after a timed loop. Python's collector
    runs first, so that JVM objects only dead Python proxies still held are
    released. Spark's ContextCleaner drops broadcast and shuffle blocks on
    its own thread after a collection finds them unreachable, so it
    collects, pauses, and repeats until the heap stops shrinking."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = float("inf")
    for _ in range(10):
        jvm.java.lang.System.gc()
        now = rt.totalMemory() - rt.freeMemory()
        if now > used - 1e6:
            break
        used = now
        time.sleep(0.5)
    return (min(used, now) + _proc_kb("self", "VmRSS") * 1024) / 1e6
