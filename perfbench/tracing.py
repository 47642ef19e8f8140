"""Spans, Spark stage metrics and process CPU for the benchmark.

A ``Tracer`` records a span around each public engine call the benchmark
makes. With tracing off a span only keeps its wall time (the end-to-end
metrics need it). With tracing on it also

* snapshots the CPU time of the driver JVM and of the Python workers from
  /proc before and after the span (Spark's ``executorCpuTime`` counts JVM
  threads only and misses the Python workers);
* after each request span ends, drains the Spark status store and
  attributes every finished stage and job to the innermost span whose time
  window holds its submission. The store keeps only the last ~1000 stages,
  so it is drained after every request.

Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


@dataclass
class Span:
    name: str
    rid: int                 # request id: spans of one request share it
    parent: int | None       # index of the parent span, None for requests
    start: float             # epoch seconds (the status store's clock)
    end: float = 0.0
    wall: float = 0.0        # perf_counter duration
    cpu0: tuple = (0.0, 0.0)
    attrs: dict = field(default_factory=dict)


class ProcProbe:
    """CPU and resident memory of the driver JVM and its Python workers,
    read from /proc. The JVM is the gateway process (or its java
    descendant); the Python workers are the JVM's descendants (the
    pyspark daemon and the workers it forks)."""

    def __init__(self, gateway_pid: int):
        self.jvm = self._find_java(gateway_pid)

    @staticmethod
    def _stat(pid: int) -> list[str] | None:
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            return None
        # comm may hold spaces: split after its closing parenthesis
        return raw[raw.rindex(")") + 2:].split()

    def _children_map(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = self._stat(int(name))
                if st is not None:
                    kids.setdefault(int(st[1]), []).append(int(name))
        return kids

    def _find_java(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            return pid
        kids = self._children_map()
        todo = list(kids.get(pid, []))
        while todo:
            p = todo.pop()
            try:
                with open(f"/proc/{p}/comm") as f:
                    if f.read().strip() == "java":
                        return p
            except OSError:
                continue
            todo.extend(kids.get(p, []))
        return pid

    def workers(self) -> list[int]:
        kids = self._children_map()
        out, todo = [], list(kids.get(self.jvm, []))
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    def cpu(self) -> tuple[float, float]:
        """(JVM CPU s, Python-worker CPU s). Worker CPU includes the reaped
        children of each worker process (a forked worker that exits is
        counted in its parent's cutime/cstime)."""
        st = self._stat(self.jvm)
        jvm = (int(st[11]) + int(st[12])) / _TICK if st else 0.0
        py = 0.0
        for p in self.workers():
            st = self._stat(p)
            if st:
                py += sum(int(x) for x in st[11:15]) / _TICK
        return jvm, py

    def rss_mb(self) -> float:
        total = 0.0
        for p in (self.jvm, *self.workers()):
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE_MB
            except OSError:
                continue
        return total


class RssSampler:
    """Background thread sampling JVM + Python-worker RSS; keeps the peak."""

    def __init__(self, probe: ProcProbe, interval: float = 0.2):
        self.probe, self.interval = probe, interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.probe.rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, self.probe.rss_mb())


class StageDrain:
    """Reads finished jobs, and the stages they ran, from the Spark status
    store. Jobs are read in id order, each once; a stage shared by several
    jobs is reported once."""

    def __init__(self, sc):
        self.store = sc._jsc.sc().statusStore()
        self.next_job = 0
        self.seen: set[int] = set()

    @staticmethod
    def _secs(opt) -> float | None:
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def drain(self) -> tuple[list[dict], list[dict]]:
        """(stages, jobs) finished since the last call."""
        from py4j.protocol import Py4JJavaError
        stages, jobs = [], []
        while True:
            try:
                j = self.store.job(self.next_job)
            except Py4JJavaError:       # no such job (yet)
                break
            if j.status().toString() == "RUNNING":
                break
            self.next_job += 1
            jobs.append({"id": j.jobId(),
                         "start": self._secs(j.submissionTime())})
            ids = str(j.stageIds().mkString(","))
            for sid in (int(x) for x in ids.split(",") if x):
                if sid in self.seen:
                    continue
                self.seen.add(sid)
                try:
                    s = self.store.lastStageAttempt(sid)
                except Py4JJavaError:   # evicted from the store
                    continue
                if s.status().toString() not in ("COMPLETE", "FAILED"):
                    continue            # skipped: it never ran
                stages.append({
                    "id": sid,
                    "start": self._secs(s.submissionTime()),
                    "end": self._secs(s.completionTime()),
                    "tasks": s.numTasks(),
                    "failed_tasks": s.numFailedTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "shuffle_read": s.shuffleReadBytes(),
                    "shuffle_write": s.shuffleWriteBytes(),
                    "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "site": s.name()})
        return stages, jobs


class Tracer:
    """Records spans; with ``enabled`` also CPU and Spark stage metrics."""

    def __init__(self, enabled: bool, spark=None, probe: ProcProbe | None = None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stages: list[dict] = []
        self.jobs: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._request: int | None = None     # open request span (main thread)
        self._rid = 0
        self.probe = probe
        self.drain = StageDrain(spark.sparkContext) if enabled else None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        """A request span when no span is open on this thread, else a child
        of the innermost open one. Spans opened from engine-owned threads
        (the write_table wrapper) become children of the open request."""
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._request
        with self._lock:
            if parent is None:
                self._rid += 1
                rid = self._rid
            else:
                rid = self.spans[parent].rid
            sp = Span(name, rid, parent, time.time(), attrs=dict(attrs))
            self.spans.append(sp)
            idx = len(self.spans) - 1
        is_request = parent is None
        if is_request:
            self._request = idx
        stack.append(idx)
        if self.enabled and self.probe is not None:
            sp.cpu0 = self.probe.cpu()
        # the span's window starts after the CPU probe and ends before the
        # next one, so probe time lands in the parent's self time
        sp.start, t0 = time.time(), time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall = time.perf_counter() - t0
            sp.end = time.time()
            stack.pop()
            if self.enabled and self.probe is not None:
                jvm, py = self.probe.cpu()
                sp.attrs["jvm_cpu_s"] = jvm - sp.cpu0[0]
                sp.attrs["py_cpu_s"] = py - sp.cpu0[1]
            if is_request:
                self._request = None
                if self.enabled:
                    self._collect()

    def _collect(self) -> None:
        stages, jobs = self.drain.drain()
        for rows, into in ((stages, self.stages), (jobs, self.jobs)):
            for r in rows:
                r["span"] = self._owner(r["start"])
                into.append(r)

    def _owner(self, t: float | None) -> int | None:
        """Innermost span whose window holds time ``t``."""
        if t is None:
            return None
        best, depth = None, -1
        for i, sp in enumerate(self.spans):
            if sp.start <= t <= sp.end:
                d = self.depth(i)
                if d > depth:
                    best, depth = i, d
        return best

    def depth(self, i: int) -> int:
        d = 0
        while self.spans[i].parent is not None:
            i = self.spans[i].parent
            d += 1
        return d

    # ------------------------------------------------------------ analysis
    def descendants(self, i: int) -> set[int]:
        out = {i}
        for j, sp in enumerate(self.spans):
            k = j
            while self.spans[k].parent is not None:
                k = self.spans[k].parent
                if k == i:
                    out.add(j)
                    break
        return out

    def children(self, i: int) -> list[int]:
        return [j for j, sp in enumerate(self.spans) if sp.parent == i]

    def self_time(self, i: int) -> float:
        """Span wall minus the part of it its child spans cover."""
        sp = self.spans[i]
        cov = _union([(self.spans[j].start, self.spans[j].end)
                      for j in self.children(i)], sp.start, sp.end)
        return sp.wall - cov

    def stage_totals(self, idxs: set[int]) -> dict:
        """Stage and job totals over the spans ``idxs`` (and nothing
        else), plus ``driver_s``: the spans' wall during which no stage
        ran (scheduling and driver-side Python)."""
        st = [s for s in self.stages if s["span"] in idxs]
        tot = {"stages": len(st),
               "jobs": sum(1 for j in self.jobs if j["span"] in idxs),
               "tasks": sum(s["tasks"] for s in st),
               "failed_tasks": sum(s["failed_tasks"] for s in st),
               "task_s": sum(s["run_s"] for s in st),
               "shuffle_read": sum(s["shuffle_read"] for s in st),
               "shuffle_write": sum(s["shuffle_write"] for s in st),
               "spill": sum(s["spill"] for s in st)}
        busy = 0.0
        for i in idxs:
            sp = self.spans[i]
            if sp.parent is not None and sp.parent in idxs:
                continue            # covered by its ancestor's window
            busy += sp.end - sp.start - _union(
                [(s["start"], s["end"] or sp.end) for s in st
                 if s["start"] is not None], sp.start, sp.end)
        tot["driver_s"] = busy
        return tot

    def check_self_times(self) -> dict:
        """Check the span tree. Every child lies inside its parent's
        window, and the children a span opened itself run one after
        another: none overlaps the next. Only ``tables.write`` spans may
        overlap, because the engine writes tables from its own threads.
        Where the children are sequential, the children's walls plus the
        parent's self time must add up to the parent's wall; the largest
        residual is reported (wall is perf_counter, windows are epoch
        clock). Returns the violations, one line each."""
        violations, worst, concurrent = [], 0.0, 0
        for i, sp in enumerate(self.spans):
            kids = self.children(i)
            for j in kids:
                k = self.spans[j]
                if k.start < sp.start or k.end > sp.end:
                    violations.append(f"{k.name} (span {j}) leaves the "
                                      f"window of {sp.name} (span {i})")
            seq = sorted((j for j in kids
                          if self.spans[j].name != "tables.write"),
                         key=lambda j: self.spans[j].start)
            for a, b in zip(seq, seq[1:]):
                if self.spans[b].start < self.spans[a].end:
                    violations.append(
                        f"{self.spans[b].name} (span {b}) overlaps "
                        f"{self.spans[a].name} (span {a})")
            if len(seq) < len(kids):
                concurrent += 1
            elif kids:
                total = sum(self.spans[j].wall for j in kids)
                worst = max(worst, abs(total + self.self_time(i) - sp.wall))
        return {"violations": violations, "max_residual_s": worst,
                "spans_with_writer_children": concurrent}

    def records(self) -> list[dict]:
        """One dict per span, with the failed tasks of its own stages."""
        failed: dict[int, int] = {}
        for s in self.stages:
            failed[s["span"]] = failed.get(s["span"], 0) + s["failed_tasks"]
        return [{"name": sp.name, "rid": sp.rid, "parent": sp.parent,
                 "start": sp.start, "end": sp.end, "wall": sp.wall,
                 "self": self.self_time(i), "failed_tasks": failed.get(i, 0),
                 **{k: v for k, v in sp.attrs.items()
                    if isinstance(v, (int, float, str))}}
                for i, sp in enumerate(self.spans)]

    def by_call_site(self) -> dict[str, dict]:
        """Stage totals grouped by the call site PySpark records."""
        out: dict[str, dict] = {}
        for s in self.stages:
            site = s["site"].split("/")[-1] if "/" in s["site"] else s["site"]
            g = out.setdefault(site, {"stages": 0, "tasks": 0, "task_s": 0.0})
            g["stages"] += 1
            g["tasks"] += s["tasks"]
            g["task_s"] = round(g["task_s"] + s["run_s"], 3)
        return out


def _union(iv: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in iv)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
