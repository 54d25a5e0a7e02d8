"""Span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own files only: around the
calls the benchmark makes, and around the layer functions ``jobs``
calls, which :meth:`Tracer.wrap_jobs` replaces in the ``jobs`` module
namespace with pass-through timers. ``jobs`` runs table writes on its
own writer threads; a span opened on a thread with no open span of its
own parents to the operation span the benchmark has open, so those
spans land under the enclosing build.

Spans stay in memory and are written once, by :meth:`Tracer.dump`,
when the run ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# jobs-module name -> layer-qualified span name
JOBS_CALLS = {
    "read_return_bundle": "sources.xml_source.read_return_bundle",
    "with_parsed_return": "sources.xml_source.with_parsed_return",
    "split_corrupt": "sources.xml_source.split_corrupt",
    "filter_index": "sources.index.filter_index",
    "build_core": "extract.build_core",
    "build_rdb_table": "extract.build_rdb_table",
    "build_schedn_table": "extract.build_schedn_table",
    "write_table": "sinks.write_table",
    "write_dead_letter": "sinks.write_dead_letter",
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None  # one id per benchmark operation

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._next = 0
        self._local = threading.local()
        self._op_span: Span | None = None  # the open operation span
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, operation: bool = False):
        """Time the block as a span. ``operation=True`` opens a new
        operation: spans started on other threads parent to it."""
        st = self._stack()
        parent = st[-1] if st else self._op_span
        with self._lock:
            sid = self._next
            self._next += 1
        op = sid if operation or parent is None else parent.op
        s = Span(sid, name, time.perf_counter(), 0.0, parent.id if parent else None, op)
        st.append(s)
        if operation:
            self._op_span = s
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            st.pop()
            if operation:
                self._op_span = None
            with self._lock:
                self.spans.append(s)

    def wrap_jobs(self, jobs_module) -> None:
        """Replace each layer function ``jobs`` calls with a timer."""
        for attr, name in JOBS_CALLS.items():
            fn = getattr(jobs_module, attr)

            @functools.wraps(fn)
            def timed(*a, _fn=fn, _name=name, **kw):
                with self.span(_name):
                    return _fn(*a, **kw)

            self._patched.append((jobs_module, attr, fn))
            setattr(jobs_module, attr, timed)

    def unwrap(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")

    # -- analysis ---------------------------------------------------

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part its children's union covers."""
        ivs = [(max(c.start, span.start), min(c.end, span.end)) for c in self.children(span)]
        return span.dur - union_length(ivs)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class JvmProbe:
    """Counters read from the driver JVM: Spark jobs and tasks from the
    status tracker, GC time and heap peaks from the management beans,
    and the process's peak resident set from ``/proc``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self._mf = self.jvm.java.lang.management.ManagementFactory

    def job_ids(self) -> set[int]:
        # jobs submitted outside any job group: the program sets none
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def tasks(self, job_ids) -> int:
        tr = self.sc.statusTracker()
        n = 0
        for j in job_ids:
            info = tr.getJobInfo(j)
            for st in info.stageIds if info else ():
                si = tr.getStageInfo(st)
                n += si.numCompletedTasks if si else 0
        return n

    def gc_seconds(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1e3

    def reset_heap_peak(self) -> None:
        for p in self._mf.getMemoryPoolMXBeans():
            if str(p.getType()) == "Heap memory":
                p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peaks since the last reset: an upper
        bound on the heap in use at any one time."""
        return sum(
            p.getPeakUsage().getUsed()
            for p in self._mf.getMemoryPoolMXBeans()
            if str(p.getType()) == "Heap memory"
        ) / 2**20

    def rss_peak_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def storage_mb(self) -> tuple[float, float]:
        """(memory, disk) MB held by persisted RDDs right now."""
        mem = disk = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            mem += info.memSize()
            disk += info.diskSize()
        return mem / 2**20, disk / 2**20

    def storage_capacity_mb(self) -> float:
        """Storage memory the block manager can hold on this heap."""
        status = self.sc._jsc.sc().getExecutorMemoryStatus()
        it = status.valuesIterator()
        total = 0
        while it.hasNext():
            total += it.next()._1()
        return total / 2**20
