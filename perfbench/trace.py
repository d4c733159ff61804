"""In-memory spans and layer counters, recorded from outside the package.

A span has a name, a start, an end, a parent and the run id.  Spans are
kept in memory and summarized when the session ends: total and self time
per name, where self time is the span's duration minus the part of it its
children cover.  The no-op tracer keeps the timed calls identical in the
untraced run.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    enabled = True
    active = True  # False: spans are skipped (an untraced pass)

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans = []  # [id, name, start, end, parent_id, phase]
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_top = None  # innermost open span of the main thread
        self.phase = ""

    def _stack(self):
        st = getattr(self._local, "stack", None)
        if st is None:
            # a pool thread's spans hang off the span open on the main
            # thread, which started the pool
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        st = self._stack()
        main = threading.current_thread() is threading.main_thread()
        parent = st[-1] if st else (None if main else self._main_top)
        rec = [next(self._ids), name, time.perf_counter(), None, parent, self.phase]
        st.append(rec[0])
        if main:
            self._main_top = rec[0]
        try:
            yield rec
        finally:
            rec[3] = time.perf_counter()
            st.pop()
            if main:
                self._main_top = st[-1] if st else None
            self.spans.append(rec)

    def wrap(self, module, attr: str, name: str) -> None:
        """Time every call of ``module.attr`` as a ``name`` span."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def records(self) -> list:
        """Every span as a dict, times in seconds from the first span."""
        t0 = min((s[2] for s in self.spans), default=0.0)
        return [
            {"run": self.run_id, "id": sid, "parent": parent, "name": name,
             "phase": phase, "start": start - t0, "end": end - t0}
            for sid, name, start, end, parent, phase in self.spans
        ]

    def _phase(self, phase: str):
        """The phase's spans, and each span id's child intervals."""
        spans = [s for s in self.spans if s[5] == phase]
        children = {}
        for s in spans:
            children.setdefault(s[4], []).append((s[2], s[3]))
        return spans, children

    def summary(self, phase: str) -> dict:
        """name -> {"total": s, "self": s, "count": n} for one phase."""
        spans, children = self._phase(phase)
        out = {}
        for sid, name, start, end, _parent, _ph in spans:
            covered = _union(children.get(sid, []), start, end)
            row = out.setdefault(name, {"total": 0.0, "self": 0.0, "count": 0})
            row["total"] += end - start
            row["self"] += (end - start) - covered
            row["count"] += 1
        return out

    def coverage(self, phase: str, op_name: str) -> float:
        """Share of the ``op_name`` spans' wall covered by their children."""
        spans, children = self._phase(phase)
        wall = covered = 0.0
        for sid, name, start, end, _p, _ph in spans:
            if name == op_name:
                wall += end - start
                covered += _union(children.get(sid, []), start, end)
        return covered / wall if wall else 0.0


class NullTracer:
    enabled = False
    active = False
    phase = ""

    @contextmanager
    def span(self, name: str):
        yield None


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- layer counters read from outside the package ------------------------

def codegen_counters(spark) -> tuple:
    """(compiles, compile_ms) so far in this JVM, from CodegenMetrics.

    The compile-time histogram keeps every sample while it holds fewer than
    its reservoir size (1028); past that its mean times the count is used.
    """
    hist = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    count = hist.getCount()
    snap = hist.getSnapshot()
    if count <= snap.size():
        total = float(sum(snap.getValues()))
    else:
        total = snap.getMean() * count
    return int(count), total


def stage_counters(spark) -> dict:
    """App-wide stage totals (see ``plans.metrics.stage_totals``)."""
    from arthur_redshift_etl_spark.plans.metrics import stage_totals

    tot = stage_totals(spark)
    tot["jobs"] = int(spark.sparkContext._jsc.sc().statusStore().jobsList(None).size())
    return tot


def group_jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _proc_stat(pid: int):
    with open(f"/proc/{pid}/stat") as fh:
        rest = fh.read().rsplit(")", 1)[1].split()
    # ppid, utime+stime, cutime+cstime
    return int(rest[1]), int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14])


def python_worker_cpu_ms(jvm_pid: int) -> tuple:
    """(cpu_ms, live_workers) of the Python processes the JVM started.

    CPU of every live descendant of the JVM (the worker daemon and its
    forked workers, plus their reaped children) and of the JVM's own reaped
    children (data-source planning workers).
    """
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                procs[int(name)] = _proc_stat(int(name))
            except (OSError, IndexError, ValueError):
                continue
    kids = {}
    for pid, (ppid, _t, _c) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks = procs.get(jvm_pid, (0, 0, 0))[2]
    live = 0
    todo = list(kids.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        _pp, own, reaped = procs[pid]
        ticks += own + reaped
        live += 1
        todo.extend(kids.get(pid, []))
    return ticks * 1000.0 / os.sysconf("SC_CLK_TCK"), live


def jvm_peak_rss_mb(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
