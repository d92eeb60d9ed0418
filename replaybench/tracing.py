"""Spans and Spark execution counters for the traced run.

Spans sit around the calls the benchmark makes and, through wrappers
installed by :func:`install`, around ``merge_batch`` and the ``LakeTable``
write and commit calls made under ``replay``. No program file changes: the
wrappers replace the attributes from this module at run time, in the
traced run only.

Execution counters come from the driver's status store, which works with
the UI off. They are attributed only to top-level spans (batch, maintenance
call, read, isolated call), which never overlap, by the job ids that
appeared while the span was open.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent and thread.

    A span opened in a worker thread with no open span of its own takes the
    innermost span open on the main thread as its parent, which is the
    caller that handed the work to the pool.
    """

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._main_stack: list[dict] = []
        self._t0 = time.perf_counter()
        self._epoch0 = time.time()

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def epoch_ms(self, t: float) -> float:
        return (self._epoch0 + t) * 1000.0

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "thread": threading.current_thread().name,
            "start": self.now(),
            "end": None,
            **attrs,
        }
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = self.now()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def descendants(self, sp: dict, names: tuple[str, ...]) -> list[dict]:
        out, todo = [], [sp["id"]]
        while todo:
            pid = todo.pop()
            for c in self.spans:
                if c["parent"] == pid:
                    todo.append(c["id"])
                    if c["name"] in names:
                        out.append(c)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_s(tracer: Tracer, sp: dict, names: tuple[str, ...]) -> float:
    """Span duration minus the part its ``names`` descendants cover."""
    kids = [(c["start"], c["end"]) for c in tracer.descendants(sp, names)]
    return (sp["end"] - sp["start"]) - union_s(kids, sp["start"], sp["end"])


WRAPPED = ("write_files", "write_delta_files", "commit")


def install(tracer: Tracer) -> None:
    """Wrap ``merge_batch`` (as ``cdc.replay`` calls it) and the LakeTable
    write and commit methods so each call records a span."""
    from ingestion3_spark.cdc import replay as replay_mod
    from ingestion3_spark.lakehouse.table import LakeTable

    orig_merge = replay_mod.merge_batch

    @functools.wraps(orig_merge)
    def merge_batch(*args, **kwargs):
        with tracer.span("merge.merge_batch"):
            return orig_merge(*args, **kwargs)

    replay_mod.merge_batch = merge_batch

    for meth in WRAPPED:
        orig = getattr(LakeTable, meth)

        def wrapped(self, *args, _orig=orig, _name=meth, **kwargs):
            with tracer.span(f"table.{_name}") as sp:
                out = _orig(self, *args, **kwargs)
                if _name != "commit":
                    sp["rows"] = sum(e.rows for e in out)
            return out

        setattr(LakeTable, meth, functools.wraps(orig)(wrapped))


STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "inputBytes", "inputRecords",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
    "diskBytesSpilled", "jvmGcTime",
)


class ExecCounters:
    """Per-span Spark execution counters from the driver's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.jvm = self.sc._jvm
        ids = self._job_ids()
        self.last_job = ids[-1] if ids else -1

    def _job_ids(self) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup())

    def collect(self) -> dict:
        """Counters of the jobs started since the previous call."""
        self.jsc.listenerBus().waitUntilEmpty()
        ids = [j for j in self._job_ids() if j > self.last_job]
        if ids:
            self.last_job = ids[-1]
        empty = self.jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        jobs, stage_ids, tasks = [], set(), 0
        for jid in ids:
            j = self.store.job(jid)
            sub, comp = j.submissionTime(), j.completionTime()
            if sub.isDefined() and comp.isDefined():
                jobs.append((sub.get().getTime(), comp.get().getTime()))
            tasks += j.numCompletedTasks()
            sids = j.stageIds()
            stage_ids.update(sids.apply(k) for k in range(sids.size()))
        out = {f: 0 for f in STAGE_FIELDS}
        longest, longest_wall = None, -1
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(sid, False, empty, False, quantiles)
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if str(s.status()) != "COMPLETE":
                    continue
                for f in STAGE_FIELDS:
                    out[f] += getattr(s, f)()
                sub, comp = s.submissionTime(), s.completionTime()
                if sub.isDefined() and comp.isDefined():
                    wall = comp.get().getTime() - sub.get().getTime()
                    if wall > longest_wall:
                        longest, longest_wall = (sid, s.attemptId()), wall
        skew = 1.0
        if longest is not None:
            tl = self.store.taskList(longest[0], longest[1], 1 << 20)
            durs = []
            for k in range(tl.size()):
                d = tl.apply(k).duration()
                if d.isDefined():
                    durs.append(d.get())
            if durs and statistics.median(durs) > 0:
                skew = max(durs) / statistics.median(durs)
        out.update(jobs=len(ids), tasks=tasks, job_intervals_ms=jobs, task_skew=skew)
        return out
