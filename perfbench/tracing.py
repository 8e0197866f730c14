"""Spans around calls into the engine's layers, plus Spark's own counters.

A ``Tracer`` records one span per layer call: name, start, end, parent
span and a trace id shared by every span of one round, cycle or query.
Spans stay in memory; ``dump`` writes them out when the run ends.

A span opened with ``counters=True`` also tags the call's batch jobs with
``setJobGroup`` and diffs Spark's status store around the call: every
job whose id is newer than the last one seen belongs to the span (one
client thread drives the session, and streaming jobs run on the
stream's own thread, so a job-id window catches both). Per span this
yields jobs, tasks, executor CPU, GC, shuffle bytes and the input
records read by the busiest task.

A disabled tracer (``Tracer(None)``) keeps no spans and touches no
Spark state, so the untraced end-to-end runs pay nothing for it.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time


def _seq(s) -> list:
    """A Scala Seq returned over py4j, as a Python list."""
    return [s.apply(i) for i in range(s.size())]


class _Counters:
    """Diff of Spark's status store over a window of job ids."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.next_job = self._scan_jobs(0)[1]

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self.bus.waitUntilEmpty(10_000)

    def _scan_jobs(self, start: int) -> tuple[list[int], int]:
        jobs, jid = [], start
        while True:
            try:
                self.store.job(jid)
            except Exception:  # py4j: NoSuchElementException past the last job
                return jobs, jid
            jobs.append(jid)
            jid += 1

    def collect(self) -> dict:
        self._drain()
        jobs, self.next_job = self._scan_jobs(self.next_job)
        out = {"jobs": len(jobs), "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_bytes": 0, "input_records": 0, "busiest_task_records": 0}
        for jid in jobs:
            for sid in _seq(self.store.job(jid).stageIds()):
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                if st.inputRecords() > 0:
                    out["input_records"] += st.inputRecords()
                    for task in _seq(self.store.taskList(sid, st.attemptId(), st.numTasks())):
                        m = task.taskMetrics()
                        if m.isDefined():
                            out["busiest_task_records"] = max(
                                out["busiest_task_records"],
                                m.get().inputMetrics().recordsRead(),
                            )
        return out


class Tracer:
    """In-memory span recorder (see module docstring)."""

    def __init__(self, spark=None) -> None:
        self.enabled = spark is not None
        self.spark = spark
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._counters = _Counters(spark) if self.enabled else None
        #: time spent reading counters — the tracer's own cost
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str, counters: bool = False, **attrs):
        """Record a span; ``counters`` adds the status-store diff. Yields
        the span dict so the caller can attach counts it read itself."""
        if not self.enabled:
            yield {}
            return
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "trace": trace_id,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        if counters:
            t0 = time.perf_counter()
            self._counters.collect()  # close the window on earlier jobs
            self.spark.sparkContext.setJobGroup(f"{trace_id}/{name}", name)
            self.bookkeeping_s += time.perf_counter() - t0
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if counters:
                self.spark.sparkContext.setJobGroup("", "")
                rec.update(self._counters.collect())
                self.bookkeeping_s += time.perf_counter() - rec["end"]
            self.spans.append(rec)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")
