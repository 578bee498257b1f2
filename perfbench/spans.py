"""Spans around public sparklink calls, each in its own Spark job group.

A span records name, parent, start and end in memory. When tracing is on,
the span also runs its jobs under the job group ``perfbench:<run>:<n>``
and, on exit, reads the executor counters of that group's stages from
Spark's status store, plus the JVM / Python-worker CPU split from
``/proc``. Nothing is written until ``Tracer.dump`` at the end of the run.

With tracing off a span only keeps its clock readings, so the untraced run
pays a few ``perf_counter`` calls per span. The tracer times its own
bookkeeping (job-group switches, status-store and ``/proc`` reads): that
is the tracing overhead it reports.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from host import ProcessTree

_COUNTERS = (
    "executorRunTime",
    "executorCpuTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class Span(dict):
    @property
    def wall_s(self) -> float:
        return self["end"] - self["start"]


class Tracer:
    def __init__(self, spark, tree: ProcessTree, enabled: bool, run_id: str):
        self.spark = spark
        self.tree = tree
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # seconds spent in the tracer's own bookkeeping
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(name=name, parent=parent["name"] if parent else None, id=len(self.spans))
        self.spans.append(s)
        self._stack.append(s)
        t_in = time.perf_counter()
        traced = self.enabled
        if traced:
            s["group"] = f"perfbench:{self.run_id}:{s['id']}"
            sc.setJobGroup(s["group"], name)
            cpu0 = self.tree.cpu()
        s["start"] = time.perf_counter()
        overhead0 = self.overhead_s
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if traced:
                cpu1 = self.tree.cpu()
                s["proc_jit_cpu_s"] = cpu1["jit"] - cpu0["jit"]
                s["proc_jvm_cpu_s"] = cpu1["jvm"] - cpu0["jvm"] - s["proc_jit_cpu_s"]
                s["proc_python_cpu_s"] = cpu1["python"] - cpu0["python"]
                if parent is not None and "group" in parent:
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                s.update(self._group_counters(s["group"]))
            # tracer bookkeeping inside this span (nested spans) and around it
            inner = self.overhead_s - overhead0
            own = (s["start"] - t_in) + (time.perf_counter() - s["end"])
            self.overhead_s += own
            s["tracer_inner_s"] = inner
            s["tracer_s"] = inner + own

    @contextmanager
    def off(self):
        """Spans opened inside keep only their clock readings."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def _group_counters(self, group: str) -> dict:
        """Sum the status-store counters over every stage of the group's
        jobs (job ids of nested spans belong to the nested groups)."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # the status store is fed by the asynchronous listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = sc._jvm
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        totals = dict.fromkeys(_COUNTERS, 0)
        for sid in stage_ids:
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, None)
            for i in range(attempts.size()):
                data = attempts.apply(i)
                for c in _COUNTERS:
                    totals[c] += getattr(data, c)()
        return {
            "jobs": len(job_ids),
            "stages": len(stage_ids),
            "executor_run_s": totals["executorRunTime"] / 1e3,
            "executor_cpu_s": totals["executorCpuTime"] / 1e9,
            "shuffle_read_bytes": totals["shuffleReadBytes"],
            "shuffle_write_bytes": totals["shuffleWriteBytes"],
            "spill_bytes": totals["memoryBytesSpilled"] + totals["diskBytesSpilled"],
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "traced": self.enabled, "spans": self.spans}, f, indent=1)
