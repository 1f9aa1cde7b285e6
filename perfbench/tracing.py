"""Spans, job groups and Spark engine metrics for the traced run.

A ``Tracer`` records one span per call it wraps: name, start, end and the
span that was open when it started. Each span runs its Spark jobs under a
job group of its own and restores the caller's group when it ends, so the
engine metrics of every span can be read back from the status store after
the run. Spans are kept in memory and written out by ``Tracer.dump``.

The workloads install wrappers with ``Tracer.wrap`` around the public
functions the program calls, only in traced mode; ``Tracer.restore`` takes
them out again so that an untraced pass in the same process runs the plain
code.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

_GROUP_KEY = "spark.jobGroup.id"
_DESC_KEY = "spark.job.description"
_MB = 1024 * 1024


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0  # time spent opening and closing spans

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1]["id"] if self._stack else None
        sid = f"perfbench-span-{len(self.spans)}"
        prev_group = self.sc.getLocalProperty(_GROUP_KEY)
        prev_desc = self.sc.getLocalProperty(_DESC_KEY)
        rec = {"id": sid, "name": name, "parent": parent, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(sid, name)
        rec["start"] = time.time()
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            if prev_group is None:
                self.sc.setLocalProperty(_GROUP_KEY, None)
                self.sc.setLocalProperty(_DESC_KEY, None)
            else:
                self.sc.setJobGroup(prev_group, prev_desc or "")
            self.bookkeeping_s += time.perf_counter() - t1

    def wrap(self, owner: object, attr: str, label) -> None:
        """Replace ``owner.attr`` by a spanned call; ``label(args)`` names
        the span from the call's arguments."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            name, attrs = label(args, kwargs)
            with self.span(name, **attrs):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ queries
    def descendants(self, root: dict) -> list[dict]:
        """Every span opened while ``root`` was open, ``root`` included."""
        ids = {root["id"]}
        out = [root]
        for s in self.spans:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    @staticmethod
    def duration(s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        kids = [k for k in self.spans if k["parent"] == s["id"]]
        return self.duration(s) - sum(self.duration(k) for k in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)

    # ------------------------------------------------------------ engine
    def engine_metrics(self, spans: list[dict]) -> dict[str, float]:
        """Stage metrics of every job run under the groups of ``spans``,
        read from the status store (works with the UI disabled), plus the
        wall time of the first span during which no job was running."""
        jvm = self.sc._jvm
        as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        tracker = self.sc.statusTracker()
        job_ids = set()
        for s in spans:
            job_ids.update(tracker.getJobIdsForGroup(s["id"]))
        store = self.sc._jsc.sc().statusStore()
        intervals = []
        stage_ids = set()
        for j in as_java(store.jobsList(None)):
            if j.jobId() not in job_ids:
                continue
            stage_ids.update(as_java(j.stageIds()))
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
        empty = self.sc._gateway.new_array(jvm.double, 0)
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False, empty,
            jvm.java.util.ArrayList(),
        )
        m = {
            "spark.jobs": float(len(job_ids)),
            "spark.executor_run_s": 0.0,
            "spark.executor_cpu_s": 0.0,
            "spark.shuffle_read_mb": 0.0,
            "spark.shuffle_write_mb": 0.0,
            "spark.spill_mb": 0.0,
            "spark.peak_exec_mem_mb": 0.0,
            "spark.tasks": 0.0,
            "spark.failed_tasks": 0.0,
        }
        for st in as_java(stages):
            if st.stageId() not in stage_ids:
                continue
            m["spark.executor_run_s"] += st.executorRunTime() / 1000.0
            m["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            m["spark.shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            m["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            m["spark.spill_mb"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            ) / _MB
            m["spark.peak_exec_mem_mb"] = max(
                m["spark.peak_exec_mem_mb"], st.peakExecutionMemory() / _MB
            )
            m["spark.tasks"] += st.numTasks()
            m["spark.failed_tasks"] += st.numFailedTasks()
        window = (spans[0]["start"], spans[0]["end"])
        m["spark.no_job_s"] = (window[1] - window[0]) - _covered(intervals, window)
        return m


def _covered(intervals: list[tuple[float, float]], window: tuple[float, float]) -> float:
    """Length of the union of ``intervals`` clipped to ``window``."""
    lo, hi = window
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
