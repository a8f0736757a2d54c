"""In-memory spans around calls into the engine's layers, plus executor
metrics read from Spark's status store for a wall-clock window.

A span records its name, layer, start, end, parent and free-form counts
(rows in/out). Self time is a span's duration minus the time covered by
its children. Spans are kept in memory and written out once, at exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. Disabled tracers cost one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """Yields the span's attribute dict; its ``dur_s`` is set on exit,
        whether or not the tracer records."""
        if not self.enabled:
            t = time.time()
            try:
                yield attrs
            finally:
                attrs["dur_s"] = time.time() - t
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            attrs["dur_s"] = rec["end"] - rec["start"]

    def add(self, name: str, layer: str, start: float, end: float,
            **attrs) -> None:
        """Record a span measured elsewhere (a wave reported by the engine)."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "name": name, "layer": layer,
                "parent": self._stack[-1] if self._stack else None,
                "start": start, "end": end, "attrs": attrs})

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer: each span's duration minus the
        union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            own = (s["end"] - s["start"]) - covered
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


def _in_window(opt_date, t0: float, t1: float) -> bool:
    if not opt_date.isDefined():
        return False
    ts = opt_date.get().getTime() / 1000.0
    return t0 <= ts <= t1


def executor_window(spark, t0: float, t1: float) -> dict:
    """Jobs, stages and summed executor metrics of the stages submitted in
    [t0, t1], read from the status store from outside the engine. Task
    skew is max/median task run time of the window's longest stage; peak
    execution memory is the largest stage's sum of its tasks' peaks (hash
    aggregation, sort and join buffers)."""
    jvm = spark._jvm
    ss = spark.sparkContext._jsc.sc().statusStore()
    jobs = ss.jobsList(None)
    n_jobs = sum(1 for i in range(jobs.size())
                 if _in_window(jobs.apply(i).submissionTime(), t0, t1))
    stages = ss.stageList(jvm.java.util.ArrayList(), False, False,
                          spark.sparkContext._gateway.new_array(jvm.double, 0),
                          jvm.java.util.ArrayList())
    out = {"jobs": n_jobs, "stages": 0, "executor_cpu_s": 0.0,
           "executor_run_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "task_skew": 1.0,
           "peak_exec_mem_bytes": 0}
    top = None
    for i in range(stages.size()):
        s = stages.apply(i)
        if not _in_window(s.submissionTime(), t0, t1):
            continue
        out["stages"] += 1
        run_ms = int(s.executorRunTime())
        out["executor_run_s"] += run_ms / 1000.0
        out["executor_cpu_s"] += int(s.executorCpuTime()) / 1e9
        out["gc_s"] += int(s.jvmGcTime()) / 1000.0
        out["shuffle_read_bytes"] += int(s.shuffleReadBytes())
        out["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
        out["spill_bytes"] += int(s.memoryBytesSpilled())
        out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"],
                                         int(s.peakExecutionMemory()))
        if top is None or run_ms > top[0]:
            top = (run_ms, int(s.stageId()), int(s.attemptId()))
    if top is not None:
        qs = spark.sparkContext._gateway.new_array(jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        dist = ss.taskSummary(top[1], top[2], qs)
        if dist.isDefined():
            run = dist.get().executorRunTime()
            if run.apply(0) > 0:
                out["task_skew"] = float(run.apply(1)) / float(run.apply(0))
    return out
