"""Layer probes: spans and per-layer counters taken from outside the engine.

A :class:`Recorder` wraps the benchmark's own calls into the engine.
Untraced (``trace=False``) every probe is a no-op, so the timed path
carries nothing but the caller's own ``perf_counter`` reads. Traced,
each :meth:`Recorder.layer` block

- records one span (name, start, end, parent span, operation id),
  kept in memory and written once by :meth:`Recorder.dump`, and
- runs inside its own Spark job group, whose jobs, stages, tasks and
  task metrics are read back from the application status store after
  the listener bus drains, so counts are complete and repeatable.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

#: status-store fields summed over a job group's non-skipped stages
STAGE_FIELDS = {
    "task_run_ms": "executorRunTime",
    "task_cpu_ms": "executorCpuTime",  # ns in the store, converted below
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


def group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and summed task metrics of one job group."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0 for k in STAGE_FIELDS}}
    seen = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        sids = store.job(jid).stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            for k, f in STAGE_FIELDS.items():
                out[k] += getattr(st, f)()
            out["spill_bytes"] += st.memoryBytesSpilled()
    out["task_cpu_ms"] = out["task_cpu_ms"] / 1e6
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Force physical planning of ``df`` and return the Catalyst phase
    durations (ms) its query execution tracked."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name + "_ms"] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


class Recorder:
    """Span and counter sink for one benchmark run."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.trace = trace
        self.spans: list[dict] = []
        #: per-pass counts a workload records at its own boundaries
        self.counts: dict = {}
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str, **attrs):
        """A span with no job group (pass and operation boundaries)."""
        if not self.trace:
            yield {}
            return
        rec = self._open(name, op, attrs)
        try:
            yield rec
        finally:
            self._close(rec)

    @contextmanager
    def layer(self, name: str, op: str, **attrs):
        """A span whose Spark jobs are counted into the span record."""
        if not self.trace:
            yield {}
            return
        rec = self._open(name, op, attrs)
        sc = self.spark.sparkContext
        group = f"{name}#{len(self.spans)}"
        sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            sc._jsc.clearJobGroup()
            self._close(rec)
            rec["counts"] = group_stats(self.spark, group)

    def _open(self, name: str, op: str, attrs: dict) -> dict:
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter() - self._t0
        self._stack.pop()

    def self_times(self, spans: list[dict]) -> dict[str, float]:
        """Sum of each span name's self time (duration minus the time
        its direct children cover) over ``spans``."""
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
