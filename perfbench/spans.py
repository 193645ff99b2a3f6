"""Op timing, Spark job accounting and in-memory spans.

Every timed operation runs under a fresh Spark job group, and its jobs,
stages and tasks are read back from ``statusTracker()``. PySpark 4.1 has no
``SparkContext.clearJobGroup``, so each op (and each untimed check) sets a
new group instead of clearing the old one. ``stream_index_append`` runs its
micro-batch jobs on the stream thread under the group ``str(query.runId)``,
not the caller's, so callers pass that group in explicitly.

Spans (name, start, end, parent, op id) are kept in memory and written out
once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


class SparkJobs:
    """Job-group bookkeeping on one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._seq = itertools.count()

    def new_group(self, label: str) -> str:
        group = f"perfbench-{next(self._seq)}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def _drain_listener_bus(self) -> None:
        # job/stage info reaches the status store through the asynchronous
        # listener bus; wait for it so the last job of an op is counted
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # no such method on this Spark build: poll briefly
            time.sleep(0.2)

    def counts(self, *groups: str) -> JobCounts:
        self._drain_listener_bus()
        out = JobCounts()
        for g in groups:
            for jid in self.tracker.getJobIdsForGroup(g):
                info = self.tracker.getJobInfo(jid)
                if info is None:
                    continue
                out.jobs += 1
                for sid in info.stageIds:
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:
                        out.stages += 1
                        out.tasks += st.numTasks
        return out


@dataclass
class OpRecord:
    name: str
    op_id: int
    seconds: float = 0.0
    ok: bool = True
    counts: JobCounts = field(default_factory=JobCounts)
    extra_groups: list = field(default_factory=list)


class Tracer:
    """Times ops; with ``enabled`` also records spans for sub-layers."""

    def __init__(self, jobs: SparkJobs, enabled: bool):
        self.jobs = jobs
        self.enabled = enabled
        self.spans: list[dict] = []
        self._op_ids = itertools.count()
        self._t0 = time.perf_counter()

    def _span(self, name: str, op_id: int, parent: str | None, t0: float, t1: float) -> None:
        if self.enabled:
            self.spans.append(
                {"op_id": op_id, "name": name, "parent": parent,
                 "start": round(t0 - self._t0, 6), "end": round(t1 - self._t0, 6)}
            )

    @contextmanager
    def op(self, name: str):
        """Time one closed-loop operation. The body must consume its result
        (collect/count) inside the block."""
        rec = OpRecord(name, next(self._op_ids))
        group = self.jobs.new_group(name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec.seconds = t1 - t0
            self._span(name, rec.op_id, None, t0, t1)
            rec.counts = self.jobs.counts(group, *rec.extra_groups)

    @contextmanager
    def sub(self, rec: OpRecord, name: str):
        """A traced sub-layer span of ``rec``: yields a dict that receives
        ``seconds`` and ``counts`` for the sub-layer's own job group."""
        out: dict = {}
        group = self.jobs.new_group(f"{rec.name}.{name}")
        t0 = time.perf_counter()
        yield out
        t1 = time.perf_counter()
        out["seconds"] = t1 - t0
        self._span(name, rec.op_id, rec.name, t0, t1)
        out["counts"] = self.jobs.counts(group)

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
