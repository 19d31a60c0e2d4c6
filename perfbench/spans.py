"""Spans around the calls into each engine layer, and the Spark counters
read back for them.

A span is ``(name, start, end, parent, run_id)``.  Spans are kept in
memory and written out when the benchmark ends.  Each span runs its
Spark jobs under its own job group, so the AppStatusStore (stages, tasks,
shuffle, spill) and the SQL status store (per-operator metrics) can be
read per span after the traced iteration has finished.  Both stores are
populated with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import asdict, dataclass, field

# What each layer span reports besides wall_s and self_s.  idle_core_s is
# self_s x cores - task_s; the rest are read from the status stores.
LAYER_COUNTERS = (
    "jobs",
    "tasks",
    "task_s",
    "idle_core_s",
    "task_skew",
    "shuffle_bytes",
)
LAYER_SPANS = (
    "fit",
    "fit.summary",
    "transform.prepass",
    "transform.encode",
    "drift.psi",
    "text",
    "dedup.digest",
    "dedup.minhash",
    "dedup.cc",
    "dedup.keep_best",
    "sampling",
)
# spans of driver-only work (no Spark jobs): wall_s only
DRIVER_SPANS = ("algo",)
ROOT = "iteration"


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    group: str
    counters: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it covered by its children.

    Children's intervals are clipped to the parent and merged first, so
    overlapping children are not subtracted twice.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


class Tracer:
    """Records spans; with a SparkContext, gives each span its own job
    group and restores the enclosing span's group on exit."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = "run0"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"perfbench:{self.run_id}:{idx}:{name}"
        s = Span(name, time.perf_counter(), None, parent, self.run_id, group)
        self.spans.append(s)
        self._stack.append(idx)
        self._set_group(group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[parent].group if parent is not None else None)

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def run(self, run_id: str) -> list[tuple[Span, float]]:
        """Spans recorded for one traced iteration, each with its self
        time."""
        return [
            (s, own)
            for s, own in zip(self.spans, self_times(self.spans))
            if s.run_id == run_id
        ]

    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        rows = []
        for s, own in zip(self.spans, selfs):
            row = asdict(s)
            row["self_s"] = own
            rows.append(row)
        return rows


def _seq(x) -> list:
    """A Scala Seq seen through py4j, as a Python list."""
    return [x.apply(i) for i in range(x.size())]


class SparkCounters:
    """Reads stage and SQL counters for one job group from the status
    stores of a live SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        # a stage re-used by a later job (a skipped shuffle map stage keeps
        # its id) is charged to the first span that ran it
        self._claimed: set[int] = set()

    def settle(self) -> None:
        """Wait until every listener event posted so far has reached the
        status stores."""
        self._jsc.listenerBus().waitUntilEmpty()

    def read(self, group: str, scans: bool = False) -> dict:
        """Counters of the jobs run under ``group``; ``scans`` adds the
        file-scan count, which walks the SQL executions and is slower."""
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stages = {}
        for jid in job_ids:
            for sid in _seq(self._store.job(jid).stageIds()):
                if sid not in stages and sid not in self._claimed:
                    st = self._store.lastStageAttempt(sid)
                    if st.status().toString() in ("COMPLETE", "FAILED"):
                        stages[sid] = st
        self._claimed.update(stages)
        run_ms = {sid: st.executorRunTime() for sid, st in stages.items()}
        skew = 0.0
        if run_ms:
            slow = max(run_ms, key=run_ms.get)
            summary = self._store.taskSummary(slow, stages[slow].attemptId(), self._quantiles)
            if summary.isDefined():
                q = summary.get().executorRunTime()
                median, top = q.apply(0), q.apply(1)
                skew = top / median if median > 0 else (1.0 if top == 0 else top)
        out = {
            "jobs": len(job_ids),
            "tasks": sum(st.numCompleteTasks() for st in stages.values()),
            "task_s": sum(run_ms.values()) / 1000.0,
            "task_skew": skew,
            "shuffle_bytes": sum(st.shuffleWriteBytes() for st in stages.values()),
            "spill_bytes": sum(
                st.memoryBytesSpilled() + st.diskBytesSpilled() for st in stages.values()
            ),
        }
        if scans:
            out["scans"] = self._file_scans(set(job_ids))
        return out

    def _file_scans(self, job_ids: set[int]) -> int:
        """File-source scans that ran in the SQL executions of these jobs:
        distinct ``number of files read`` accumulators with a value."""
        if not job_ids:
            return 0
        scans = set()
        for e in _seq(self._sql.executionsList()):
            if not job_ids.intersection(_seq(e.jobs().keys().toSeq())):
                continue
            values = self._sql.executionMetrics(e.executionId())
            for m in _seq(e.metrics()):
                if m.name() == "number of files read" and values.get(m.accumulatorId()).isDefined():
                    scans.add(m.accumulatorId())
        return len(scans)
