"""Spans and Spark counters for the traced run.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, op id)
and writes them out when the run ends. Spans are recorded by the
benchmark around its calls into the package's modules; the package itself
is not instrumented. With tracing off every method is a cheap no-op, so
the untraced run executes the same code path.

Spark counters come from the driver's status APIs, which work with the UI
disabled: ``SparkContext.statusTracker`` finds the jobs of an op's job
group, and the JVM ``AppStatusStore`` gives each job's submit/complete
time and each stage's task metrics.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


STAGE_FIELDS = {
    # AppStatusStore v1.StageData getter -> counter name
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "executorRunTime": "executor_run_ms",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
}


class Tracer:
    """Span recorder. ``enabled=False`` makes every call a no-op."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[dict] = []  # per traced op: wall + Spark counters
        self.bookkeeping_s = 0.0  # time spent reading Spark counters
        self._stack: list[Span] = []
        self._op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, time.time(), 0.0, parent, self._op)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def op(self, kind: str):
        """One unit of user work: a root span, plus a job group so its
        Spark jobs can be attributed afterwards."""
        if not self.enabled:
            yield None
            return
        op_id = len(self.ops)
        group = f"perfbench-op-{op_id}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        self._op = op_id
        try:
            with self.span(f"op.{kind}") as sp:
                yield sp
        finally:
            self._op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            t = time.perf_counter()
            self.ops.append({"op": op_id, "kind": kind, "span": sp.sid,
                             "wall_s": sp.seconds, **self._spark_counters(group, sp)})
            self.bookkeeping_s += time.perf_counter() - t

    def _spark_counters(self, group: str, sp: Span) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = {v: 0 for v in STAGE_FIELDS.values()}
        out.update(jobs=0, stages=0, job_intervals=[])
        tracker = sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                out["job_intervals"].append(
                    (sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0))
            out["jobs"] += 1
            for sid in tracker.getJobInfo(jid).stageIds:
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for getter, key in STAGE_FIELDS.items():
                    out[key] += int(getattr(sd, getter)())
        out["exec_s"] = _union(out["job_intervals"], sp.start, sp.end)
        return out

    def jobs_within(self, op: dict, sp: Span) -> int:
        """Spark jobs of ``op`` submitted while ``sp`` was open."""
        return sum(1 for s, _e in op["job_intervals"] if sp.start <= s <= sp.end)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.sid]

    def self_seconds(self, sp: Span) -> float:
        return sp.seconds - _union([(c.start, c.end) for c in self.children(sp)], sp.start, sp.end)

    def layer_seconds(self, name: str) -> float:
        """Median self time of the spans called ``name`` (0.0 when the
        workload never calls that layer)."""
        vals = [self.self_seconds(s) for s in self.spans if s.name == name]
        return statistics.median(vals) if vals else 0.0

    def coverage(self) -> list[float]:
        """Per op: share of its wall time covered by its child spans."""
        out = []
        for op in self.ops:
            sp = self.spans[op["span"]]
            kids = [(c.start, c.end) for c in self.children(sp)]
            out.append(_union(kids, sp.start, sp.end) / max(sp.seconds, 1e-9))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], "ops": self.ops}, f)


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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
