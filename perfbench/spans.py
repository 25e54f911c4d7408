"""Spans around the layers' public functions, with Spark job attribution.

A :class:`Tracer` replaces each named public function with a wrapper
that records a span (op id, layer, name, start, end, parent span) and
tags the Spark jobs started inside it with the job group
``<workload>/<layer>/<op>``.  After each op the tracer drains the
listener bus and reads those jobs back from the status store
(``statusStore()`` answers with the UI disabled), because the store
keeps only the last ``spark.ui.retainedJobs`` jobs.  Spans stay in
memory until :meth:`Tracer.dump` writes them out.

Untraced runs use :class:`NullTracer`, whose spans cost nothing and
which installs no wrappers.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field
from pathlib import Path

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "job_busy_ms", "executor_run_ms",
    "executor_cpu_ms", "input_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    id: int
    parent: int | None
    op: str
    layer: str
    name: str
    start: float  # perf_counter seconds
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


@dataclass
class OpRecord:
    op: str
    kind: str
    wall_ms: float = 0.0
    spark: dict = field(default_factory=dict)  # layer -> counters
    job_busy_ms: float = 0.0  # union of the op's job intervals
    driver_gap_ms: float = 0.0
    counts: dict = field(default_factory=dict)


class NullTracer:
    """Tracing off: same interface, no wrappers, no job groups."""

    enabled = False

    def span(self, layer: str, name: str):
        return contextlib.nullcontext()

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str):
        yield None

    def count(self, name: str, value: float) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark, workload: str) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self._stack: list[tuple[Span, str]] = []
        self._patched: list[tuple[object, str, object]] = []
        self._current: OpRecord | None = None
        self._groups: set[str] = set()

    # -- wrappers -------------------------------------------------------

    def wrap(self, owner, attr: str, layer: str, observe=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper (undone by
        :meth:`unwrap_all`).  ``observe(args, result)``, if given, runs
        after each call to record counts at this boundary."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(layer, attr):
                result = fn(*args, **kwargs)
            if observe is not None:
                observe(args, result)
            return result

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, spanned)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    # -- spans ----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        op = self._current.op if self._current else "-"
        group = f"{self.workload}/{layer}/{op}"
        parent = self._stack[-1][0].id if self._stack else None
        s = Span(len(self.spans), parent, op, layer, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append((s, group))
        self._groups.add(group)
        self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1][1], self._stack[-1][0].name)
            else:
                self.sc._jsc.clearJobGroup()

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str):
        """One timed op: its spans share ``op_id``; its Spark jobs are
        read back from the status store when it ends."""
        rec = OpRecord(op_id, kind)
        self._current, self._groups = rec, set()
        t0, wall0 = time.perf_counter(), time.time() * 1e3
        try:
            with self.span("bench", kind):
                yield rec
        finally:
            rec.wall_ms = (time.perf_counter() - t0) * 1e3
            self._current = None
            self._read_spark(rec, wall0, wall0 + rec.wall_ms)
            self.ops.append(rec)

    def count(self, name: str, value: float) -> None:
        """A count measured at a layer boundary, kept on the current op."""
        if self._current is not None:
            self._current.counts[name] = self._current.counts.get(name, 0) + value

    # -- Spark status store ----------------------------------------------

    def _read_spark(self, rec: OpRecord, t0_ms: float, t1_ms: float) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        intervals = []
        for group in sorted(self._groups):
            layer = group.split("/")[1]
            c = rec.spark.setdefault(layer, dict.fromkeys(SPARK_COUNTERS, 0))
            for jid in self.sc.statusTracker().getJobIdsForGroup(group):
                job = store.job(jid)
                c["jobs"] += 1
                sub, end = job.submissionTime(), job.completionTime()
                if sub.isDefined() and end.isDefined():
                    iv = (max(sub.get().getTime(), t0_ms), min(end.get().getTime(), t1_ms))
                    c["job_busy_ms"] += max(0.0, iv[1] - iv[0])
                    intervals.append(iv)
                ids = job.stageIds()
                for i in range(ids.size()):
                    st = store.lastStageAttempt(ids.apply(i))
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["executor_run_ms"] += st.executorRunTime()
                    c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    c["input_bytes"] += st.inputBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        rec.job_busy_ms = union_ms(intervals)
        rec.driver_gap_ms = max(0.0, (t1_ms - t0_ms) - rec.job_busy_ms)

    # -- read-out -------------------------------------------------------

    def op_spans(self, op_id: str) -> list[Span]:
        return [s for s in self.spans if s.op == op_id]

    def durations(self, op_id: str) -> dict[str, float]:
        """Total ms per span name within one op."""
        out: dict[str, float] = defaultdict(float)
        for s in self.op_spans(op_id):
            out[s.name] += s.ms
        return out

    def spark_totals(self, rec: OpRecord) -> dict[str, float]:
        tot = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for c in rec.spark.values():
            for k, v in c.items():
                tot[k] += v
        tot["job_busy_ms"] = rec.job_busy_ms
        tot["driver_gap_ms"] = rec.driver_gap_ms
        return tot

    def dump(self, path: Path) -> None:
        """Write every span and op record as JSON lines."""
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps({"span": {**asdict(s), "ms": s.ms}}) + "\n")
            for r in self.ops:
                f.write(json.dumps({"op": asdict(r)}) + "\n")


def union_ms(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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
