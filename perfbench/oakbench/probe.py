"""Operation timing, spans and Spark counters, recorded from outside the
program.

``Probe.span(name, kind=...)`` wraps one call into a layer. A span with a
``kind`` is a top-level operation: its wall time is always recorded as an
end-to-end sample of that kind. In traced mode every span also records
(name, start, end, parent, op id) and runs under its own Spark job group,
so the jobs it launched are read back from the status store once the run
is over (``collect``); nothing is read from Spark inside the timed loop.
"""

from __future__ import annotations

import math
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_COUNTERS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "input_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int = 0
    children: list[int] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value, sample count); None if the sample is too small."""
    n = len(xs)
    if n < 11:
        return None
    beyond = 10
    pct = math.floor(100 * (n - beyond) / n)
    s = sorted(xs)
    return pct, s[min(n - 1, math.ceil(pct / 100 * n) - 1)], n


class Probe:
    def __init__(self, spark, traced: bool) -> None:
        self.sc = spark.sparkContext
        self.traced = traced
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.spans: list[Span] = []
        self.values: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self._ops = 0
        self.overhead_s = 0.0

    def note(self, name: str, value: float) -> None:
        """A per-layer counter measured at a span boundary (traced runs)."""
        if self.traced:
            self.values[name].append(float(value))

    @contextmanager
    def span(self, name: str, kind: str | None = None):
        if not self.traced:
            t0 = time.perf_counter()
            yield
            if kind is not None:
                self.samples[kind].append(time.perf_counter() - t0)
            return
        h0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._ops += 1
        idx = len(self.spans)
        sp = Span(name, 0.0, parent=parent, op_id=self._ops)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self.sc.setJobGroup(f"pb{idx}", name)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - h0
        ok = False
        try:
            yield
            ok = True
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"pb{parent}", self.spans[parent].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            if ok and kind is not None:
                self.samples[kind].append(sp.end - sp.start)
            self.overhead_s += time.perf_counter() - sp.end

    # -- after the run -------------------------------------------------------

    def collect(self) -> None:
        """Attach job, task and stage counters to every span, from the
        status store. Counters of a span include its children's."""
        if not self.traced:
            return
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 - older/newer signatures; fall back to a pause
            time.sleep(1.0)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        own: list[tuple[list[tuple[int, int]], set[int], int, int]] = []
        for idx in range(len(self.spans)):
            intervals, stages, n_jobs, n_tasks = [], set(), 0, 0
            for jid in tracker.getJobIdsForGroup(f"pb{idx}"):
                job = store.job(jid)
                n_jobs += 1
                n_tasks += job.numTasks() - job.numSkippedTasks()
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
                ids = job.stageIds()
                stages.update(ids.apply(i) for i in range(ids.size()))
            own.append((intervals, stages, n_jobs, n_tasks))
        stage_cache: dict[int, dict[str, float]] = {}

        def stage(sid: int) -> dict[str, float]:
            if sid not in stage_cache:
                try:
                    sd = store.lastStageAttempt(sid)
                    stage_cache[sid] = {
                        "executor_run_s": sd.executorRunTime() / 1e3,
                        "executor_cpu_s": sd.executorCpuTime() / 1e9,
                        "gc_s": sd.jvmGcTime() / 1e3,
                        "shuffle_write_bytes": sd.shuffleWriteBytes(),
                        "input_bytes": sd.inputBytes(),
                        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    }
                except Exception:  # noqa: BLE001 - stage evicted from the store
                    stage_cache[sid] = dict.fromkeys(STAGE_COUNTERS, 0.0)
            return stage_cache[sid]

        def gather(idx: int):
            intervals, stages, n_jobs, n_tasks = own[idx]
            intervals, stages = list(intervals), set(stages)
            for c in self.spans[idx].children:
                ci, cs, cj, ct = gather(c)
                intervals += ci
                stages |= cs
                n_jobs += cj
                n_tasks += ct
            return intervals, stages, n_jobs, n_tasks

        for idx, sp in enumerate(self.spans):
            intervals, stages, n_jobs, n_tasks = gather(idx)
            active = 0.0
            lo = hi = None
            for a, b in sorted(intervals):
                if hi is None or a > hi:
                    if hi is not None:
                        active += hi - lo
                    lo, hi = a, b
                else:
                    hi = max(hi, b)
            if hi is not None:
                active += hi - lo
            busy = sp.end - sp.start
            covered = sum(self.spans[c].end - self.spans[c].start for c in sp.children)
            c = {
                "busy_s": busy,
                "self_s": busy - covered,
                "driver_s": max(0.0, busy - active / 1e3),
                "spark_jobs": n_jobs,
                "tasks": n_tasks,
            }
            for key in STAGE_COUNTERS:
                c[key] = sum(stage(s)[key] for s in stages)
            sp.counters = c

    def layer_metrics(self) -> dict[str, float]:
        """Median of every counter per span name, plus noted values."""
        by_name: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
        for sp in self.spans:
            for key, v in sp.counters.items():
                by_name[sp.name][key].append(v)
        out = {
            f"{name}.{key}": median(vs)
            for name, counters in by_name.items()
            for key, vs in counters.items()
        }
        out.update({name: median(vs) for name, vs in self.values.items()})
        return out

    def span_records(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "op_id": s.op_id, **s.counters}
            for s in self.spans
        ]
