"""Spans and per-call Spark accounting for traced benchmark runs.

A span times one call into a program layer from outside the program.
When it is traced, the call also gets its own Spark job group, and when
the span closes, the jobs of that group are read back from the status
tracker and their stages from the status store:

- job ids are read only after the listener bus is empty, so trailing
  jobs are never missed;
- stage data is read as soon as the span closes, before
  ``spark.ui.retainedStages`` can evict it. A stage the store no longer
  holds is counted in ``stages_missing`` and never filled with zeros.

The time spent reading the accounting is excluded from every open span
and from the unit being measured, so a traced run reports the same
clock as an untraced one, plus only the cost of switching job groups.

An untraced ``Tracer`` does nothing at all: no job group, no status
reads, no patched functions, so untraced timings see the bare calls.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "stages_missing",
    "tasks",
    "failed_tasks",
    "catalyst_ms",
    "executor_run_ms",
    "sched_delay_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)
CATALYST_PHASES = ("parsing", "analysis", "optimization", "planning")
# Job group ids are unique per process: the status tracker still holds
# the jobs of a reused group id.
_GROUPS = itertools.count()


def catalyst_ms(df) -> float:
    """Parse/analysis/optimization/planning ms recorded by the plan's
    ``QueryPlanningTracker``. Analysis runs when a DataFrame is built;
    optimization and planning only once it has been executed."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in CATALYST_PHASES:
        p = phases.get(name)
        if p.isDefined():
            total += p.get().durationMs()
    return total


class SparkAccount:
    """Reads the jobs and stages of one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = self.sc.statusTracker()

    def read(self, group: str) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        stage_ids: set[int] = set()
        for job_id in self._tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = self._tracker.getJobInfo(job_id)
            if info is None:  # job evicted: its stages are unknown
                out["stages_missing"] += 1
                continue
            stage_ids.update(int(s) for s in info.stageIds)
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: evicted
                out["stages_missing"] += 1
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["executor_run_ms"] += sd.executorRunTime()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sub, first = sd.submissionTime(), sd.firstTaskLaunchedTime()
            if sub.isDefined() and first.isDefined():
                out["sched_delay_ms"] += first.get().getTime() - sub.get().getTime()
        return out


@dataclass
class Span:
    name: str  # "<layer>.<call>", e.g. "sources.ingest"
    phase: str  # "build" (plan construction), "exec" (actions), "driver"
    unit: int
    depth: int
    seconds: float = 0.0
    spark: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Records spans for one benchmark run; a no-op when not enabled."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.unit = -1
        self._acct = SparkAccount(spark)
        self._depth = 0
        self._group_stack: list[str | None] = [None]
        self.overhead_s = 0.0  # accounting time, excluded from all clocks

    @contextlib.contextmanager
    def span(self, name: str, phase: str, spark_calls: bool = True):
        """Time the enclosed call. ``yield``s a setter that attaches the
        DataFrame whose Catalyst phases belong to this call."""
        if not self.enabled:
            yield lambda df: None
            return
        sc = self._acct.sc
        group = f"perfbench-{next(_GROUPS)}" if spark_calls else None
        rec = Span(name, phase, self.unit, self._depth)
        frames = []
        if group:
            sc.setLocalProperty("spark.jobGroup.id", group)
            self._group_stack.append(group)
        self._depth += 1
        over0, t0 = self.overhead_s, time.perf_counter()
        try:
            yield frames.append
        finally:
            rec.seconds = time.perf_counter() - t0 - (self.overhead_s - over0)
            self._depth -= 1
            a0 = time.perf_counter()
            if group:
                self._group_stack.pop()
                sc.setLocalProperty("spark.jobGroup.id", self._group_stack[-1])
                rec.spark = self._acct.read(group)
                rec.spark["catalyst_ms"] = sum(catalyst_ms(df) for df in frames)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - a0

    @contextlib.contextmanager
    def patched(self, module, names: dict[str, tuple[str, str]]):
        """Wrap ``module.<attr>`` for each ``attr -> (span name, phase)`` so
        the program's own calls through that module are timed. A span
        name may contain ``{fmt}``, filled from the call's ``fmt``
        keyword (default ``parquet``). Restores the originals on exit."""
        if not self.enabled:
            yield
            return
        originals = {a: getattr(module, a) for a in names if hasattr(module, a)}

        def wrap(fn, span_name, phase):
            def timed(*args, **kwargs):
                name = span_name.format(fmt=kwargs.get("fmt", "parquet"))
                with self.span(name, phase, spark_calls=phase != "driver") as attach:
                    out = fn(*args, **kwargs)
                    if hasattr(out, "_jdf"):
                        attach(out)
                    return out

            return timed

        for attr, fn in originals.items():
            setattr(module, attr, wrap(fn, *names[attr]))
        try:
            yield
        finally:
            for attr, fn in originals.items():
                setattr(module, attr, fn)

    def clock(self) -> float:
        """A clock that stops while accounting is read."""
        return time.perf_counter() - self.overhead_s

    def per_unit(self, key) -> dict[str, dict[int, float]]:
        """Sum spans per unit under ``key(span)`` (None = skip): seconds as
        ``<key>_s`` and every Spark counter as ``<key>.<counter>``."""
        sums: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            k = key(s)
            if k is None:
                continue
            sums[f"{k}_s"][s.unit] += s.seconds
            for c, v in s.spark.items():
                sums[f"{k}.{c}"][s.unit] += v
        return sums
