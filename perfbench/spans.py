"""Spans around public-function calls, with Spark's own stage metrics.

A ``Tracer`` keeps every span in memory until the run ends.  When it is
enabled, each span also records the Spark stages and SQL executions
that started inside it, read from the driver's status stores (the UI
stays disabled; the stores are filled by Spark's listeners either
way).  Work inside a job is attributed by stage, never by differencing
timed prefixes of a plan.

A ``Tracer`` built with ``enabled=False`` records wall times only, so
the untraced run pays a few ``perf_counter`` calls per span.  The time
an enabled tracer spends reading the stores is kept per span and left
out of its wall time, so the traced run reports its own overhead.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "shuffleWriteRecords",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "outputBytes",
)


@dataclass
class Stage:
    stage_id: int
    status: str
    name: str
    m: dict[str, int]

    @property
    def phase(self) -> str:
        """The paper's phase a stage belongs to, from where its data
        comes from and goes to: input to shuffle is the map phase,
        shuffle to shuffle the reduce phase, shuffle to output files the
        write phase."""
        reads_shuffle = self.m["shuffleReadBytes"] > 0
        writes_shuffle = self.m["shuffleWriteBytes"] > 0
        if writes_shuffle:
            return "reduce" if reads_shuffle else "map"
        if reads_shuffle and self.m["outputBytes"] > 0:
            return "write"
        return "other"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    # tracer bookkeeping: inside the span (its children's) and in total
    inner_overhead: float = 0.0
    overhead: float = 0.0
    jobs: int = 0
    stages: list[Stage] = field(default_factory=list)
    files_read: int = 0

    @property
    def wall(self) -> float:
        """Duration without the tracer's own bookkeeping."""
        return self.end - self.start - self.inner_overhead

    def total(self, key: str, phase: str | None = None) -> int:
        return sum(
            s.m[key] for s in self.stages if phase is None or s.phase == phase
        )


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead = 0.0  # seconds spent reading Spark's stores so far
        self._open: list[int] = []
        self._spark = None

    def attach(self, spark) -> None:
        """Read stage metrics from ``spark``'s status stores from now on."""
        self._spark = spark

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        marks = self._marks() if self.enabled else None
        parent = self._open[-1] if self._open else None
        sp = Span(name, time.perf_counter(), parent)
        self.overhead += sp.start - t0
        inside = self.overhead
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.inner_overhead = self.overhead - inside
            self._open.pop()
            if marks is not None:
                self._collect(sp, marks)
                self.overhead += time.perf_counter() - sp.end
            sp.overhead = self.overhead - inside + (sp.start - t0)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    # ---- Spark status stores -------------------------------------------

    def _stores(self):
        sc = self._spark.sparkContext
        return (
            sc._jsc.sc().statusStore(),
            self._spark._jsparkSession.sharedState().statusStore(),
        )

    def _marks(self) -> tuple[int, int, int] | None:
        """Newest job, stage and SQL execution ids so far.  The app
        store lists jobs and stages newest first, the SQL store lists
        executions oldest first."""
        if self._spark is None:
            return None
        app, sql = self._stores()
        jobs = app.jobsList(None)
        stages = self._stage_list(app)
        ex = sql.executionsList()
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
            ex.apply(ex.size() - 1).executionId() if ex.size() else -1,
        )

    def _stage_list(self, app):
        sc = self._spark.sparkContext
        quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        return app.stageList(None, False, False, quantiles, None)

    def _collect(self, sp: Span, marks: tuple[int, int, int]) -> None:
        # stage metrics reach the store through the listener bus, which
        # may lag the action that produced them
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        app, sql = self._stores()
        job_mark, stage_mark, exec_mark = marks
        jobs = app.jobsList(None)
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= job_mark:
                break
            sp.jobs += 1
        stages = self._stage_list(app)
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= stage_mark:
                break
            sp.stages.append(
                Stage(
                    s.stageId(),
                    s.status().toString(),
                    s.name(),
                    {f: int(getattr(s, f)()) for f in STAGE_FIELDS},
                )
            )
        ex = sql.executionsList()
        seen: set[int] = set()
        for i in range(ex.size() - 1, -1, -1):
            e = ex.apply(i)
            if e.executionId() <= exec_mark:
                break
            values = sql.executionMetrics(e.executionId())
            metrics = e.metrics()
            for j in range(metrics.size()):
                pm = metrics.apply(j)
                acc = pm.accumulatorId()
                if pm.name() == "number of files read" and acc not in seen:
                    seen.add(acc)
                    v = values.get(acc)
                    if v.isDefined():
                        sp.files_read += int(str(v.get()).replace(",", ""))
