"""Layer spans and the Spark counters joined to them.

A traced iteration wraps each call into a package layer in a span. The
span sets a Spark job group, so every job the layer triggers carries the
span's id; after the iteration the status store's job, stage and SQL
metrics are joined back to spans by that group. Spans stay in memory and
are written out when the run ends. An untraced iteration uses
``NoTrace``, which sets no job group and materializes nothing extra.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_MB = 2**20
_DURATION = re.compile(r"([\d.]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
PYTHON_RUN = "time to run Python workers"
PYTHON_BOOT = "time to start Python workers"


@dataclass
class Span:
    name: str
    run_id: str
    group: str
    parent: str | None
    start: float
    end: float = 0.0
    plan_s: float = 0.0
    worker_peak_rss_mb: float = 0.0
    rows: int = 0               # rows counted at the layer boundary
    files: int = 0              # files the layer wrote
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class NoTrace:
    """The untraced stand-in: same interface, no job groups, no extra
    work."""

    @contextmanager
    def span(self, name: str):
        yield Span(name, "", "", None, 0.0)

    @contextmanager
    def planning(self, span: Span):
        yield

    def boundary(self, df, span: Span) -> None:
        pass


class Tracer(NoTrace):
    def __init__(self, spark, sampler, cores: int):
        self.spark = spark
        self.sampler = sampler
        self.cores = cores
        self.spans: list[Span] = []
        self.run_id = ""
        self._stack: list[Span] = []

    def begin_run(self, run_id: str) -> None:
        self.run_id = run_id

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.run_id, f"{self.run_id}/{len(self.spans)}",
                 parent.group if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sampler.window()
        sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            s.worker_peak_rss_mb = self.sampler.window()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def planning(self, span: Span):
        """Time the calls that only build a lazy DataFrame."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            span.plan_s += time.perf_counter() - t0

    def boundary(self, df, span: Span) -> None:
        """Materialize a lazy layer output inside the layer's own job group
        (noop sink) and count its rows with an observation that rides the
        same action."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"rows_{span.group}_{span.rows}")
        (df.observe(obs, F.count(F.lit(1)).alias("n"))
         .write.format("noop").mode("overwrite").save())
        span.rows += int(obs.get["n"])

    def collect(self) -> None:
        """Join status-store counters to this run's spans by job group."""
        spans = {s.group: s for s in self.spans if s.run_id == self.run_id}
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        job_group: dict[int, str] = {}
        stages: dict[str, set[int]] = {g: set() for g in spans}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined() or g.get() not in spans:
                continue
            job_group[j.jobId()] = g.get()
            sids = j.stageIds()
            stages[g.get()].update(sids.apply(k) for k in range(sids.size()))
        for g, s in spans.items():
            c = dict.fromkeys(
                ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                 "input_mb", "output_mb", "output_rows", "shuffle_write_mb",
                 "shuffle_read_mb", "spill_mb", "python_s", "python_boot_s"),
                0.0)
            c["jobs"] = sum(1 for jg in job_group.values() if jg == g)
            for sid in stages[g]:
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                c["tasks"] += sd.numCompleteTasks()
                c["executor_run_s"] += sd.executorRunTime() / 1e3
                c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["input_mb"] += sd.inputBytes() / _MB
                c["output_mb"] += sd.outputBytes() / _MB
                c["output_rows"] += sd.outputRecords()
                c["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
                c["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
                c["spill_mb"] += sd.diskBytesSpilled() / _MB
            s.counts = c
        self._python_metrics(job_group, spans)
        for s in spans.values():
            wall = max(s.wall_s, 1e-9)
            s.counts["slot_util"] = s.counts["executor_run_s"] / (self.cores * wall)

    def _python_metrics(self, job_group: dict[int, str],
                        spans: dict[str, Span]) -> None:
        """Spark's pythonTotalTime / pythonBootTime SQL metrics, summed per
        span over the SQL executions whose jobs belong to it."""
        jvm = self.spark.sparkContext._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        sq = self.spark._jsparkSession.sharedState().statusStore()
        execs = sq.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            owners = {job_group[j] for j in conv.asJava(e.jobs()).keySet()
                      if j in job_group}
            if len(owners) != 1:
                continue
            span = spans[owners.pop()]
            values = conv.asJava(sq.executionMetrics(e.executionId()))
            seen = set()
            ms = e.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                key = {PYTHON_RUN: "python_s", PYTHON_BOOT: "python_boot_s"}.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                span.counts[key] += parse_duration_s(values.get(m.accumulatorId()))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{**asdict(s), "wall_s": s.wall_s} for s in self.spans], f,
                      indent=1)


def parse_duration_s(text: str | None) -> float:
    """Seconds from a Spark SQL timing metric string: the total on the
    last line, as in ``"total (min, med, max ...)\\n11.2 s (2.7 s, ...)"``
    or a bare ``"850 ms"``."""
    if not text:
        return 0.0
    m = _DURATION.match(text.strip().splitlines()[-1].strip())
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0
