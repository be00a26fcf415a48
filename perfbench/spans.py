"""Per-layer spans read from Spark's status store.

A span wraps one call into a library layer.  It adds a Spark job tag
around the call, so every job the call launches (including the ones
Spark starts from broadcast and subquery threads, which inherit the
tag) can be found afterwards with ``statusTracker().getJobIdsForTag``.
Tags, unlike job groups, add up: a span nested in another tags its jobs
with both, and job groups the library may set itself do not hide jobs.
Everything a span reports is read from the Spark driver's status stores
(``AppStatusStore`` for jobs and stages, ``SQLAppStatusStore`` for the
per-operator SQL metrics) and from the JVM's management beans.  None of
these reads launches a Spark job; ``perfbench/tests`` checks that.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# SQL metric names Spark attaches to the Arrow/Python evaluation nodes.
UDF_TIME = "time to run Python workers"
UDF_SENT = "data sent to Python workers"
UDF_RETURNED = "data returned from Python workers"

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TOTAL_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of one SQL metric as the status store formats it: either a
    plain count (``"12,345"``) or ``"total (min, med, max ...)\\n3.1 s (...)"``
    for sizes and timings.  Sizes come back in bytes, timings in seconds."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL_RE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusReader:
    """Job, stage, SQL-metric, cache and JVM readings for one session."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.tracker = sc._jsc.sc().statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.jvm = sc._jvm
        self._mf = self.jvm.java.lang.management.ManagementFactory
        self._to_java = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava

    # -- job tags --------------------------------------------------------
    @contextmanager
    def tagged(self, tag: str):
        """Tag every job started in this thread inside the block."""
        self.sc.addJobTag(tag)
        try:
            yield
        finally:
            self.sc.removeJobTag(tag)

    def job_ids(self, tag: str) -> list[int]:
        return sorted(int(j) for j in self.tracker.getJobIdsForTag(tag))

    # -- jobs and stages -------------------------------------------------
    def jobs(self, job_ids: list[int]) -> dict:
        """Totals over ``job_ids``: jobs, completed tasks, executor CPU and
        GC seconds, shuffle-write, spill, input and output bytes, and the
        union of the jobs' run intervals (epoch seconds)."""
        out = dict(jobs=len(job_ids), tasks=0, cpu_s=0.0, gc_s=0.0, shuffle_bytes=0,
                   spill_bytes=0, input_bytes=0, bytes_written=0, intervals=[])
        stage_ids: set[int] = set()
        for j in job_ids:
            jd = self.store.job(j)
            out["tasks"] += jd.numCompletedTasks()
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3)
                )
            stage_ids.update(int(s) for s in _seq(jd.stageIds()))
        details = getattr(self.store, "stageData$default$2")()
        statuses = getattr(self.store, "stageData$default$3")()
        summaries = getattr(self.store, "stageData$default$4")()
        quantiles = getattr(self.store, "stageData$default$5")()
        for s in sorted(stage_ids):
            try:
                attempts = _seq(self.store.stageData(s, details, statuses, summaries, quantiles))
            except Py4JJavaError:  # stage never submitted
                continue
            for sd in attempts:
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["input_bytes"] += sd.inputBytes()
                out["bytes_written"] += sd.outputBytes()
        return out

    def sql_metrics(self, job_ids: list[int], first_execution: int) -> dict[str, float]:
        """Totals of every SQL metric, by name, over the SQL executions
        from index ``first_execution`` on that ran one of ``job_ids``."""
        wanted = set(job_ids)
        totals: dict[str, float] = {}
        count = self.sql_store.executionsCount()
        if count <= first_execution:
            return totals
        for ex in _seq(self.sql_store.executionsList(first_execution, count - first_execution)):
            ex_jobs = {int(k) for k in self._to_java(ex.jobs()).keySet()}
            if not ex_jobs & wanted:
                continue
            values = {int(e.getKey()): e.getValue()
                      for e in self._to_java(self.sql_store.executionMetrics(ex.executionId())).entrySet()}
            for m in _seq(ex.metrics()):
                text = values.get(int(m.accumulatorId()))
                if text is not None:
                    totals[m.name()] = totals.get(m.name(), 0.0) + parse_sql_metric(text)
        return totals

    def execution_count(self) -> int:
        return self.sql_store.executionsCount()

    def cache_bytes(self) -> int:
        """Memory plus disk bytes of every cached RDD right now."""
        return sum(r.memoryUsed() + r.diskUsed() for r in _seq(self.store.rddList(True)))

    # -- JVM -------------------------------------------------------------
    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1e3

    def jit_s(self) -> float:
        return self._mf.getCompilationMXBean().getTotalCompilationTime() / 1e3

    def jvm_pid(self) -> int:
        return int(self.jvm.java.lang.ProcessHandle.current().pid())


def covered_s(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Collects spans in memory.  ``span(layer)`` yields a dict the caller
    may add layer-specific counts to; timing and status-store totals are
    filled in when the span closes.  A span's ``self_s`` is its wall time
    minus that of the spans nested in it."""

    def __init__(self, reader: StatusReader, prefix: str):
        self.reader = reader
        self.prefix = prefix
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0

    @contextmanager
    def span(self, layer: str):
        self._n += 1
        tag = f"{self.prefix}:{layer}:{self._n}"
        rec = {"layer": layer, "tag": tag, "children_s": 0.0}
        outer = self._stack[-1] if self._stack else None
        first_execution = self.reader.execution_count()
        self._stack.append(rec)
        gc0, jit0 = self.reader.gc_s(), self.reader.jit_s()
        t0, w0 = time.perf_counter(), time.time()
        try:
            with self.reader.tagged(tag):
                yield rec
        finally:
            wall = time.perf_counter() - t0
            w1 = time.time()
            self._stack.pop()
            rec["jvm_gc_s"] = self.reader.gc_s() - gc0
            rec["jvm_jit_s"] = self.reader.jit_s() - jit0
            ids = self.reader.job_ids(tag)
            totals = self.reader.jobs(ids)
            intervals = totals.pop("intervals")
            sql = self.reader.sql_metrics(ids, first_execution)
            rec.update(totals)
            rec.update(
                wall_s=wall,
                self_s=wall - rec.pop("children_s"),
                driver_gap_s=max(0.0, wall - covered_s(intervals, w0, w1)),
                udf_python_s=sql.get(UDF_TIME, 0.0),
                udf_bytes_sent=sql.get(UDF_SENT, 0.0),
                udf_bytes_returned=sql.get(UDF_RETURNED, 0.0),
                cache_bytes=self.reader.cache_bytes(),
            )
            if outer is not None:
                outer["children_s"] += wall
            self.spans.append(rec)
