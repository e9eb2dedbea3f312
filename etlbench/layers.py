"""Per-layer tracing for the traced run (``--trace 1``).

The tracer is live only during traced ops. Each traced op records the
range of Spark job and stage ids started inside it, and each span the
benchmark takes inside the op around a call into the engine records its
wall time and its range of job ids. The benchmark runs one op at a time
from one thread, so every job started between two points belongs to
what ran between them; job groups are not used, because the engine's
pre-flight thread pools do not inherit them.

Spark's own figures come from the in-process status store
(``statusStore()``, which works with the UI off), from a
``QueryExecutionListener`` that sums Catalyst's analysis, optimization
and planning phases, and from the file-listing counter of Spark's
catalog metrics. The store is read once, after the last op, so listing
stages never lands inside a timed op.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict

from pyspark import SparkContext

MB = 1024 * 1024


class PlanListener:
    """QueryExecutionListener implemented in Python over the py4j
    callback server: sums Catalyst phase times of every action."""

    def __init__(self) -> None:
        self.plan_ms = 0.0
        self.actions = 0
        self.active = False  # set only while a traced op's events arrive

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java interface)
        if not self.active:
            return
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                self.plan_ms += summary.get().durationMs()
        self.actions += 1

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    enabled = True

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        from evidence_images_etl_airflow_spark import caching

        self._caching = caching
        self.spark = spark
        self.jsc = spark.sparkContext._jsc
        self.sc = self.jsc.sc()
        self.dag = self.sc.dagScheduler()
        self.values: dict[str, float] = defaultdict(float)
        self.span_jobs: dict[str, list[tuple[int, int]]] = defaultdict(list)
        self.op_ranges: list[tuple[int, int, int, int]] = []  # job and stage id ranges
        ensure_callback_server_started(SparkContext._gateway)
        self.listener = PlanListener()
        spark._jsparkSession.listenerManager().register(self.listener)
        metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics
        self.files_discovered = metrics.METRIC_FILES_DISCOVERED()

    def begin_op(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()  # earlier ops' events are in
        self.listener.active = True
        self._start = (self.dag.nextJobId(), self.dag.nextStageId(), self.files_discovered.getCount())

    def end_op(self) -> None:
        j0, s0, f0 = self._start
        self.op_ranges.append((j0, self.dag.nextJobId(), s0, self.dag.nextStageId()))
        self.values["sources.files_listed"] += self.files_discovered.getCount() - f0
        self.sc.listenerBus().waitUntilEmpty()
        self.listener.active = False
        self.peak("caching.live_persists", self._caching.live_count())
        self.peak("caching.persistent_rdds", len(self.jsc.getPersistentRDDs()))

    @contextlib.contextmanager
    def span(self, name: str):
        j0, t0 = self.dag.nextJobId(), time.perf_counter()
        try:
            yield
        finally:
            self.values[name + "_s"] += time.perf_counter() - t0
            self.span_jobs[name].append((j0, self.dag.nextJobId()))

    def add(self, name: str, value: float) -> None:
        self.values[name] += value

    def peak(self, name: str, value: float) -> None:
        self.values[name] = max(self.values[name], value)

    def _in_op(self, i: int, lo: int) -> bool:
        return any(r[lo] <= i < r[lo + 1] for r in self.op_ranges)

    def finish(self, cores: int) -> dict[str, float]:
        """Read the status store for the traced ops' jobs and stages and
        return the layer metrics (the caller adds the derived ratios)."""
        self.sc.listenerBus().waitUntilEmpty()
        self.spark._jsparkSession.listenerManager().unregister(self.listener)
        store = self.sc.statusStore()
        gw = SparkContext._gateway

        job_stages: dict[int, list[int]] = {}
        exec_ms = 0
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if not self._in_op(jid, 0):
                continue
            ids = j.stageIds()
            job_stages[jid] = [ids.apply(k) for k in range(ids.size())]
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                exec_ms += done.get().getTime() - sub.get().getTime()

        totals: dict[str, float] = defaultdict(float)
        out_bytes: dict[int, float] = defaultdict(float)
        stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if not self._in_op(sid, 2):
                continue
            if s.status().toString() == "SKIPPED":
                continue
            totals["stages"] += 1
            totals["stage_retries"] += 1 if s.attemptId() > 0 else 0
            totals["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            totals["failed_tasks"] += s.numFailedTasks()
            totals["executor_run_s"] += s.executorRunTime() / 1e3
            totals["executor_cpu_s"] += s.executorCpuTime() / 1e9
            totals["gc_s"] += s.jvmGcTime() / 1e3
            totals["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            totals["shuffle_read_mb"] += s.shuffleReadBytes() / MB
            totals["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
            totals["input_mb"] += s.inputBytes() / MB
            totals["output_mb"] += s.outputBytes() / MB
            out_bytes[sid] += s.outputBytes()

        def span_output_mb(prefix: str) -> float:
            seen = set()
            for name, ranges in self.span_jobs.items():
                if name.startswith(prefix):
                    for j0, j1 in ranges:
                        for jid in range(j0, j1):
                            seen.update(job_stages.get(jid, []))
            return sum(out_bytes.get(sid, 0.0) for sid in seen) / MB

        m = {f"spark.{k}": v for k, v in totals.items()}
        m["spark.jobs"] = float(len(job_stages))
        m["spark.exec_s"] = exec_ms / 1e3
        m["spark.plan_s"] = self.listener.plan_ms / 1e3
        m["spark.cpu_util"] = (
            m.get("spark.executor_cpu_s", 0.0) / (m["spark.exec_s"] * cores) if exec_ms else 0.0
        )
        m["sinks.bytes_written_mb"] = span_output_mb("sinks.")
        for name, span in (("sources.scan_jobs", "sources.scan"), ("workload.build_jobs", "workload.build")):
            m[name] = float(sum(j1 - j0 for j0, j1 in self.span_jobs[span]))
        m.update(self.values)
        return m
