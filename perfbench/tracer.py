"""Spans and per-layer readings for the traced run.

Everything here observes the engine from outside: spans are opened by
the benchmark around its own calls into each layer, jobs are found by
the job group the benchmark sets per query execution, and Spark's
numbers come from its own status stores (core: jobs and stages; SQL:
per-operator metrics) and from a QueryExecutionListener that reports
the Catalyst phase times of every execution. Untraced runs use
``NullTracer``, which keeps the same call sites at near-zero cost.

A span is ``{"id", "parent", "name", "kind", "start", "end", ...}``
with epoch-second times (the JVM reports epoch milliseconds, so the
two clocks line up). Spans stay in memory until the run writes them.
"""

from __future__ import annotations

import contextlib
import re
import time
from collections.abc import Iterator

from py4j.protocol import Py4JJavaError

from stats import self_time

# SQL metric name -> (per-layer key, kind). Values arrive as display
# strings ("274.8 KiB", "1.8 s"), summed per key over a query's SQL
# executions.
SQL_METRICS = {
    "size of files read": ("scan_bytes", "bytes"),
    "time to run Python workers": ("python_s", "time"),
    "time to start Python workers": ("python_boot_s", "time"),
    "time to initialize Python workers": ("python_boot_s", "time"),
    "data sent to Python workers": ("python_bytes", "bytes"),
    "data returned from Python workers": ("python_bytes", "bytes"),
}

_BYTE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40, "PiB": 1 << 50}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
               "h": 3600.0}
_VALUE = re.compile(r"(-?[\d.,]+)\s*([A-Za-z]+)")


def parse_sql_metric(text: str, kind: str) -> float:
    """Parse a SQL metric display string into bytes or seconds.

    Multi-task metrics render as a header line plus ``total (min, med,
    max ...)``; the total is the first value of the last line."""
    line = text.strip().splitlines()[-1] if text.strip() else ""
    m = _VALUE.search(line)
    if not m:
        return 0.0
    units = _BYTE_UNITS if kind == "bytes" else _TIME_UNITS
    scale = units.get(m.group(2))
    if scale is None:
        raise ValueError(f"unknown {kind} unit in SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * scale


def jvm_heap_peak_bytes(spark) -> int:
    """Peak used bytes of the driver JVM's heap since it started: the
    sum over its heap memory pools (G1 eden, survivor, old) of each
    pool's peak, read from java.lang.management. Exact rather than
    sampled, and an upper bound, since the pools peak at different
    times."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(pool.getPeakUsage().getUsed() for pool in mf.getMemoryPoolMXBeans()
               if pool.getType().name() == "HEAP")


def _epoch_s(opt) -> float | None:
    """Epoch seconds from a py4j scala.Option[java.util.Date]."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class NullTracer:
    """The untraced run's tracer: spans cost one generator frame."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, kind: str, start: float | None = None, **attrs) -> Iterator[dict]:
        yield attrs

    def add(self, parent, name: str, kind: str, start: float, end: float, **attrs) -> None:
        pass

    def query_done(self, group: str, record: dict) -> None:
        pass

    def close(self) -> None:
        pass


class _PhaseListener:
    """py4j callback implementing Spark's QueryExecutionListener: keeps
    the analysis/optimization/planning milliseconds of each finished
    execution until the tracer collects them."""

    def __init__(self) -> None:
        self.phases: list[dict[str, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java name)
        self._keep(qe)

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        self._keep(qe)

    def _keep(self, qe) -> None:
        it = qe.tracker().phases().iterator()
        out = {}
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = kv._2().durationMs() / 1000.0
        self.phases.append(out)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Spans in memory plus per-query layer readings from Spark."""

    enabled = True

    def __init__(self, spark, run_id: str) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._spark = spark
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = self._sql_store.executionsCount()
        ensure_callback_server_started(self._sc._gateway)
        self._listener = _PhaseListener()
        spark._jsparkSession.listenerManager().register(self._listener)
        self.self_s = 0.0  # time spent reading Spark's stores

    @contextlib.contextmanager
    def span(self, name: str, kind: str, start: float | None = None, **attrs) -> Iterator[dict]:
        """Open a span under the innermost open one; ``start`` (epoch s)
        backdates it, for a root opened after work it must contain."""
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "name": name, "kind": kind,
               "start": time.time() if start is None else start, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, parent: int | None, name: str, kind: str, start, end, **attrs) -> int:
        """Record a finished span; ``parent=None`` hangs it under the
        innermost open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "run": self.run_id,
                           "name": name, "kind": kind, "start": start,
                           "end": end, **attrs})
        return sid

    def _job_ids(self, group: str | None, record: dict) -> list[int]:
        if group is not None:
            return sorted(self._sc.statusTracker().getJobIdsForGroup(group))
        ids, jobs = [], self._jsc.statusStore().jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            start = _epoch_s(job.submissionTime())
            if start is not None and record["start"] <= start <= record["end"]:
                ids.append(job.jobId())
        return sorted(ids)

    def query_done(self, group: str | None, record: dict) -> None:
        """Attach the finished query's jobs, stages, SQL metrics and
        Catalyst phases to ``record`` (the query span) and add job and
        stage spans under its build or execute child. Jobs are those of
        job group ``group``, or with ``group=None`` every job submitted
        within the span (a stream's micro-batches)."""
        t0 = time.perf_counter()
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        children = [s for s in self.spans if s["parent"] == record["id"]]
        build = next((s for s in children if s["kind"] == "build"), None)
        totals = dict.fromkeys(
            ("jobs", "build_jobs", "stages", "tasks", "task_s", "task_cpu_s",
             "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
             "spill_bytes", "scan_bytes", "python_s", "python_boot_s",
             "python_bytes", "catalyst_s"), 0.0)
        job_iv = []
        for job_id in self._job_ids(group, record):
            job = store.job(job_id)
            start, end = _epoch_s(job.submissionTime()), _epoch_s(job.completionTime())
            if start is None or end is None:
                continue
            job_iv.append((start, end))
            in_build = build is not None and build["start"] <= start <= build["end"]
            parent = next(
                (s["id"] for s in children
                 if s["kind"] == ("build" if in_build else "execute")),
                record["id"],
            )
            jid = self.add(parent, f"job {job_id}", "job", start, end)
            totals["jobs"] += 1
            totals["build_jobs"] += in_build
            it = job.stageIds().iterator()
            while it.hasNext():
                self._stage(jid, it.next(), totals)
        self._sql(totals)
        for ph in self._listener.phases:
            totals["catalyst_s"] += sum(ph.values())
        self._listener.phases.clear()
        totals["driver_gap_s"] = self_time(record["start"], record["end"], job_iv)
        record.update(totals)
        self.self_s += time.perf_counter() - t0

    def _stage(self, parent: int, stage_id: int, totals: dict) -> None:
        try:
            st = self._jsc.statusStore().lastStageAttempt(stage_id)
        except Py4JJavaError:
            return  # skipped stage: planned, reused, never submitted
        start, end = _epoch_s(st.submissionTime()), _epoch_s(st.completionTime())
        if start is None or end is None:
            return
        self.add(parent, f"stage {stage_id}", "stage", start, end)
        totals["stages"] += 1
        totals["tasks"] += st.numCompleteTasks()
        totals["task_s"] += st.executorRunTime() / 1000.0
        totals["task_cpu_s"] += st.executorCpuTime() / 1e9
        totals["gc_s"] += st.jvmGcTime() / 1000.0
        totals["shuffle_write_bytes"] += st.shuffleWriteBytes()
        totals["shuffle_read_bytes"] += st.shuffleReadBytes()
        totals["spill_bytes"] += st.diskBytesSpilled()

    def _sql(self, totals: dict) -> None:
        count = self._sql_store.executionsCount()
        if count <= self._sql_seen:
            return
        execs = self._sql_store.executionsList(self._sql_seen, count - self._sql_seen)
        self._sql_seen = count
        for i in range(execs.size()):
            ex = execs.apply(i)
            names = {}
            it = ex.metrics().iterator()
            while it.hasNext():
                pm = it.next()
                if pm.name() in SQL_METRICS:
                    names[pm.accumulatorId()] = SQL_METRICS[pm.name()]
            if not names:
                continue
            it = self._sql_store.executionMetrics(ex.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in names:
                    key, kind = names[kv._1()]
                    totals[key] += parse_sql_metric(kv._2(), kind)

    def self_times(self) -> dict[str, float]:
        """Self time summed per span kind."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["kind"]] = out.get(s["kind"], 0.0) + self_time(
                s["start"], s["end"], kids.get(s["id"], []))
        return out

    def close(self) -> None:
        self._spark._jsparkSession.listenerManager().unregister(self._listener)
