"""Read-only probes of Spark's own bookkeeping, used by the traced run.

Everything here reads state Spark keeps anyway: the application status
store (jobs, stages, task metrics), the SQL status store (per-node SQL
metrics), the query-execution phase tracker and micro-batch progress from
a ``StreamingQueryListener``. Counts are taken as deltas since the
previous read, so a long run never depends on more jobs, stages or SQL
executions than Spark retains.
"""

from __future__ import annotations

import re
import threading
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}
_NUM = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")

PY_NODE = re.compile(r"Python|InPandas|InArrow")
PY_METRICS = {
    "time to start Python workers": "functions.py_start_ms",
    "time to initialize Python workers": "functions.py_init_ms",
    "time to run Python workers": "functions.py_exec_ms",
    "number of output rows": "functions.py_rows",
}
SCAN_METRICS = {
    "scan time": "sources.scan_ms",
    "size of files read": "sources.input_bytes",
    "number of files read": "sources.files_read",
}


def parse_metric(text: str) -> float:
    """SQL metric display string -> number in bytes, ms or rows.

    Spark renders ``1,234``, ``63.5 KiB`` or ``1.5 s``; aggregated forms put
    ``total (min, med, max ...)`` on a first line and the values below."""
    line = text.strip().splitlines()[-1]
    m = _NUM.match(line)
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    return value


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


class StoreCursor:
    """Deltas of the app status store and SQL status store since last read."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._job_hw = self._max_job()
        self._exec_hw = self._max_exec()
        self._codegen_hw = self._codegen_total()

    def _max_job(self) -> int:
        jobs = _seq(self._store.jobsList(None))
        return max((j.jobId() for j in jobs), default=-1)

    def _max_exec(self) -> int:
        execs = _seq(self._sql.executionsList())
        return max((e.executionId() for e in execs), default=-1)

    def _codegen_total(self) -> float:
        hist = self._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        return float(sum(hist.getSnapshot().getValues()))

    def jobs_delta(self) -> dict[str, float]:
        """Jobs started since the last call, with their stages' task metrics."""
        new = [j for j in _seq(self._store.jobsList(None)) if j.jobId() > self._job_hw]
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
             "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes"),
            0.0,
        )
        if not new:
            return out
        self._job_hw = max(j.jobId() for j in new)
        no_status = self._jvm.java.util.ArrayList()
        no_quantiles = self.spark.sparkContext._gateway.new_array(self._jvm.double, 0)
        out["jobs"] = float(len(new))
        for sid in {sid for j in new for sid in _seq(j.stageIds())}:
            for st in _seq(self._store.stageData(sid, False, no_status, False, no_quantiles)):
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out

    def sql_delta(self) -> dict[str, float]:
        """Scan and Python-node SQL metrics of executions since the last call."""
        out = dict.fromkeys(list(SCAN_METRICS.values()) + list(PY_METRICS.values()), 0.0)
        new = [e.executionId() for e in _seq(self._sql.executionsList())
               if e.executionId() > self._exec_hw]
        for eid in new:
            values = {}
            it = self._sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[int(kv._1())] = kv._2()
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                if name.startswith("Scan"):
                    wanted = SCAN_METRICS
                elif PY_NODE.search(name):
                    wanted = PY_METRICS
                else:
                    continue
                for m in _seq(node.metrics()):
                    key = wanted.get(m.name())
                    text = values.get(m.accumulatorId())
                    if key is not None and text is not None:
                        out[key] += parse_metric(text)
        if new:
            self._exec_hw = max(new)
        return out

    def skip(self) -> None:
        """Move every high-water mark to now, discarding the deltas."""
        self.jobs_delta()
        self.sql_delta()
        self.codegen_delta_ms()

    def codegen_delta_ms(self) -> float:
        """Whole-stage codegen compile time since the last call. The JVM keeps
        a sampled histogram, so this is exact only while it holds every
        sample (under ~1000 compilations per run)."""
        total = self._codegen_total()
        delta, self._codegen_hw = max(total - self._codegen_hw, 0.0), total
        return delta


def planning_ms(df: DataFrame) -> float:
    """Optimize and plan ``df`` now; return the tracker's phase times (ms)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


class ProgressLog(StreamingQueryListener):
    """Keeps every micro-batch progress of the run in memory."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        row = {"batch": p.batchId, "start": start, "rows": p.numInputRows, "duration": dict(p.durationMs or {})}
        with self._lock:
            self.progress.append(row)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def batches(self) -> list[dict]:
        with self._lock:
            return [p for p in self.progress if p["rows"] > 0]
