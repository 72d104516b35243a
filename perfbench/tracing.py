"""Per-layer tracing from outside the engine.

Everything here reads Spark's own bookkeeping around calls the benchmark
makes into the package; nothing in the package is patched:

- job groups set before ``df_fn()`` (plan build) and before the sink
  (execution) tie jobs and stages to one query run;
- ``statusStore().lastStageAttempt(id)`` gives stage metrics (run and CPU
  time, input, shuffle, spill, failed tasks, first launch / completion);
- the SQL status store's per-operator metrics give the Python seam
  (worker start / init / run time, bytes and rows over Arrow);
- a ``QueryExecutionListener`` reports the Catalyst phase times of every
  query execution.

All of it works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import threading
import time

# SQL metric names of the Python operators (mapInArrow, applyInPandas,
# applyInPandasWithState, pandas UDFs) -> per-layer metric
SEAM_METRICS = {
    "time to start Python workers": "seam.py_start_s",
    "time to initialize Python workers": "seam.py_init_s",
    "time to run Python workers": "seam.py_run_s",
    "data sent to Python workers": "seam.bytes_to_py",
    "data returned from Python workers": "seam.bytes_from_py",
}
_PY_NODE_WORDS = ("Python", "Pandas", "Arrow")
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30, "TiB": 2.0 ** 40,
}
PHASES = ("analysis", "optimization", "planning")
# Stage totals of the sink call -> per-layer metric
EXEC_STAGE_KEYS = {
    "jobs": "exec.jobs", "stages": "exec.stages", "tasks": "exec.tasks",
    "task_run_s": "exec.task_run_s", "task_cpu_s": "exec.task_cpu_s",
    "shuffle_write_bytes": "exec.shuffle_write_bytes",
    "spill_bytes": "exec.spill_bytes", "failed_tasks": "exec.failed_tasks",
    "sched_gap_s": "exec.sched_gap_s",
}


def parse_sql_metric(text: str) -> float:
    """Total of a rendered SQL metric: '1,000', '163 ms', '8.0 KiB' or
    'total (min, med, max ...)\\n3.4 s (584 ms, ...)'. Times come back in
    seconds, sizes in bytes."""
    total = text.split("\n")[-1].split(" (")[0].strip()
    number, _, unit = total.partition(" ")
    return float(number.replace(",", "")) * _UNITS.get(unit, 1.0)


# raw SQLMetric values by metric type -> seconds / bytes / count
_RAW_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _seam_zero() -> dict[str, float]:
    out = {m: 0.0 for m in SEAM_METRICS.values()}
    out["seam.rows_from_py"] = 0.0
    return out


def _seam_key(name: str) -> str | None:
    if name == "number of output rows":
        return "seam.rows_from_py"
    return SEAM_METRICS.get(name)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    busy, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        busy += b - max(a, end)
        end = b
    return busy


class _PhaseListener:
    """py4j implementation of ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self) -> None:
        self.events: list[dict[str, float]] = []
        self._lock = threading.Lock()

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java interface)
        self._record(qe)

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        self._record(qe)

    def _record(self, qe) -> None:
        phases = phase_ms(qe.tracker())
        with self._lock:
            self.events.append(phases)

    def drain(self) -> list[dict[str, float]]:
        with self._lock:
            out, self.events = self.events, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def phase_ms(tracker) -> dict[str, float]:
    phases = tracker.phases()
    out = {}
    for name in PHASES:
        summary = phases.get(name)
        out[name] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out


class Tracer:
    """Collects per-layer numbers for one query run (or one micro-batch)
    at a time. ``overhead_s`` accumulates the time spent in tracing
    bookkeeping on the calling thread."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _PhaseListener()
        spark._jsparkSession.listenerManager().register(self.listener)
        self.overhead_s = 0.0
        self._seen_exec_id = -1
        self._n = 0

    # -- job groups -------------------------------------------------------
    def group(self, kind: str, name: str) -> str:
        t = time.perf_counter()
        self._n += 1
        gid = f"perfbench-{kind}-{self._n}"
        self.sc.setJobGroup(gid, name)
        self.overhead_s += time.perf_counter() - t
        return gid

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    # -- reads ------------------------------------------------------------
    def settle(self) -> None:
        """Wait until every listener event so far has been delivered, so
        the status stores and the phase listener are complete."""
        t = time.perf_counter()
        self._jsc.listenerBus().waitUntilEmpty()
        self.overhead_s += time.perf_counter() - t

    def stages(self, gid: str, call_start: float, call_end: float) -> dict[str, float]:
        """Stage totals of a job group, and ``sched_gap_s``: the time of
        the call (epoch seconds) in which none of its stages had a task
        running."""
        t = time.perf_counter()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        job_ids = list(tracker.getJobIdsForGroup(gid))
        out = {
            "jobs": float(len(job_ids)), "stages": 0.0, "tasks": 0.0,
            "task_run_s": 0.0, "task_cpu_s": 0.0, "shuffle_write_bytes": 0.0,
            "spill_bytes": 0.0, "failed_tasks": 0.0, "input_rows": 0.0,
            "input_bytes": 0.0,
        }
        busy = []
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j NoSuchElement: stage never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["task_run_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["failed_tasks"] += sd.numFailedTasks()
            out["input_rows"] += sd.inputRecords()
            out["input_bytes"] += sd.inputBytes()
            first, done = sd.firstTaskLaunchedTime(), sd.completionTime()
            if first.isDefined() and done.isDefined():
                busy.append((first.get().getTime() / 1e3, done.get().getTime() / 1e3))
        clipped = [(max(a, call_start), min(b, call_end)) for a, b in busy]
        busy_s = _union_len([(a, b) for a, b in clipped if b > a])
        out["sched_gap_s"] = max(0.0, (call_end - call_start) - busy_s)
        self.overhead_s += time.perf_counter() - t
        return out

    def seam(self) -> dict[str, float]:
        """Python-operator SQL metrics of every SQL execution since the
        last call (queries run one at a time, so that is one query)."""
        t = time.perf_counter()
        out = _seam_zero()
        store = self._sql_store
        offset = store.executionsCount()
        newest, done = self._seen_exec_id, False
        while offset > 0 and not done:
            step = min(8, offset)
            offset -= step
            for ex in reversed(list(self._conv.asJava(store.executionsList(offset, step)))):
                eid = ex.executionId()
                if eid <= self._seen_exec_id:
                    done = True
                    break
                newest = max(newest, eid)
                self._add_seam(eid, out)
        self._seen_exec_id = newest
        self.overhead_s += time.perf_counter() - t
        return out

    def _add_seam(self, eid: int, out: dict[str, float]) -> None:
        values = self._conv.asJava(self._sql_store.executionMetrics(eid))
        graph = self._sql_store.planGraph(eid)
        for node in self._conv.asJava(graph.allNodes()):
            if not any(w in node.name() for w in _PY_NODE_WORDS):
                continue
            found = {}
            for metric in self._conv.asJava(node.metrics()):
                key = _seam_key(metric.name())
                text = values.get(metric.accumulatorId())
                if key is not None and text is not None:
                    # max: "number of output rows" appears twice on a
                    # Python operator (its own and rows from Python)
                    found[key] = max(found.get(key, 0.0), parse_sql_metric(text))
            for key, value in found.items():
                out[key] += value

    def plan_seam(self, execution) -> dict[str, float]:
        """The same numbers read from the driver-side metrics of one
        executed plan. A streaming micro-batch runs its Python operator
        under the batch's own execution, which owns no jobs in the SQL
        status store, so the stream reads its ``lastExecution`` instead."""
        t = time.perf_counter()
        out = _seam_zero()
        todo = [execution.executedPlan()]
        while todo:
            node = todo.pop()
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.length()))
            if not any(w in node.nodeName() for w in _PY_NODE_WORDS):
                continue
            found = {}
            it = node.metrics().valuesIterator()
            while it.hasNext():
                metric = it.next()
                key = _seam_key(metric.name().get()) if metric.name().isDefined() else None
                if key is not None:
                    value = metric.value() * _RAW_SCALE.get(metric.metricType(), 1.0)
                    found[key] = max(found.get(key, 0.0), value)
            for key, value in found.items():
                out[key] += value
        self.overhead_s += time.perf_counter() - t
        return out

    def catalyst(self, df=None) -> dict[str, float]:
        """Phase times of every query execution since the last call, plus
        the analysis of ``df`` itself (done eagerly when it was built)."""
        t = time.perf_counter()
        totals = {f"catalyst.{p}_ms": 0.0 for p in PHASES}
        events = self.listener.drain()
        if df is not None:
            events.append({"analysis": phase_ms(df._jdf.queryExecution().tracker())["analysis"]})
        for ev in events:
            for p, v in ev.items():
                totals[f"catalyst.{p}_ms"] += v
        self.overhead_s += time.perf_counter() - t
        return totals
