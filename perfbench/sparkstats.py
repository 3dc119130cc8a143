"""Read execution counters for a set of Spark jobs from the driver's
status stores (they stay populated with the web UI disabled).

Used only by traced runs, after a request has finished: the listener
bus is drained first so every stage of the request is in the store.
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

# SQL metric keys of the Python-evaluating nodes (MapInPandas,
# ArrowEvalPython, ...) in the executed plan
PYTHON_METRICS = {
    "pythonDataSent": "bytes_sent",
    "pythonDataReceived": "bytes_received",
    "pythonNumRowsReceived": "rows",
}
# wrappers whose subtree is reached through a method, not children()
_WRAPPED = {"AdaptiveSparkPlanExec": "executedPlan",
            "ShuffleQueryStageExec": "plan", "BroadcastQueryStageExec": "plan",
            "ResultQueryStageExec": "plan", "TableCacheQueryStageExec": "plan"}
# reused nodes point at a subtree counted where it first ran
_REUSED = {"ReusedExchangeExec", "ReusedSubqueryExec"}


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


@dataclass
class ExecStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_ms: float = 0.0
    executor_run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_rows: int = 0


class SparkStats:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs_of(self, groups: list[str]) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted(j for g in groups for j in tracker.getJobIdsForGroup(g))

    def job_ms(self, job_ids: list[int]) -> float:
        store = self._jsc.statusStore()
        total = 0.0
        for j in job_ids:
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                total += (jd.completionTime().get().getTime()
                          - jd.submissionTime().get().getTime())
        return total

    def exec_stats(self, job_ids: list[int]) -> ExecStats:
        store = self._jsc.statusStore()
        out = ExecStats(jobs=len(job_ids), job_ms=self.job_ms(job_ids))
        seen: set[int] = set()
        for j in job_ids:
            for sid in self.sc.statusTracker().getJobInfo(j).stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # never attempted: skipped via shuffle reuse
                if st.status().toString() != "COMPLETE":
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks()
                out.executor_run_ms += st.executorRunTime()
                out.gc_ms += st.jvmGcTime()
                out.shuffle_read_bytes += st.shuffleReadBytes()
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += st.diskBytesSpilled()
                out.input_rows += st.inputRecords()
        return out


def catalyst_ms(df) -> dict[str, float]:
    """Phase durations recorded by the DataFrame's QueryExecution tracker
    (0 for a phase that has not run)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = float(ph.get().durationMs()) if ph.isDefined() else 0.0
    return out


def _plan_nodes(plan):
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls in _REUSED:
            continue
        yield node
        if cls in _WRAPPED:
            stack.append(getattr(node, _WRAPPED[cls])())
        else:
            stack.extend(_iter(node.children()))
        stack.extend(_iter(node.subqueries()))


def python_metrics(df) -> dict[str, int]:
    """Bytes sent to and received from Python workers, and rows they
    returned, summed over the Python-evaluating nodes of the executed
    plan of ``df`` (which must have run)."""
    out = dict.fromkeys(PYTHON_METRICS.values(), 0)
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        metrics = node.metrics()
        for key, name in PYTHON_METRICS.items():
            m = metrics.get(key)
            if m.isDefined():
                out[name] += int(m.get().value())
    return out
