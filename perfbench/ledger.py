"""Per-op Spark ledger, read from outside the program.

Three sources, all in the driver JVM, read over py4j after each op:

* the application status store (``SparkContext.statusStore``): jobs and
  stages with their task metrics, attributed to the op whose wall-clock
  window contains their *submission time*. Job groups are not used:
  streaming micro-batch jobs run on the query's own thread and escape
  ``setJobGroup``;
* a ``QueryExecutionListener``: the Catalyst phase times
  (analysis/optimization/planning) from the ``QueryPlanningTracker`` of
  every action that ran inside the op, plus the eager analysis of the
  op's returned DataFrame;
* a ``StreamingQueryListener``: trigger durations and state-store size
  of every micro-batch that ran inside the op.

Listeners are attached only while a traced pass runs; the status store is
always on in Spark, so untraced and traced passes run the same engine.
"""

from __future__ import annotations

import re
import threading

from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

# SparkPlan scopes (stage operation-graph clusters) and RDD names that
# evaluate Python: ArrowEvalPython, BatchEvalPython, MapInArrow,
# MapInPandas, FlatMapGroupsInPandas, ...Python UDTFs, PythonRDD
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")

# additive per-op counters; their units are declared in BENCHMARK.json
COUNTERS = (
    "build.jobs",
    "catalyst.analysis_s",
    "catalyst.optimization_s",
    "catalyst.planning_s",
    "sched.jobs",
    "sched.stages",
    "sched.tasks",
    "sched.driver_gap_s",
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.offcpu_s",
    "arrow.stage_run_s",
    "scan.input_bytes",
    "scan.input_rows",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "spill.disk_bytes",
    "sink.output_bytes",
    "collect.result_bytes",
    "stream.triggers",
    "stream.trigger_s",
    "stream.add_batch_s",
    "stream.query_planning_s",
    "stream.wal_commit_s",
    "stream.state_rows",
    "stream.state_bytes",
)


def _seq(scala_seq) -> list:
    out, it = [], scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _ms(opt_date) -> int | None:
    return opt_date.get().getTime() if opt_date.isDefined() else None


def _phases(tracker) -> dict[str, float]:
    out: dict[str, float] = {}
    for kv in _seq(tracker.phases()):
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


class _QueryListener:
    """py4j implementation of Spark's ``QueryExecutionListener``."""

    def __init__(self, sink: list, lock: threading.Lock):
        self._sink, self._lock = sink, lock

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        phases = _phases(qe.tracker())
        with self._lock:
            self._sink.append(phases)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    def __init__(self, sink: list, lock: threading.Lock):
        self._sink, self._lock = sink, lock

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        state = [(so.numRowsTotal, so.memoryUsedBytes) for so in p.stateOperators]
        with self._lock:
            self._sink.append((str(p.id), dict(p.durationMs), state))

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class Ledger:
    """Reads the Spark counters of one op at a time (see module doc)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._lock = threading.Lock()
        self._qe: list[dict[str, float]] = []
        self._progress: list[tuple] = []
        self._qe_listener = _QueryListener(self._qe, self._lock)
        self._stream_listener = _StreamListener(self._progress, self._lock)
        self._next_job = 0

    # -- listeners ------------------------------------------------------

    def attach(self) -> None:
        ensure_callback_server_started(self.spark.sparkContext._gateway)
        self.spark._jsparkSession.listenerManager().register(self._qe_listener)
        self.spark.streams.addListener(self._stream_listener)
        self._drain()
        self._next_job = self._jobs_submitted()

    def detach(self) -> None:
        self._drain()
        self.spark._jsparkSession.listenerManager().unregister(self._qe_listener)
        self.spark.streams.removeListener(self._stream_listener)

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        with self._lock:
            self._qe.clear()
            self._progress.clear()

    def _jobs_submitted(self) -> int:
        """Jobs the DAG scheduler has created: job ids are dense from 0."""
        return self._jsc.dagScheduler().numTotalJobs()

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Exception:  # py4j error wrapping NoSuchElementException
            return None

    # -- one op ---------------------------------------------------------

    def op(self, t0_ms: int, tbuild_ms: int, t1_ms: int, result: DataFrame | None) -> dict:
        """Counters of the op that ran from ``t0_ms`` to ``t1_ms`` (epoch
        ms; its registry call ended at ``tbuild_ms``). Call right after
        the op; ``result`` is the DataFrame it built, if any."""
        self._jsc.listenerBus().waitUntilEmpty()
        with self._lock:
            qes, self._qe[:] = list(self._qe), []
            progress, self._progress[:] = list(self._progress), []
        c = dict.fromkeys(COUNTERS, 0.0)
        if result is not None:
            c["catalyst.analysis_s"] += _phases(result._jdf.queryExecution().tracker()).get(
                "analysis", 0.0
            )
        for phases in qes:
            for phase in ("analysis", "optimization", "planning"):
                c[f"catalyst.{phase}_s"] += phases.get(phase, 0.0)

        stage_ids: set[int] = set()
        end = self._jobs_submitted()
        jobs = [self._job(j) for j in range(self._next_job, end)]
        self._next_job = end
        for job in jobs:
            sub = None if job is None else _ms(job.submissionTime())
            if sub is None or not t0_ms <= sub <= t1_ms:
                continue
            c["sched.jobs"] += 1
            if sub <= tbuild_ms:
                c["build.jobs"] += 1
            stage_ids.update(_seq(job.stageIds()))

        active: list[tuple[int, int]] = []
        for sid in sorted(stage_ids):
            s = self._store.lastStageAttempt(sid)
            sub, done = _ms(s.submissionTime()), _ms(s.completionTime())
            if sub is None or not t0_ms <= sub <= t1_ms:
                continue  # skipped (its output was reused) or outside the op
            active.append((sub, done if done is not None else t1_ms))
            run_s = s.executorRunTime() / 1000.0
            cpu_s = s.executorCpuTime() / 1e9
            c["sched.stages"] += 1
            c["sched.tasks"] += s.numTasks()
            c["exec.run_s"] += run_s
            c["exec.cpu_s"] += cpu_s
            c["exec.gc_s"] += s.jvmGcTime() / 1000.0
            c["exec.offcpu_s"] += max(0.0, run_s - cpu_s)
            if self._runs_python(sid):
                c["arrow.stage_run_s"] += run_s
            c["scan.input_bytes"] += s.inputBytes()
            c["scan.input_rows"] += s.inputRecords()
            c["shuffle.write_bytes"] += s.shuffleWriteBytes()
            c["shuffle.read_bytes"] += s.shuffleReadBytes()
            c["shuffle.fetch_wait_s"] += s.shuffleFetchWaitTime() / 1000.0
            c["spill.disk_bytes"] += s.diskBytesSpilled()
            c["sink.output_bytes"] += s.outputBytes()
            c["collect.result_bytes"] += s.resultSize()
        c["sched.driver_gap_s"] = max(0.0, (t1_ms - t0_ms) / 1000.0 - _union_s(active))

        last_state: dict[str, list] = {}
        for query_id, dur, state in progress:
            c["stream.triggers"] += 1
            c["stream.trigger_s"] += dur.get("triggerExecution", 0) / 1000.0
            c["stream.add_batch_s"] += dur.get("addBatch", 0) / 1000.0
            c["stream.query_planning_s"] += dur.get("queryPlanning", 0) / 1000.0
            c["stream.wal_commit_s"] += dur.get("walCommit", 0) / 1000.0
            last_state[query_id] = state
        for state in last_state.values():
            c["stream.state_rows"] += sum(rows for rows, _ in state)
            c["stream.state_bytes"] += sum(nbytes for _, nbytes in state)
        return c

    def _runs_python(self, stage_id: int) -> bool:
        graph = self._store.operationGraphForStage(stage_id)
        todo = [graph.rootCluster()]
        while todo:
            cluster = todo.pop()
            if _PYTHON_NODE.search(cluster.name()):
                return True
            if any(_PYTHON_NODE.search(n.name()) for n in _seq(cluster.childNodes())):
                return True
            todo.extend(_seq(cluster.childClusters()))
        return False

    def cached_bytes(self) -> int:
        """Bytes the block manager holds for persisted/checkpointed RDDs."""
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo())

