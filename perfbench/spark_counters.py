"""Spark engine counters read from the application's status stores.

Works with ``spark.ui.enabled=false``: the stores below are fed by the
listener bus whether or not the web UI runs.

- job -> stage ids: pyspark's ``sc.statusTracker()`` (Python objects,
  ``None`` for unknown ids), under a job group;
- stage run, CPU, GC, shuffle, spill and input: the JVM
  ``AppStatusStore.lastStageAttempt``;
- Python/Arrow eval time and bytes: the SQL-execution store's metrics of
  Python eval nodes (``time to run Python workers`` and friends);
- cached and checkpointed blocks: ``SparkContext.getRDDStorageInfo``;
- streaming progress: a ``StreamingQueryListener`` registered here.

The Scala ``SparkStatusTracker`` is never called: its ``Option`` returns do
not cross py4j.
"""

from __future__ import annotations

import re
import threading
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# Units of the SQL metrics' formatted values (Utils.bytesToString /
# msDurationToString).
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")

# Node-name markers of the physical operators that evaluate Python code
# (ArrowEvalPython, BatchEvalPython, FlatMapGroupsInPandas, MapInArrow,
# ArrowEvalPythonUDTF, ...).
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")


def parse_metric(text: str) -> float:
    """Numeric total of a formatted SQL metric value.

    Multi-task values read ``total (min, med, max ...)\\n<total> (...)``;
    single values are just ``<value> <unit>``."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if not m:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit in _TIME:
        return number * _TIME[unit]
    return number


@dataclass
class StageTotals:
    """Sums over the completed stage attempts of a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


@dataclass
class PythonTotals:
    """Python/Arrow eval counters of a set of SQL executions."""

    exec_s: float = 0.0
    bytes_to_worker: float = 0.0
    bytes_from_worker: float = 0.0
    nodes: list[str] = field(default_factory=list)


_PY_METRICS = {
    "time to run Python workers": "exec_s",
    "data sent to Python workers": "bytes_to_worker",
    "data returned from Python workers": "bytes_from_worker",
}


@dataclass
class StreamTotals:
    """Sums over the progress events of streaming queries."""

    batches: int = 0
    add_batch_s: float = 0.0
    commit_s: float = 0.0
    state_rows: int = 0
    state_commit_s: float = 0.0
    run_ids: list[str] = field(default_factory=list)


class _ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._started: list[str] = []
        self._progress: list = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        dur = p.durationMs or {}
        state_rows = sum(op.numRowsTotal for op in p.stateOperators)
        state_commit = sum(op.commitTimeMs for op in p.stateOperators)
        with self._lock:
            self._progress.append((
                str(p.runId),
                dur.get("addBatch", 0) / 1e3,
                (dur.get("commitOffsets", 0) + dur.get("walCommit", 0)) / 1e3,
                state_rows,
                state_commit / 1e3,
            ))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self) -> StreamTotals:
        with self._lock:
            started, progress = self._started, self._progress
            self._started, self._progress = [], []
        out = StreamTotals(run_ids=started)
        last_rows: dict[str, int] = {}
        for run_id, add_s, commit_s, rows, state_commit_s in progress:
            out.batches += 1
            out.add_batch_s += add_s
            out.commit_s += commit_s
            out.state_commit_s += state_commit_s
            last_rows[run_id] = rows
        # state rows held when each query finished, not a sum over batches
        out.state_rows = sum(last_rows.values())
        return out


class SparkCounters:
    """Reads per-job-group engine counters of one SparkSession."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_executions = self._sql.executionsCount()
        self.listener = _ProgressListener()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> StageTotals:
        tracker = self.sc.statusTracker()
        out = StageTotals(jobs=len(job_ids))
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # evicted from the store; retention is raised at launch
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out.stages += 1
            out.tasks += sd.numCompleteTasks()
            out.executor_run_s += sd.executorRunTime() / 1e3
            out.executor_cpu_s += sd.executorCpuTime() / 1e9
            out.gc_s += sd.jvmGcTime() / 1e3
            out.shuffle_read_bytes += sd.shuffleReadBytes()
            out.shuffle_write_bytes += sd.shuffleWriteBytes()
            out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out.input_bytes += sd.inputBytes()
            out.output_bytes += sd.outputBytes()
        return out

    def sync(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far: the stores lag the actions that feed them."""
        self._jsc.listenerBus().waitUntilEmpty()

    def catch_up(self) -> None:
        """Skip everything recorded so far: the SQL executions and streaming
        events of work that ran outside any span would otherwise land in
        the next span that reads them."""
        self.sync()
        self._seen_executions = self._sql.executionsCount()
        self.listener.drain()

    def python_totals(self) -> PythonTotals:
        """Python eval counters of every SQL execution recorded since the
        previous call (the loop is closed, so they belong to the operation
        that just finished). Executions list in id order and are never
        evicted during a run (retention is raised at launch)."""
        out = PythonTotals()
        count = self._sql.executionsCount()
        if count <= self._seen_executions:
            return out
        execs = self._sql.executionsList(self._seen_executions, count - self._seen_executions)
        self._seen_executions = count
        it = execs.iterator()
        while it.hasNext():
            eid = it.next().executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                name = node.name()
                if not _PYTHON_NODE.search(name):
                    continue
                metrics = node.metrics().iterator()
                python = False
                while metrics.hasNext():
                    metric = metrics.next()
                    key = _PY_METRICS.get(metric.name())
                    if key is None:
                        continue
                    python = True
                    value = values.get(metric.accumulatorId())
                    if value.isDefined():
                        setattr(out, key, getattr(out, key) + parse_metric(value.get()))
                if python:
                    out.nodes.append(name)
        return out

    def pinned_mb(self) -> float:
        """Executor storage (memory plus disk) held by cached or
        checkpointed blocks right now."""
        total = 0
        for info in self._jsc.getRDDStorageInfo():
            total += info.memSize() + info.diskSize()
        return total / (1 << 20)
