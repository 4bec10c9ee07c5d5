"""Readers of Spark's own status stores, called at phase boundaries.

Every reader goes through py4j into the driver JVM and reads state Spark keeps
anyway (with the UI off): the job/stage counters of the DAG scheduler, the app
status store, the SQL status store, the Catalyst phase tracker of a query and
the codegen metrics. The Catalyst phases come from a listener that Spark calls
with each finished write. Nothing here changes how a query runs.
"""

from __future__ import annotations

import re
import threading
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")

# SQL plan-graph node names that run Arrow Python kernels
PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
AGGREGATE_NODE = re.compile(r"Aggregate")


def parse_metric(text: str) -> float | None:
    """Parse one SQL metric string to seconds, bytes or a plain count.

    Timing and size metrics read ``total (min, med, max (stageId: taskId))``
    on the first line and the values on the second; the total comes first.
    Sum metrics are a bare number with thousands separators.
    """
    if not text:
        return None
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    return num


def _jvm_ctx(spark):
    return spark.sparkContext._jsc.sc()


def wait_for_listeners(spark) -> None:
    """Block until the listener bus has delivered every event to the stores."""
    _jvm_ctx(spark).listenerBus().waitUntilEmpty()


@dataclass
class Marks:
    """Next job id and SQL-execution count: everything at or after them is new.

    Call :func:`wait_for_listeners` first, so that the SQL store is current.
    """

    job: int
    execution: int


def marks(spark) -> Marks:
    sql = spark._jsparkSession.sharedState().statusStore()
    return Marks(_jvm_ctx(spark).dagScheduler().numTotalJobs(), int(sql.executionsCount()))


@dataclass
class StageTotals:
    jobs: int = 0
    job_wall_s: float = 0.0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def stage_totals(spark, start: Marks, stop: Marks) -> StageTotals:
    """Sum job and stage data over the jobs with ids in [start, stop).

    Stages come from ``statusTracker()``; their data from the app status store.
    A stage that a later job reuses is counted once, a skipped one not at all.
    """
    sc = spark.sparkContext
    store = _jvm_ctx(spark).statusStore()
    tracker = sc.statusTracker()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    out = StageTotals()
    spans, stage_ids = [], set()
    for jid in range(start.job, stop.job):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out.jobs += 1
        stage_ids.update(info.stageIds)
        job = store.job(jid)
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
    out.job_wall_s = _union_length(spans)
    for sid in sorted(stage_ids):
        try:
            attempts = store.stageData(sid, False, sc._jvm.java.util.ArrayList(), False, no_quantiles)
        except Py4JJavaError:  # planned but never submitted (skipped)
            continue
        for i in range(attempts.size()):
            st = attempts.apply(i)
            if st.numCompleteTasks() == 0:
                continue
            out.stages += 1
            out.tasks += st.numCompleteTasks()
            out.executor_run_s += st.executorRunTime() / 1e3
            out.executor_cpu_s += st.executorCpuTime() / 1e9
            out.gc_s += st.jvmGcTime() / 1e3
            out.shuffle_read_mb += st.shuffleReadBytes() / 2**20
            out.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
            out.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
    return out


@dataclass
class NodeTotals:
    exchanges: int = 0
    aggregate_build_s: float = 0.0
    aggregate_peak_mb: float = 0.0
    python_run_s: float = 0.0
    python_sent_mb: float = 0.0
    metric_names: dict[str, set[str]] = field(default_factory=dict)


def node_totals(spark, start: Marks, stop: Marks) -> NodeTotals:
    """Sum SQL node metrics over the SQL executions in [start, stop).

    The plan graph of an adaptive query is the final plan, so exchanges count
    what actually ran.
    """
    store = spark._jsparkSession.sharedState().statusStore()
    out = NodeTotals()
    executions = store.executionsList(start.execution, stop.execution - start.execution)
    for k in range(executions.size()):
        eid = executions.apply(k).executionId()
        nodes = store.planGraph(eid).allNodes()
        values = store.executionMetrics(eid)
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            if "Exchange" in name:
                out.exchanges += 1
            is_agg, is_py = AGGREGATE_NODE.search(name), PYTHON_NODE.search(name)
            if not (is_agg or is_py):
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                metric = metrics.apply(j)
                raw = values.get(metric.accumulatorId())
                value = parse_metric(raw.get()) if raw.isDefined() else None
                label = metric.name()
                out.metric_names.setdefault(name, set()).add(label)
                if value is None:
                    continue
                if is_agg and label == "time in aggregation build":
                    out.aggregate_build_s += value
                elif is_agg and label == "peak memory":
                    out.aggregate_peak_mb = max(out.aggregate_peak_mb, value / 2**20)
                elif is_py and label == "time to run Python workers":
                    out.python_run_s += value
                elif is_py and label == "data sent to Python workers":
                    out.python_sent_mb += value / 2**20
    return out


def catalyst_phases(qe) -> dict[str, float]:
    """Seconds per Catalyst phase recorded by a QueryExecution's own tracker."""
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        out[phase] = got.get().durationMs() / 1e3 if got.isDefined() else 0.0
    return out


class WriteListener:
    """Catalyst phases of every successful write, read from the write's own
    QueryExecution (a write plans its query anew, so the phases of
    ``df.queryExecution()`` are not what the write paid).

    A ``QueryExecutionListener`` served by py4j's callback server: Spark calls
    ``onSuccess`` on its listener thread, so :func:`wait_for_listeners` makes
    ``phases`` current.
    """

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.phases: list[dict[str, float]] = []
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self.phases.append(catalyst_phases(qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java interface)
        pass

    def remove(self) -> None:
        self._manager.unregister(self)


def codegen(spark) -> tuple[int, float]:
    """(compilations so far, approximate compile seconds so far).

    The count is exact; the time is the reservoir mean times the count.
    """
    hist = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    count = hist.getCount()
    return count, count * hist.getSnapshot().getMean() / 1e3


class Py4JCounter:
    """Counts round trips on the gateway client, from every Python thread."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        lock = threading.Lock()
        self.calls = 0

        def counted(*args, **kwargs):
            with lock:
                self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self.remove = lambda: vars(client).pop("send_command", None)
