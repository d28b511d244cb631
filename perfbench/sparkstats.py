"""Layer metrics read from Spark's own status stores, from outside the
engine: the core status store (jobs, stages, task metrics) and the SQL
status store (per-operator SQL metrics, where the Python/Arrow worker
boundary reports its time and bytes). Both keep their data with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os

#: Per-stage task metrics summed over an operation's stages.
STAGE_KEYS = (
    "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
    "input_records", "shuffle_write_bytes", "shuffle_read_bytes",
    "shuffle_fetch_wait_s", "spill_bytes", "peak_exec_mem_bytes",
)

#: Spark 4.1 SQL metric names on Python nodes -> benchmark key.
PYTHON_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
}
PYTHON_KEYS = ("run_s", "boot_s", "init_s", "bytes_sent", "bytes_received", "rows_received")

#: Substrings naming Spark's Python physical operators (ArrowEvalPython,
#: MapInPandas, FlatMapCoGroupsInArrow, ...).
_PYTHON_NODE_TAGS = ("Python", "Pandas", "InArrow")

_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0, "average": 1.0}


class SparkStats:
    """Reads one session's status stores through py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._acc = spark._jvm.org.apache.spark.util.AccumulatorContext
        self.tracker = self.sc.statusTracker()

    def drain(self) -> None:
        """Wait until the listener bus has applied every posted event, so
        the stores describe every finished job."""
        self._bus.waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def job_submitted_ms(self, job_id: int) -> int | None:
        t = self._store.job(job_id).submissionTime()
        return t.get().getTime() if t.isDefined() else None

    def stage_totals(self, job_ids) -> dict[str, float]:
        out = dict.fromkeys(STAGE_KEYS, 0.0)
        seen = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self._store.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["task_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["input_records"] += sd.inputRecords()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                out["spill_bytes"] += sd.diskBytesSpilled()
                out["peak_exec_mem_bytes"] = max(
                    out["peak_exec_mem_bytes"], float(sd.peakExecutionMemory()))
        return out

    def sql_execution_count(self) -> int:
        return self._sql.executionsCount()

    def python_totals(self, first_exec: int, last_exec: int) -> dict[str, float]:
        """Python-boundary SQL metrics summed over the SQL executions with
        list positions in [first_exec, last_exec)."""
        out = dict.fromkeys(PYTHON_KEYS, 0.0)
        if last_exec <= first_exec:
            return out
        execs = self._sql.executionsList(first_exec, last_exec - first_exec)
        for i in range(execs.size()):
            ex = execs.apply(i)
            if not any(t in ex.physicalPlanDescription() for t in _PYTHON_NODE_TAGS):
                continue  # no Python node: skip the plan-graph walk
            eid = ex.executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                named = {}
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    named[m.name()] = m
                if "data sent to Python workers" not in named:
                    continue
                for name, m in named.items():
                    key = PYTHON_METRICS.get(name)
                    if key is None and name == "number of output rows":
                        key = "rows_received"
                    if key is not None:
                        out[key] += self._metric_value(m, values)
        return out

    def _metric_value(self, m, values) -> float:
        """A SQL metric's raw total: the driver-side accumulator while it
        lives, else the leading number of the store's formatted string."""
        scale = _UNIT_SCALE.get(m.metricType(), 1.0)
        acc = self._acc.get(m.accumulatorId())
        if acc.isDefined():
            return float(acc.get().value()) * scale
        s = values.get(m.accumulatorId())
        if not s.isDefined():
            return 0.0
        return parse_metric_string(s.get(), m.metricType())


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric_string(s: str, metric_type: str) -> float:
    """The total from a formatted SQL metric string: either a bare number
    or ``"total (min, med, max ...)\\n<total> (<min>, ...)"``."""
    line = s.splitlines()[-1].strip()
    head = line.split(" (")[0].strip()
    parts = head.split()
    num = float(parts[0].replace(",", ""))
    if metric_type == "size" and len(parts) > 1:
        return num * _SIZE.get(parts[1], 1)
    if metric_type in ("timing", "nsTiming") and len(parts) > 1:
        return num * _TIME.get(parts[1], 1.0)
    return num


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM plus this driver Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
