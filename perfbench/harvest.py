"""Spark's own status store, read from the benchmark's driver.

Two stores are read through py4j, both populated with the UI disabled:
the SQL store (one record per SQL execution: submission and completion
time, physical plan, jobs, and the plan nodes' metrics, among them the
Arrow Python node's worker time and bytes) and the app store (jobs,
stages, tasks). The SQL store keeps a metric only as display text
("total (min, med, max ...)\n9.9 s (...)"), so :func:`metric_value` reads
the total back; display rounding costs at most 0.05 of the last unit.
"""

from __future__ import annotations

import re
import statistics
import time
from dataclasses import dataclass, field

# An execution is attributed to a pipeline layer by the directory its
# insert command writes. Matching on any path in the plan is wrong: every
# wave plan also scans staged/.
_INSERT_ARGS = re.compile(
    r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: ([^,\s]+)"
)
_LINEAGE_SCAN = re.compile(r"Location: \w+ \[[^\]\n]*/lineage[,\]]")

LAYER_BY_TARGET = {
    "staged": "pipeline.staging",
    "decisions": "pipeline.decisions_write",
    "metrics": "pipeline.metrics_write",
    "lineage": "pipeline.lineage_write",
    "conversations": "pipeline.conversations_write",
    "dup_convs": "operators.dedup_sidecar",
}

# SQL metric names of the Arrow Python node (pyspark 4.1)
PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"

_UNIT = {
    "": 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Total of one SQL metric display string, in seconds for times and
    bytes for sizes."""
    m = _VALUE.match(text.rsplit("\n", 1)[-1].strip())
    if not m or m.group(2) not in _UNIT:
        raise ValueError(f"unreadable SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


def insert_target(plan: str) -> str | None:
    m = _INSERT_ARGS.search(plan)
    return m.group(1).rstrip("/").rsplit("/", 1)[-1] if m else None


def classify(plan: str) -> str:
    """Layer of one SQL execution inside ``run_pipeline``, from its plan."""
    target = insert_target(plan)
    if target is not None:
        return LAYER_BY_TARGET.get(target, "pipeline.other_write")
    if _LINEAGE_SCAN.search(plan):
        return "pipeline.resume_check"
    return "pipeline.other_sql"


@dataclass
class Execution:
    id: int
    start: float  # epoch seconds
    end: float
    plan: str
    job_ids: list[int] = field(default_factory=list)


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusStore:
    def __init__(self, spark):
        self._jsc = spark._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._jsc.statusStore()
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """Highest SQL execution id so far; pass it to :meth:`executions`."""
        self._drain()
        return max((e.executionId() for e in _seq(self._sql.executionsList())), default=-1)

    def executions(self, after: int, fallback_end: float) -> list[Execution]:
        """Executions with id > ``after``. A completion the listener has not
        recorded within two seconds is taken as ``fallback_end``."""
        self._drain()
        deadline = time.time() + 2.0
        while True:
            raw = [e for e in _seq(self._sql.executionsList()) if e.executionId() > after]
            if all(e.completionTime().isDefined() for e in raw) or time.time() > deadline:
                break
            time.sleep(0.05)
        out = []
        for e in raw:
            ct = e.completionTime()
            end = ct.get().getTime() / 1000.0 if ct.isDefined() else fallback_end
            jobs = [int(j) for j in _seq(e.jobs().keys())]
            out.append(Execution(int(e.executionId()), e.submissionTime() / 1000.0, end,
                                 e.physicalPlanDescription(), sorted(jobs)))
        return out

    def group_jobs(self, group: str) -> dict[int, set[int]]:
        """Job id -> stage ids, for the jobs run under the job group ``group``."""
        self._drain()
        out: dict[int, set[int]] = {}
        for job in _seq(self._app.jobsList(self._gateway.jvm.java.util.ArrayList())):
            grp = job.jobGroup()
            if grp.isDefined() and grp.get() == group:
                out[int(job.jobId())] = {int(s) for s in _seq(job.stageIds())}
        return out

    def stages(self, stage_ids: set[int]) -> list[dict]:
        """Every attempt of the given stages that ran."""
        out = []
        for s in _seq(self._app.stageList(
            None, False, False, self._gateway.new_array(self._jvm.double, 0),
            self._gateway.jvm.java.util.ArrayList(),
        )):
            if int(s.stageId()) in stage_ids:
                out.append({
                    "stage": int(s.stageId()),
                    "attempt": int(s.attemptId()),
                    "tasks": int(s.numTasks()),
                    "run_ms": int(s.executorRunTime()),
                    "shuffle_write_bytes": int(s.shuffleWriteBytes()),
                    "spill_bytes": int(s.diskBytesSpilled()),
                    "peak_exec_mem_bytes": int(s.peakExecutionMemory()),
                })
        return out

    def sql_metrics(self, execution_ids: list[int], names: tuple[str, ...]) -> dict[str, float]:
        """Totals of the named SQL metrics over the given executions. A
        persisted plan's nodes appear in every execution that reads the
        cache, so each metric (accumulator) is counted once."""
        seen: dict[int, tuple[str, float]] = {}
        for eid in execution_ids:
            ui = self._sql.execution(eid)
            if not ui.isDefined():
                continue
            values = self._sql.executionMetrics(eid)
            for pm in _seq(ui.get().metrics()):
                if pm.name() in names and pm.accumulatorId() not in seen:
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        seen[pm.accumulatorId()] = (pm.name(), metric_value(v.get()))
        out: dict[str, float] = {}
        for name, value in seen.values():
            out[name] = out.get(name, 0.0) + value
        return out

    def task_run_ms(self, stage_id: int, attempt: int) -> list[int]:
        out = []
        for t in _seq(self._app.taskList(stage_id, attempt, 1 << 20)):
            m = t.taskMetrics()
            if m.isDefined():
                out.append(int(m.get().executorRunTime()))
        return out


def skew(run_ms: list[int]) -> float:
    """max / median task run time (1.0 for an even stage)."""
    if not run_ms:
        return 0.0
    med = statistics.median(run_ms)
    return max(run_ms) / med if med > 0 else 0.0
