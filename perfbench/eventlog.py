"""Per-layer numbers from Spark's event log.

The traced run starts its session with the event log on (uncompressed,
non-rolling) and runs each layer call under its own job group
(``layer``). After the session stops, ``EventLog`` folds the log:

* jobs and stages per job group;
* task metrics per job group — shuffle bytes written, bytes written;
* SQL metrics per job group, summed by metric name over the plan nodes
  of the group's executions — among them the Python-node metrics
  (worker boot, init and run time, bytes sent to Python, rows returned)
  and the file-scan and file-write metrics;
* per SQL execution: wall, the JVM call site Spark records for it (the
  API entry, e.g. ``parquet`` or ``collectToPython``; PySpark records no
  Python line) and the output path of a file write. That attributes the
  writes and the lineage collect inside ``run_job`` without editing it;
* per streaming micro-batch: jobs, keyed by the query run id (the job
  group Spark gives a stream) and the ``streaming.sql.batchId`` property.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

# SQL metric names of the Python evaluation nodes (ArrowEvalPython,
# MapInPandas, ...)
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_ROWS = "number of output rows"  # of the Python node itself
FILES_READ = "number of files read"
FILES_SIZE = "size of files read"
TASK_COMMIT = "task commit time"
JOB_COMMIT = "job commit time"


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {**EVENT_LOG_CONF, "spark.eventLog.dir": log_dir}


@contextlib.contextmanager
def layer(spark, name: str):
    """Run the body's Spark jobs under job group ``name``."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)


def _scale(value: float, metric_type: str) -> float:
    """SQL metric value in seconds (timings) or bytes (sizes)."""
    if metric_type == "nsTiming":
        return value / 1e9
    if metric_type == "timing":
        return value / 1e3
    return value


@dataclass
class Execution:
    exec_id: int
    group: str | None
    call_site: str
    plan: str
    start_ms: int
    end_ms: int = 0
    # accumulator id → (node name, metric name, metric type, node metadata)
    metrics: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return max(self.end_ms - self.start_ms, 0) / 1e3

    def write_path(self) -> str | None:
        m = re.search(
            r"Execute InsertIntoHadoopFsRelationCommand\nInput: [^\n]*\nArguments: ([^,\s]+)",
            self.plan,
        )
        return m.group(1) if m else None


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.execs: dict[int, Execution] = {}
        self.accum: dict[int, float] = defaultdict(float)
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    @classmethod
    def of_app(cls, log_dir: str, app_id: str) -> "EventLog":
        paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log for {app_id}, found {paths}")
        return cls(paths[0])

    def _plan_metrics(self, ex: Execution, node: dict) -> None:
        meta = node.get("metadata") or {}
        for m in node["metrics"]:
            ex.metrics[m["accumulatorId"]] = (
                node["nodeName"], m["name"], m["metricType"], meta
            )
        for child in node["children"]:
            self._plan_metrics(ex, child)

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = {
                "group": props.get("spark.jobGroup.id"),
                "exec_id": int(props["spark.sql.execution.id"])
                if "spark.sql.execution.id" in props
                else None,
                "batch_id": props.get("streaming.sql.batchId"),
                "stages": e["Stage IDs"],
                "start_ms": e["Submission Time"],
            }
            self.jobs[e["Job ID"]] = job
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            agg = self.stage_tasks[e["Stage ID"]]
            agg["tasks"] += 1
            agg["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            agg["output_bytes"] += (tm.get("Output Metrics") or {}).get(
                "Bytes Written", 0
            )
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    self.accum[acc["ID"]] += float(acc["Update"])
        elif kind == "SparkListenerSQLExecutionStart":
            details = e.get("details") or ""
            site = re.match(r"[\w.$]+\.(\w+)\(", details)
            ex = Execution(
                exec_id=int(e["executionId"]),
                group=e.get("jobGroupId"),
                call_site=site.group(1) if site else "",
                plan=e.get("physicalPlanDescription") or "",
                start_ms=e["time"],
            )
            self._plan_metrics(ex, e["sparkPlanInfo"])
            self.execs[ex.exec_id] = ex
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            ex = self.execs.get(int(e["executionId"]))
            if ex is not None:
                ex.plan = e.get("physicalPlanDescription") or ex.plan
                self._plan_metrics(ex, e["sparkPlanInfo"])
        elif kind == "SparkListenerSQLExecutionEnd":
            ex = self.execs.get(int(e["executionId"]))
            if ex is not None:
                ex.end_ms = e["time"]
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.accum[acc_id] += float(value)

    # ---- folds -------------------------------------------------------

    def group_execs(self, group: str) -> list[Execution]:
        return sorted(
            (ex for ex in self.execs.values() if ex.group == group),
            key=lambda ex: ex.exec_id,
        )

    def group_jobs(self, group: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] == group]

    def task_sum(self, jobs: list[dict], key: str) -> float:
        return sum(self.stage_tasks[sid][key] for j in jobs for sid in j["stages"])

    def sql_metric(self, execs: list[Execution], name: str, node: str = "",
                   where: str = "") -> float:
        """Sum of SQL metric ``name`` over the executions' plan nodes whose
        name contains ``node`` and whose metadata mentions ``where``."""
        total = 0.0
        for ex in execs:
            for acc_id, (node_name, metric, mtype, meta) in ex.metrics.items():
                if metric != name or node not in node_name:
                    continue
                if where and not any(where in str(v) for v in meta.values()):
                    continue
                total += _scale(self.accum.get(acc_id, 0.0), mtype)
        return total

    def python_metrics(self, execs: list[Execution]) -> dict[str, float]:
        return {
            "py_boot_s": self.sql_metric(execs, PY_BOOT),
            "py_init_s": self.sql_metric(execs, PY_INIT),
            "py_run_s": self.sql_metric(execs, PY_RUN),
            "py_sent_mb": self.sql_metric(execs, PY_SENT) / 2**20,
            # rows the Python nodes (ArrowEvalPython, ...) returned
            "py_rows_out": self.sql_metric(execs, PY_ROWS, node="Python"),
        }

    def group_summary(self, group: str) -> dict[str, float]:
        jobs = self.group_jobs(group)
        execs = self.group_execs(group)
        return {
            "spark_jobs": len(jobs),
            # stages that ran tasks (a job also lists the stages it skips)
            "stages": sum(
                1 for j in jobs for sid in j["stages"] if self.stage_tasks[sid]["tasks"]
            ),
            # the scan nodes' file bytes: task input metrics read ~0 here
            "scan_mb": self.sql_metric(execs, FILES_SIZE, node="Scan") / 2**20,
            "shuffle_mb": self.task_sum(jobs, "shuffle_write_bytes") / 2**20,
            "written_mb": self.task_sum(jobs, "output_bytes") / 2**20,
            **self.python_metrics(execs),
        }

    def batch_jobs(self, run_id: str, batch_id: int) -> list[dict]:
        return [
            j for j in self.jobs.values()
            if j["group"] == run_id and j["batch_id"] == str(batch_id)
        ]
