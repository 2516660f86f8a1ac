"""Spark event-log parser: attribute time, bytes and task statistics to the
labels the benchmark sets as job descriptions around each measured call.

The log is Spark's own JSON-lines record (``spark.eventLog.enabled`` with
compression and rolling off). Nothing inside the program is instrumented:
a label is the ``spark.job.description`` local property, which Spark
copies into every job, stage and SQL execution started under it.

SQL metrics (``number of files read``, ``shuffle bytes written`` of one
Exchange node, ...) are resolved through the plan trees each SQL
execution logs, including the re-plans adaptive execution logs, so a
metric can be read per plan node as well as per label.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

_SQL = "org.apache.spark.sql.execution.ui."
JOB_DESC = "spark.job.description"
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


@dataclass
class PlanMetric:
    node: str  # nodeName, e.g. "Exchange"
    detail: str  # simpleString, e.g. "Exchange rangepartitioning(...)"
    name: str  # metric name, e.g. "shuffle bytes written"


@dataclass
class Stage:
    label: str | None
    tasks: int = 0
    task_ms: list[int] = field(default_factory=list)
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class SqlExec:
    label: str | None
    start_ms: int
    end_ms: int | None = None
    targets: set[str] = field(default_factory=set)  # paths the plan writes to
    metric_ids: set[int] = field(default_factory=set)


@dataclass
class LabelStats:
    """Aggregates over every job started under one label."""

    wall_s: float
    jobs: int
    tasks: int
    gc_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    task_skew: float  # max / median task time of the heaviest stage


class EventLog:
    def __init__(self, events: list[dict]) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], Stage] = {}
        self.sql: dict[int, SqlExec] = {}
        self.metrics: dict[int, PlanMetric] = {}
        self.acc: dict[int, int] = {}
        for e in events:
            self._add(e)

    @classmethod
    def load(cls, path: str | Path) -> "EventLog":
        """Reads one uncompressed, non-rolling event-log file."""
        with open(path, encoding="utf-8") as fh:
            return cls([json.loads(line) for line in fh if line.strip()])

    # -- ingestion ----------------------------------------------------------

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "label": props.get(JOB_DESC),
                "start": e["Submission Time"],
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            props = e.get("Properties") or {}
            key = (info["Stage ID"], info["Stage Attempt ID"])
            self.stages[key] = Stage(label=props.get(JOB_DESC))
        elif kind == "SparkListenerTaskEnd":
            self._task_end(e)
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            ex = SqlExec(label=e.get("description"), start_ms=e["time"])
            self.sql[e["executionId"]] = ex
            self._plan(ex, e.get("sparkPlanInfo"))
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            ex = self.sql.get(e["executionId"])
            if ex is not None:
                self._plan(ex, e.get("sparkPlanInfo"))
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            ex = self.sql.get(e["executionId"])
            if ex is not None:
                ex.end_ms = e["time"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e.get("accumUpdates", []):
                self.acc[acc_id] = self.acc.get(acc_id, 0) + int(value)

    def _plan(self, ex: SqlExec, info: dict | None) -> None:
        stack = [info] if info else []
        while stack:
            node = stack.pop()
            if node["nodeName"] == WRITE_NODE:
                # "Execute InsertIntoHadoopFsRelationCommand file:/x/out, false, ..."
                ex.targets.add(node["simpleString"][len(WRITE_NODE) + 1 :].split(", ", 1)[0])
            for m in node.get("metrics", []):
                self.metrics[m["accumulatorId"]] = PlanMetric(
                    node["nodeName"], node.get("simpleString", ""), m["name"]
                )
                ex.metric_ids.add(m["accumulatorId"])
            stack.extend(node.get("children", []))

    def _task_end(self, e: dict) -> None:
        key = (e["Stage ID"], e["Stage Attempt ID"])
        st = self.stages.setdefault(key, Stage(label=None))
        info = e.get("Task Info") or {}
        m = e.get("Task Metrics") or {}
        st.tasks += 1
        st.task_ms.append(int(info.get("Finish Time", 0)) - int(info.get("Launch Time", 0)))
        st.run_ms += int(m.get("Executor Run Time", 0))
        st.gc_ms += int(m.get("JVM GC Time", 0))
        st.shuffle_write_bytes += int(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        )
        st.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(
            m.get("Disk Bytes Spilled", 0)
        )
        # SQL metrics arrive as task accumulable updates (sum-type)
        for a in info.get("Accumulables", []):
            upd = a.get("Update")
            if a.get("ID") in self.metrics and isinstance(upd, (int, str)):
                try:
                    self.acc[a["ID"]] = self.acc.get(a["ID"], 0) + int(upd)
                except ValueError:
                    continue

    # -- queries ------------------------------------------------------------

    def label_stats(self, label: str) -> LabelStats:
        jobs = [j for j in self.jobs.values() if j["label"] == label]
        stages = [s for s in self.stages.values() if s.label == label]
        if jobs:
            start = min(j["start"] for j in jobs)
            end = max(j["end"] or j["start"] for j in jobs)
            wall = (end - start) / 1000.0
        else:
            wall = 0.0
        heavy = max(stages, key=lambda s: s.run_ms, default=None)
        skew = 1.0
        if heavy is not None and heavy.task_ms:
            med = statistics.median(heavy.task_ms)
            skew = max(heavy.task_ms) / med if med > 0 else 1.0
        return LabelStats(
            wall_s=wall,
            jobs=len(jobs),
            tasks=sum(s.tasks for s in stages),
            gc_s=sum(s.gc_ms for s in stages) / 1000.0,
            shuffle_write_bytes=sum(s.shuffle_write_bytes for s in stages),
            spill_bytes=sum(s.spill_bytes for s in stages),
            task_skew=skew,
        )

    def executions(self, label: str) -> list[SqlExec]:
        return [x for x in self.sql.values() if x.label == label]

    def sql_metric(
        self, label: str, name: str, node: str | None = None, detail: str | None = None
    ) -> int:
        """Sum of one SQL metric over the label's executions, optionally
        restricted to plan nodes named ``node`` whose one-line description
        contains ``detail``."""
        total = 0
        for ex in self.executions(label):
            for acc_id in ex.metric_ids:
                pm = self.metrics[acc_id]
                if pm.name != name:
                    continue
                if node is not None and pm.node != node:
                    continue
                if detail is not None and detail not in pm.detail:
                    continue
                total += self.acc.get(acc_id, 0)
        return total

    def write_wall_s(self, label: str, output: str) -> float:
        """Wall time of the label's SQL executions that write a directory
        named ``output`` (one output of a multi-output call such as
        ``run_and_write``). Only the write target counts, not the paths
        the plan reads, so a write that reads another's output is not
        attributed to it."""
        total = 0
        for ex in self.executions(label):
            if ex.end_ms is not None and any(t.rsplit("/", 1)[-1] == output for t in ex.targets):
                total += ex.end_ms - ex.start_ms
        return total / 1000.0
