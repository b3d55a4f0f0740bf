"""Per-job-group engine figures from an uncompressed Spark event log.

The log is one JSON object per line.  Four kinds of event are read:

- ``SparkListenerJobStart`` / ``SparkListenerJobEnd``: job times, the
  job group (``spark.jobGroup.id``), the SQL execution the job belongs
  to (``spark.sql.execution.id``) and the stages it runs;
- ``SparkListenerTaskEnd``: per-task run time, CPU, GC, shuffle, spill
  and input records;
- ``SparkListenerSQLExecutionStart``: when driver-side work on a query
  began, so the time before its first job can be measured.

Streaming jobs carry their query's run id as job group, so they are
found here even though the status tracker lists them under no group.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    tasks_with_input: int = 0
    scan_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    pre_job_s: float = 0.0
    job_gap_s: float = 0.0
    job_times: list[tuple[float, float]] = field(default_factory=list, repr=False)

    def as_dict(self) -> dict[str, float | int]:
        return {k: v for k, v in self.__dict__.items() if k != "job_times"}


def parse(lines) -> dict[str, GroupStats]:
    """Aggregate an event log (an iterable of lines) per job group.

    Jobs without a group are collected under ``""``.
    """
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    sql_start: dict[str, float] = {}
    first_job_of_sql: dict[str, tuple[float, str]] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            submit = ev["Submission Time"] / 1000.0
            job_group[jid] = group
            job_submit[jid] = submit
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            groups[group].jobs += 1
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None and exec_id not in first_job_of_sql:
                first_job_of_sql[exec_id] = (submit, group)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].job_times.append(
                    (job_submit[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev.get("Stage ID"), "")]
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            inp = m.get("Input Metrics") or {}
            if inp.get("Bytes Read", 0) or inp.get("Records Read", 0):
                g.scan_tasks += 1
                if inp.get("Records Read", 0) > 0:
                    g.tasks_with_input += 1
        elif kind == _SQL_START:
            sql_start[str(ev["executionId"])] = ev["time"] / 1000.0
    for exec_id, (submit, group) in first_job_of_sql.items():
        if exec_id in sql_start:
            groups[group].pre_job_s += max(0.0, submit - sql_start[exec_id])
    for g in groups.values():
        times = sorted(g.job_times)
        busy_until = None
        for start, end in times:
            if busy_until is not None and start > busy_until:
                g.job_gap_s += start - busy_until
            busy_until = end if busy_until is None else max(busy_until, end)
    return dict(groups)


def parse_file(path: str) -> dict[str, GroupStats]:
    with open(path, encoding="utf-8") as f:
        return parse(f)
