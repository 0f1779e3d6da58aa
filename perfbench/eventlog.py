"""Fold a Spark event log into per-tag layer counters.

The benchmark tags every layer call with ``setJobGroup("<workload>:<layer>:<pass>")``
(see :class:`perfbench.tracing.Tracer`), and Spark copies the group id into
each job's properties.  This module reads the uncompressed JSON-lines event
log that ``spark.eventLog.enabled`` writes and sums, per tag:

* jobs and their [submission, completion] intervals;
* stages that ran tasks (a skipped stage has none);
* task executor run time, JVM GC time, shuffle bytes written, bytes
  spilled to disk, and per-stage task durations (for skew);
* the wall time of jobs that belong to a parquet write (the SQL execution's
  plan holds ``InsertIntoHadoopFsRelationCommand``).

The Spark-driver gap of a tag is its wall-clock span, measured by the
benchmark around the call, minus the union of its job intervals: the time
the Spark driver spent planning, collecting and waiting between jobs.

Standard library only, so it runs without Spark.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from statistics import median


@dataclass
class TagStats:
    jobs: dict[int, list[float]] = field(default_factory=dict)  # id -> [start, end] ms
    write_jobs: set[int] = field(default_factory=set)
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    executor_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_ms_by_stage: dict[int, list[float]] = field(
        default_factory=lambda: defaultdict(list)
    )

    def job_intervals(self, only: set[int] | None = None) -> list[tuple[float, float]]:
        return [
            (s, e)
            for j, (s, e) in self.jobs.items()
            if e is not None and (only is None or j in only)
        ]

    def busy_ms(self, only: set[int] | None = None) -> float:
        """Length of the union of the job intervals, in ms."""
        return union_length(self.job_intervals(only))

    def write_ms(self) -> float:
        return self.busy_ms(self.write_jobs)

    def task_skew(self) -> float:
        """max ÷ median task duration in the stage with the most task time
        (1.0 when that stage has a single task)."""
        if not self.task_ms_by_stage:
            return 0.0
        heavy = max(self.task_ms_by_stage.values(), key=sum)
        mid = median(heavy)
        return max(heavy) / mid if mid > 0 else 1.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold(lines) -> dict[str, TagStats]:
    """Fold event-log lines (an iterable of str) into {job group: TagStats}.
    Jobs without a job group are dropped."""
    tags: dict[str, TagStats] = defaultdict(TagStats)
    stage_tag: dict[int, str] = {}
    job_tag: dict[int, str] = {}
    write_execs: set[str] = set()
    for line in lines:
        # cheap pre-filter: most lines are events this fold ignores
        if '"SparkListenerJob' not in line and '"SparkListenerTaskEnd"' not in line \
                and "SQLExecutionStart" not in line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            tag = props.get("spark.jobGroup.id")
            if not tag:
                continue
            jid = ev["Job ID"]
            job_tag[jid] = tag
            tags[tag].jobs[jid] = [float(ev["Submission Time"]), None]
            if props.get("spark.sql.execution.id") in write_execs:
                tags[tag].write_jobs.add(jid)
            for sid in ev.get("Stage IDs", []):
                stage_tag[sid] = tag
        elif kind == "SparkListenerJobEnd":
            tag = job_tag.get(ev["Job ID"])
            if tag is not None:
                tags[tag].jobs[ev["Job ID"]][1] = float(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get(ev["Stage ID"])
            if tag is None:
                continue
            st = tags[tag]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            st.stages.add(ev["Stage ID"])
            st.tasks += 1
            st.executor_ms += m.get("Executor Run Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            if "Finish Time" in info and "Launch Time" in info:
                st.task_ms_by_stage[ev["Stage ID"]].append(
                    float(info["Finish Time"] - info["Launch Time"])
                )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            # arrives before the execution's jobs start
            if "InsertIntoHadoopFsRelationCommand" in ev.get("physicalPlanDescription", ""):
                write_execs.add(str(ev["executionId"]))
    return dict(tags)


def fold_file(path: str) -> dict[str, TagStats]:
    with open(path, encoding="utf-8") as fh:
        return fold(fh)
