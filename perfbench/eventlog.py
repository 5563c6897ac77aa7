"""Sum a Spark event log by job group.

The benchmark sets a job group (``workload/pass/op/phase``) before each
call into the engine, so every job, stage and task the call launches
carries it. ``aggregate`` reads an uncompressed, non-rolling event log
and returns one ``GroupStats`` per job group.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# Spark's SQL metrics for Python UDF/mapInPandas operators (ms / bytes).
# "time to initialize Python workers" is left out: a reused worker
# reports its first initialisation again on every later task.
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_ms: int = 0  # launch to finish, summed over tasks
    run_ms: int = 0  # executor run time
    gc_ms: int = 0
    input_bytes: int = 0
    read_tasks: int = 0  # tasks that read input bytes
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    output_records: int = 0
    py_run_ms: int = 0
    py_boot_ms: int = 0
    py_sent_bytes: int = 0
    job_spans_ms: list[tuple[int, int]] = field(default_factory=list)

    @property
    def overhead_ms(self) -> int:
        """Task time not spent running the task body."""
        return self.task_ms - self.run_ms

    def covered_ms(self, start_ms: float, end_ms: float) -> float:
        """Part of [start_ms, end_ms] during which a job of this group ran."""
        spans = sorted((max(a, start_ms), min(b, end_ms)) for a, b in self.job_spans_ms)
        covered, reach = 0.0, start_ms
        for a, b in spans:
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        return covered


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def aggregate(lines) -> dict[str, GroupStats]:
    """``lines``: an iterable of event-log JSON lines."""
    stats: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}

    def of(group: str) -> GroupStats:
        return stats.setdefault(group, GroupStats())

    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = _group(ev.get("Properties"))
            if group is None:
                continue
            job_group[ev["Job ID"]] = group
            job_start[ev["Job ID"]] = ev["Submission Time"]
            of(group).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            group = job_group.get(ev["Job ID"])
            if group is not None:
                of(group).job_spans_ms.append((job_start[ev["Job ID"]], ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            group = _group(ev.get("Properties"))
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                of(group).stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is not None:
                _add_task(of(group), ev)
    return stats


def _add_task(st: GroupStats, ev: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    st.tasks += 1
    st.task_ms += info["Finish Time"] - info["Launch Time"]
    st.run_ms += m.get("Executor Run Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    read = m.get("Input Metrics", {}).get("Bytes Read", 0)
    st.input_bytes += read
    st.read_tasks += read > 0
    st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics", {})
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st.output_records += m.get("Output Metrics", {}).get("Records Written", 0)
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name == PY_RUN:
            st.py_run_ms += int(acc["Update"])
        elif name == PY_BOOT:
            st.py_boot_ms += int(acc["Update"])
        elif name == PY_SENT:
            st.py_sent_bytes += int(acc["Update"])
