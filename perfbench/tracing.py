"""Traced-run instrumentation: spans, the loader wrapper, and the
per-operation layer table built from spans plus the event log.

Spans are kept in memory and written out when the run ends. Each is
(id, parent, name, start, end) in epoch seconds, nested
run -> pass -> op -> build/plan/exec (or song/log) -> load_table.
"""

from __future__ import annotations

import re
import statistics
import sys
import time
from contextlib import contextmanager

from eventlog import GroupStats

MB = 1024 * 1024
_EXCHANGE = re.compile(r"^[\s:+\-*()\d]*(\w*Exchange)\b")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def descendants(self, rec: dict, name: str) -> list[dict]:
        ids, out = {rec["id"]}, []
        for s in self.spans[rec["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                if s["name"] == name:
                    out.append(s)
        return out


def dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


def wrap_loader(tracer: Tracer, package: str) -> None:
    """Time ``sources.loader.load_table`` wherever operator modules
    bound it by name, plus the loader module itself."""
    loader = sys.modules[f"{package}.sources.loader"]
    orig = loader.load_table

    def load_table(*args, **kwargs):
        with tracer.span("load_table"):
            return orig(*args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith(package) and getattr(mod, "load_table", None) is orig:
            mod.load_table = load_table


def count_exchanges(plan: str) -> int:
    """Exchange nodes (shuffle, broadcast, reused) in a plan tree."""
    return sum(1 for line in plan.splitlines() if _EXCHANGE.match(line))


def storage(sc) -> tuple[int, int]:
    """(RDDs, bytes) the block manager holds for persisted/checkpointed RDDs."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)


def op_record(tracer: Tracer, op: dict, stats: dict[str, GroupStats], cores: int) -> dict:
    """One operation's layer split from its spans and its job groups."""
    group = op["group"]
    phases = {s["name"]: s for s in tracer.spans if s["parent"] == op["id"]}
    build = stats.get(f"{group}/build", GroupStats())
    runs = [stats.get(f"{group}/{p}", GroupStats()) for p in ("exec", "song", "log")]
    every = [build, *runs]
    loads = tracer.descendants(op, "load_table")
    rec = {
        "pass": op["pass"],
        "op": op["op"],
        "wall_s": dur(op),
        "registry.build_s": dur(phases["build"]) if "build" in phases else 0.0,
        "registry.build_jobs": build.jobs,
        "registry.build_task_s": build.task_ms / 1e3,
        "registry.build_driver_s": 0.0,
        "sources.loader.calls": len(loads),
        "sources.loader.load_s": sum(dur(s) for s in loads),
        "catalyst.plan_s": dur(phases["plan"]) if "plan" in phases else 0.0,
        "catalyst.exchanges": op.get("exchanges", 0),
        "exec.wall_s": sum(dur(phases[p]) for p in ("exec", "song", "log") if p in phases),
        "exec.jobs": sum(s.jobs for s in runs),
        "exec.stages": sum(s.stages for s in runs),
        "exec.tasks": sum(s.tasks for s in runs),
        "exec.task_s": sum(s.task_ms for s in runs) / 1e3,
        "exec.task_overhead_s": sum(s.overhead_ms for s in runs) / 1e3,
        "exec.gc_s": sum(s.gc_ms for s in runs) / 1e3,
        "exec.input_mb": sum(s.input_bytes for s in runs) / MB,
        "exec.shuffle_write_mb": sum(s.shuffle_write_bytes for s in runs) / MB,
        "exec.shuffle_read_mb": sum(s.shuffle_read_bytes for s in runs) / MB,
        "exec.spill_mb": sum(s.spill_bytes for s in runs) / MB,
        "python.worker_s": sum(s.py_run_ms for s in every) / 1e3,
        "python.boot_s": sum(s.py_boot_ms for s in every) / 1e3,
        "python.data_sent_mb": sum(s.py_sent_bytes for s in every) / MB,
        "pin.retained_rdds": op.get("retained_rdds", 0),
        "pin.retained_bytes": op.get("retained_bytes", 0),
        "etl.song_s": dur(phases["song"]) if "song" in phases else 0.0,
        "etl.log_s": dur(phases["log"]) if "log" in phases else 0.0,
        "etl.read_tasks": sum(s.read_tasks for s in runs[1:]),
        "etl.files_written": op.get("files_written", 0),
        "etl.bytes_written": op.get("bytes_written", 0),
        "etl.records_written": sum(s.output_records for s in runs[1:]),
    }
    if "build" in phases:
        b = phases["build"]
        covered = build.covered_ms(b["start"] * 1e3, b["end"] * 1e3) / 1e3
        rec["registry.build_driver_s"] = max(dur(b) - covered, 0.0)
    rec["exec.core_util"] = rec["exec.task_s"] / (rec["exec.wall_s"] * cores) if rec["exec.wall_s"] else 0.0
    rec["unaccounted_s"] = rec["wall_s"] - rec["registry.build_s"] - rec["catalyst.plan_s"] - rec["exec.wall_s"]
    return rec


PER_LAYER_UNITS = {
    "session.import_s": "s",
    "session.start_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_task_s": "s",
    "registry.build_driver_s": "s",
    "sources.loader.calls": "count",
    "sources.loader.load_s": "s",
    "catalyst.plan_s": "s",
    "catalyst.exchanges": "count",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.task_overhead_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.local_dir_mb": "MB",
    "python.worker_s": "s",
    "python.boot_s": "s",
    "python.data_sent_mb": "MB",
    "pin.retained_rdds": "count",
    "pin.retained_bytes": "bytes",
    "etl.song_s": "s",
    "etl.log_s": "s",
    "etl.read_tasks": "count",
    "etl.files_written": "count",
    "etl.bytes_written": "bytes",
    "etl.records_written": "count",
    "mem.peak_rss_mb": "MB",
    "trace.cold_pass_s": "s",
    "trace.warm_pass_s": "s",
    "trace.warm_pass_cpu_s": "s",
}

# Metrics that are the same for the whole run rather than summed per pass.
RUN_LEVEL = ("pin.retained_rdds", "pin.retained_bytes")


def layer_metrics(records: list[dict], cores: int, first: int) -> dict[str, float]:
    """Workload-level layer metrics: per-pass sums over operations,
    median over the measured warm passes (``first`` on); pins as held
    after the last operation."""
    warm = sorted({r["pass"] for r in records if r["pass"] >= first}) or [0]
    keys = [k for k in records[0] if k not in ("pass", "op", "wall_s", "unaccounted_s", *RUN_LEVEL)]
    out = {
        k: statistics.median(sum(r[k] for r in records if r["pass"] == p) for p in warm)
        for k in keys
    }
    wall = out["exec.wall_s"]
    out["exec.core_util"] = out["exec.task_s"] / (wall * cores) if wall else 0.0
    for k in RUN_LEVEL:
        out[k] = records[-1][k]
    return out
