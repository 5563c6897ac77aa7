"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import checks
import datagen
import eventlog
import tracing
from workloads import WORKLOADS


def test_every_operation_resolves_with_an_oracle():
    from data_lake_with_spark_and_aws_s3_spark import REGISTRY

    for wl in WORKLOADS.values():
        for name in wl.ops:
            assert name in REGISTRY, f"{wl.name}: {name} is not registered"
            assert REGISTRY[name].oracle, f"{wl.name}: {name} has no oracle to check against"


def _task(stage, launch, finish, run, **metrics):
    accs = [{"Name": n, "Update": str(v)} for n, v in metrics.pop("accs", {}).items()]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": accs},
        "Task Metrics": {
            "Executor Run Time": run, "JVM GC Time": metrics.get("gc", 0),
            "Input Metrics": {"Bytes Read": metrics.get("read", 0)},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("sw", 0)},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": metrics.get("sr", 0)},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": metrics.get("spill", 0),
            "Output Metrics": {"Records Written": metrics.get("wr", 0)},
        },
    }


def _job(job, stages, group, submitted, completed):
    props = {"spark.jobGroup.id": group} if group else {}
    start = {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": submitted,
             "Stage IDs": stages, "Properties": props}
    end = {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": completed}
    return start, end


def _stage(kind, stage, group=None):
    ev = {"Event": f"SparkListenerStage{kind}", "Stage Info": {"Stage ID": stage}}
    if group:
        ev["Properties"] = {"spark.jobGroup.id": group}
    return ev


CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    *_job(0, [0], "w/1/q/build", 1000, 1100)[:1],
    _stage("Submitted", 0, "w/1/q/build"),
    _task(0, 1000, 1050, 40, read=100, gc=3),
    _stage("Completed", 0),
    *_job(0, [0], "w/1/q/build", 1000, 1100)[1:],
    # a job outside any group is ignored
    *_job(1, [1], None, 1200, 1300)[:1],
    _stage("Submitted", 1),
    _task(1, 1200, 1290, 90, read=999),
    _stage("Completed", 1),
    *_job(1, [1], None, 1200, 1300)[1:],
    # two stages, one skipped (never submitted), three tasks
    *_job(2, [2, 3, 4], "w/1/q/exec", 1400, 1800)[:1],
    _stage("Submitted", 2, "w/1/q/exec"),
    _task(2, 1400, 1500, 80, sw=2048, accs={eventlog.PY_RUN: 60, eventlog.PY_SENT: 512,
                                            eventlog.PY_BOOT: 7}),
    _task(2, 1400, 1520, 110, sw=1024, accs={eventlog.PY_RUN: 70, "time to initialize Python workers": 5}),
    _stage("Completed", 2),
    _stage("Submitted", 4, "w/1/q/exec"),
    _task(4, 1600, 1700, 95, sr=3072, spill=10, wr=4),
    _stage("Completed", 4),
    *_job(2, [2, 3, 4], "w/1/q/exec", 1400, 1800)[1:],
]


def test_eventlog_attributes_canned_log_to_job_groups():
    stats = eventlog.aggregate(json.dumps(e) for e in CANNED)
    assert set(stats) == {"w/1/q/build", "w/1/q/exec"}

    b = stats["w/1/q/build"]
    assert (b.jobs, b.stages, b.tasks) == (1, 1, 1)
    assert (b.task_ms, b.run_ms, b.overhead_ms, b.gc_ms) == (50, 40, 10, 3)
    assert (b.input_bytes, b.read_tasks) == (100, 1)
    assert b.covered_ms(900, 1050) == 50

    e = stats["w/1/q/exec"]
    assert (e.jobs, e.stages, e.tasks) == (1, 2, 3)
    assert (e.task_ms, e.run_ms, e.overhead_ms) == (320, 285, 35)
    assert (e.shuffle_write_bytes, e.shuffle_read_bytes, e.spill_bytes) == (3072, 3072, 10)
    assert e.output_records == 4
    assert (e.py_run_ms, e.py_boot_ms, e.py_sent_bytes) == (130, 7, 512)
    assert e.input_bytes == 0 and e.read_tasks == 0


def test_covered_ms_merges_overlapping_jobs():
    st = eventlog.GroupStats(job_spans_ms=[(10, 30), (20, 40), (60, 70)])
    assert st.covered_ms(0, 100) == 40
    assert st.covered_ms(25, 65) == 20


def _tree(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_sparkify_generator_is_deterministic(tmp_path):
    a = datagen.write_sparkify(str(tmp_path / "a"), 5, 30, 2, 200)
    b = datagen.write_sparkify(str(tmp_path / "b"), 5, 30, 2, 200)
    c = datagen.write_sparkify(str(tmp_path / "c"), 6, 30, 2, 200)
    assert a == b
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")
    assert _tree(tmp_path / "a") != _tree(tmp_path / "c")
    assert a["songs"] == 30 and 0 < a["songplays"] < 400
    assert a["time"] <= a["songplays"] and a["users"] > 0


def test_table_generator_is_deterministic(tmp_path):
    """The run generates tables through the module's command line."""
    a = datagen.write_tables(str(tmp_path / "a"), 0.001, 50, 40, 42)
    subprocess.run([sys.executable, datagen.__file__, str(tmp_path / "b"), "0.001", "50", "40", "42"], check=True)
    assert a["lineitem"] == 6000 and a["documents"] == 50
    assert sorted(os.listdir(tmp_path / "a")) == sorted(f"{t}.parquet" for t in datagen.TABLES)
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")


def test_oracle_compare_is_order_insensitive_and_exact():
    want = checks.canonical(["b", "a"], [(2.0, "x"), (1.0, "y")])
    assert checks.diff(checks.canonical(["a", "b"], [("y", 1.0), ("x", 2.0)]), want) is None
    assert "rows" in checks.diff(checks.canonical(["a", "b"], [("y", 1.0)]), want)
    assert checks.diff(checks.canonical(["a", "b"], [("y", 1.0), ("x", 2.001)]), want)


def test_count_exchanges():
    plan = (
        "AdaptiveSparkPlan isFinalPlan=false\n"
        "+- HashAggregate(keys=[k#1])\n"
        "   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS\n"
        "      +- *(1) BroadcastHashJoin [a#2], [b#3], Inner, BuildRight\n"
        "         :- FileScan parquet [a#2]\n"
        "         +- BroadcastExchange HashedRelationBroadcastMode\n"
        "            +- ReusedExchange [b#3], Exchange hashpartitioning(b#3, 4)\n"
    )
    assert tracing.count_exchanges(plan) == 3


def test_benchmark_json_matches_the_code():
    import run

    with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in doc["workloads"]] == [w.why for w in WORKLOADS.values()]
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == tracing.PER_LAYER_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])


def test_layer_metrics_take_medians_over_measured_passes():
    def rec(p, op, wall, build, jobs, retained):
        r = {k: 0 for k in tracing.PER_LAYER_UNITS}
        r.update({"pass": p, "op": op, "wall_s": wall, "unaccounted_s": 0.0, "registry.build_s": build,
                  "exec.jobs": jobs, "exec.wall_s": 1.0, "exec.task_s": 2.0, "pin.retained_bytes": retained})
        return r

    records = [rec(0, "a", 9.0, 5.0, 9, 1), rec(0, "b", 9.0, 5.0, 9, 2),
               rec(1, "a", 2.0, 1.0, 3, 3), rec(1, "b", 1.0, 0.5, 1, 4),
               rec(2, "a", 1.5, 0.8, 3, 5), rec(2, "b", 3.0, 2.0, 1, 6),
               rec(3, "a", 3.0, 2.0, 3, 7), rec(3, "b", 1.2, 0.4, 1, 8)]
    m = tracing.layer_metrics(records, cores=4, first=1)
    assert m["registry.build_s"] == 2.4  # median of the warm-pass sums 1.5, 2.8, 2.4
    assert m["exec.jobs"] == 4
    assert m["exec.core_util"] == 0.5  # 4 task-s in 2 s of exec wall on 4 cores
    assert m["pin.retained_bytes"] == 8  # held after the last operation
    # pass 1 is a warm-up pass when measuring starts at pass 2
    assert abs(tracing.layer_metrics(records, cores=4, first=2)["registry.build_s"] - 2.6) < 1e-9


def test_busy_cpu_counts_work_not_idle_time():
    import run

    t0 = run.busy_cpu_s()
    end = time.perf_counter() + 0.5
    while time.perf_counter() < end:
        pass
    assert run.busy_cpu_s() - t0 >= 0.1  # less than 0.5: the host may steal time
