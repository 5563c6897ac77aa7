"""Benchmark for the engine: one workload in one fresh JVM, closed loop
with one client.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 5 --trace 0

Run from the repository root. The engine is driven only through its
public entry points: ``session.get_spark``, ``REGISTRY[name].fn``,
``DataFrame.collect`` and ``etl.process_song_data``/``process_log_data``.

A run imports the package and starts the session (``setup_s``, wall
time), then runs passes over the workload's operations, one at a time.
The first pass is cold (``cold_pass_cpu_s``); the JIT keeps compiling
through the next ones, so after the workload's ``warmup_passes`` the
measured warm passes follow until they have taken ``--seconds`` (at least
``MEASURED_PASSES_MIN``), and ``warm_pass_cpu_s`` is their mean. A pass
is costed in the CPU seconds the machine spends busy during it (this
client, the driver JVM and its Python workers, as the benchmark is all
the machine runs): on a shared host, the time the hypervisor steals
moves wall times from run to run but is not busy time of the guest. Pass
walls are printed on stderr and reported by the traced run. Every
operation's output is checked after its pass, outside the measured
interval; an operation that raises or fails its check counts in
``failed``.

The last stdout line is one JSON object: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics of a run with
job groups, an event log, plan forcing and a loader wrapper, whose
per-operation table is printed above it and written with the spans to
``perfbench/.work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from eventlog import aggregate
from tracing import PER_LAYER_UNITS, Tracer, count_exchanges, layer_metrics, op_record, storage, wrap_loader
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "data_lake_with_spark_and_aws_s3_spark"

# Run settings: the same for every commit compared (see baseline.json).
CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"
SHUFFLE_PARTITIONS = CORES
MEASURED_PASSES_MIN = 2
SPARK_DEFAULTS = {"spark.ui.showConsoleProgress": "false"}
TRACE_DEFAULTS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "warm_pass_cpu_s": "s",
}

MB = 1024 * 1024


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    args.wl = WORKLOADS[args.workload]
    return args


def tables_dir(tables) -> str:
    """Generate the query tables once per checkout; the directory name
    changes with the generator's code and parameters."""
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        digest = hashlib.sha256(f.read() + repr(tables).encode()).hexdigest()[:12]
    out = os.path.join(WORK, f"tables-{digest}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), tmp,
             str(tables.scale), str(tables.n_docs), str(tables.n_vecs), str(tables.seed)],
            check=True,
        )
        try:
            os.rename(tmp, out)
        except OSError:  # another run generated the same tables first
            if not os.path.isdir(out):
                raise
            shutil.rmtree(tmp)
    return out


def write_spark_conf(conf_dir: str, traced: bool, eventlog_dir: str) -> None:
    conf = dict(SPARK_DEFAULTS)
    if traced:
        conf.update(TRACE_DEFAULTS, **{"spark.eventLog.dir": f"file://{eventlog_dir}"})
    os.makedirs(conf_dir)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in conf.items())


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def busy_cpu_s() -> float:
    """CPU seconds the machine has spent busy so far: user, nice, system,
    irq and softirq time of all its CPUs. Time the hypervisor stole from
    the guest is counted apart and is not among them."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq = map(int, f.readline().split()[1:8])
    return (user + nice + system + irq + softirq) / os.sysconf("SC_CLK_TCK")


def tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


def stop_session(spark) -> None:
    """Stop the context, then end the gateway JVM and wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Bench:
    """One run of one workload."""

    def __init__(self, args, run_dir: str):
        self.wl = args.wl
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.run_dir = run_dir
        self.attempted = 0
        self.failures: list[str] = []
        self.pass_walls: list[float] = []
        self.pass_cpu: list[float] = []
        self.op_walls: dict[str, list[float]] = {}
        self.rss_kb = 0
        self.ops: list[dict] = []  # traced: one span per operation
        self.tracer = Tracer()
        self.spark = None
        self.oracle = None

    # -- set-up --------------------------------------------------------
    def setup(self) -> None:
        """Import the package and start the session; everything else the
        run needs is prepared between the two, outside the timing."""
        t0 = time.perf_counter()
        pkg = importlib.import_module(PACKAGE)
        self.import_s = time.perf_counter() - t0
        self.pkg = pkg
        # After the timed import: these load pyarrow, numpy and duckdb.
        import checks
        import datagen

        self.checks = checks
        if self.wl.tables:
            self.data_dir = tables_dir(self.wl.tables)
            self.oracle = checks.OracleCheck(self.data_dir, datagen.TABLES)
        else:
            sp = self.wl.sparkify
            self.data_dir = os.path.join(self.run_dir, "sparkify")
            self.expect = datagen.write_sparkify(
                self.data_dir, self.seed, sp.n_songs, sp.n_days, sp.events_per_day
            )
            self.etl = importlib.import_module(f"{PACKAGE}.etl")
        eventlog_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(eventlog_dir)
        write_spark_conf(os.path.join(self.run_dir, "conf"), self.traced, eventlog_dir)
        os.environ.update(
            SPARK_CONF_DIR=os.path.join(self.run_dir, "conf"),
            SPARK_LOCAL_DIRS=os.path.join(self.run_dir, "local"),
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        )
        if self.traced:
            wrap_loader(self.tracer, PACKAGE)
        session = importlib.import_module(f"{PACKAGE}.session")
        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name=f"perfbench-{self.wl.name}", cpus=CORES, shuffle_partitions=SHUFFLE_PARTITIONS
        )
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext

    # -- operations ----------------------------------------------------
    def _phase(self, group: str, name: str):
        """Traced runs: a span, and a job group for the jobs it launches."""
        self.sc.setJobGroup(f"{group}/{name}", name)
        return self.tracer.span(name)

    def run_query(self, p: int, name: str):
        spec = self.pkg.REGISTRY[name]
        if not self.traced:
            df = spec.fn(self.spark, self.data_dir)
            return df.columns, df.collect()
        group = f"{self.wl.name}/{p}/{name}"
        with self.tracer.span("op", op=name, group=group, **{"pass": p}) as op:
            self.ops.append(op)
            with self._phase(group, "build"):
                df = spec.fn(self.spark, self.data_dir)
            with self._phase(group, "plan"):
                plan = df._jdf.queryExecution().executedPlan()
            with self._phase(group, "exec"):
                rows = df.collect()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        op["exchanges"] = count_exchanges(plan.toString())
        op["retained_rdds"], op["retained_bytes"] = storage(self.sc)
        return df.columns, rows

    def run_pipeline(self, p: int, out: str) -> None:
        group = f"{self.wl.name}/{p}/pipeline"
        if not self.traced:
            self.etl.process_song_data(self.spark, self.data_dir, out)
            self.etl.process_log_data(self.spark, self.data_dir, out)
            return
        with self.tracer.span("op", op="pipeline", group=group, **{"pass": p}) as op:
            self.ops.append(op)
            with self._phase(group, "song"):
                self.etl.process_song_data(self.spark, self.data_dir, out)
            with self._phase(group, "log"):
                self.etl.process_log_data(self.spark, self.data_dir, out)
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAILED {what}", file=sys.stderr)

    # -- passes --------------------------------------------------------
    def one_pass(self, p: int, order: list[str]) -> None:
        results, wall = [], 0.0
        cpu0 = busy_cpu_s()
        with self.tracer.span("pass", index=p):
            for name in order:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    if self.wl.ops:
                        results.append((name, self.run_query(p, name)))
                    else:
                        out = os.path.join(self.run_dir, "out", f"pass-{p}")
                        self.run_pipeline(p, out)
                        results.append((name, out))
                except Exception:
                    traceback.print_exc()
                    self._fail(f"pass {p} {name}: raised")
                dt = time.perf_counter() - t0
                self.op_walls.setdefault(name, []).append(dt)
                wall += dt
        self.pass_cpu.append(busy_cpu_s() - cpu0)
        self.pass_walls.append(wall)
        print(f"pass {p}: wall {wall:.3f} s, cpu {self.pass_cpu[-1]:.2f} s", file=sys.stderr)
        for name, res in results:  # outside the timed interval
            self.check(p, name, res)

    def check(self, p: int, name: str, res) -> None:
        if self.wl.ops:
            cols, rows = res
            got = self.checks.canonical(cols, [tuple(r) for r in rows])
            want = self.oracle.expected(name, self.pkg.REGISTRY[name].oracle)
            reason = self.checks.diff(got, want)
        else:
            reason = self.checks.check_etl_output(res, self.expect)
            if self.ops:
                st = self.checks.etl_output_stats(res).values()
                self.ops[-1].update(
                    files_written=sum(len(t["files"]) for t in st),
                    bytes_written=sum(t["bytes"] for t in st),
                )
            shutil.rmtree(res)
        if reason:
            self._fail(f"pass {p} {name}: {reason}")

    def measure(self) -> None:
        names = list(self.wl.ops) or ["pipeline"]
        rng = random.Random(self.seed)
        first = 1 + self.wl.warmup_passes
        with self.tracer.span("run", workload=self.wl.name, seed=self.seed):
            p = 0
            while p < first + MEASURED_PASSES_MIN or sum(self.pass_walls[first:]) < self.seconds:
                self.one_pass(p, rng.sample(names, len(names)))
                if p == 1:  # memory over the cold and first warm pass only
                    self.rss_kb = vm_hwm_kb(self.sc._gateway.proc.pid) + vm_hwm_kb("self")
                p += 1

    def summary(self) -> None:
        """Per-operation walls, pass by pass, on stderr."""
        for name, walls in sorted(self.op_walls.items()):
            print(f"{name:<28} " + " ".join(f"{w:7.3f}" for w in walls), file=sys.stderr)

    def finish(self) -> dict:
        """End-to-end metrics; stops the session."""
        self.local_dir_mb = tree_bytes(os.environ["SPARK_LOCAL_DIRS"]) / MB
        self.app_id = self.sc.applicationId
        self.close()
        first = 1 + self.wl.warmup_passes
        return {
            "setup_s": self.import_s + self.start_s,
            "cold_pass_cpu_s": self.pass_cpu[0],
            "warm_pass_cpu_s": statistics.mean(self.pass_cpu[first:]),
        }

    def close(self) -> None:
        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None
        if self.oracle is not None:
            self.oracle.close()
            self.oracle = None

    def layer_report(self) -> tuple[dict, list[dict]]:
        (path,) = glob.glob(os.path.join(self.run_dir, "eventlog", f"{self.app_id}*"))
        with open(path) as f:
            stats = aggregate(f)
        records = [op_record(self.tracer, op, stats, CORES) for op in self.ops]
        first = 1 + self.wl.warmup_passes
        layers = layer_metrics(records, CORES, first)
        layers["trace.cold_pass_s"] = self.pass_walls[0]
        layers["trace.warm_pass_s"] = statistics.median(self.pass_walls[first:])
        layers["trace.warm_pass_cpu_s"] = statistics.mean(self.pass_cpu[first:])
        layers["session.import_s"] = self.import_s
        layers["session.start_s"] = self.start_s
        layers["exec.local_dir_mb"] = self.local_dir_mb
        layers["mem.peak_rss_mb"] = self.rss_kb / 1024
        return layers, records


def print_table(records: list[dict]) -> None:
    cols = [
        ("wall", "wall_s"), ("build", "registry.build_s"), ("bjobs", "registry.build_jobs"),
        ("btask", "registry.build_task_s"), ("bdrv", "registry.build_driver_s"),
        ("loads", "sources.loader.calls"), ("load", "sources.loader.load_s"),
        ("plan", "catalyst.plan_s"), ("exch", "catalyst.exchanges"), ("exec", "exec.wall_s"),
        ("jobs", "exec.jobs"), ("tasks", "exec.tasks"), ("task", "exec.task_s"),
        ("util", "exec.core_util"), ("shufMB", "exec.shuffle_write_mb"), ("py", "python.worker_s"),
        ("resid", "unaccounted_s"), ("pinRDD", "pin.retained_rdds"), ("pinB", "pin.retained_bytes"),
    ]
    print("pass op                          " + " ".join(f"{h:>7}" for h, _ in cols))
    for r in records:
        vals = [f"{r[k]:7d}" if isinstance(r[k], int) else f"{r[k]:7.3f}" for _, k in cols]
        print(f"{r['pass']:>4} {r['op']:<28} " + " ".join(vals))
    last = {r["pass"]: r for r in records}
    print("pin.retained_bytes after each pass:", [last[p]["pin.retained_bytes"] for p in sorted(last)])


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = importlib.util.find_spec(PACKAGE)
    if spec is None or not spec.origin.startswith(ROOT + os.sep):
        print(f"{PACKAGE} is not in {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    bench = Bench(args, run_dir)
    try:
        bench.setup()
        bench.measure()
        e2e = bench.finish()
        bench.summary()
        if bench.traced:
            layers, records = bench.layer_report()
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    if bench.traced:
        print_table(records)
        report = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(report, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "cores": CORES,
                       "end_to_end_traced": e2e,
                       "layers": layers, "ops": records, "spans": bench.tracer.spans}, f, indent=1)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
