#!/usr/bin/env python3
"""Benchmark of the Spark taxi engine: one workload per run.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run reads the fixed fixture
tables in ``perfbench/data/``, sets up once from cold (JVM and session
start on ``local[<usable cores>]``, registry import, warm-up scan of
every table), checks every operation's output, then runs closed-loop
passes over the workload's operations (in an order drawn from
``--seed`` for the query workload) until the workload's passes are done
and ``--seconds`` have passed. Everything it writes stays under
``.perfbench_runs/`` in the checkout.

The last line of standard output is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines above it repeat the metrics for a reader, with the run's
host stamp. README.md in this directory explains the workloads and
metrics."""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import random
import shlex
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_runs")
DATA = os.path.join(HERE, "data")

import workloads  # noqa: E402
from stats import median, tail  # noqa: E402
from spans import Tracer  # noqa: E402

PKG = workloads.PKG


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, choices=(0.01, 0.001),
                    help="scale factor of the fixture tables (default 0.01)")
    return ap.parse_args()


def _hermetic_env(run_dir: str, cores: int, trace: bool) -> None:
    """Point every place Spark, the JVM and Python write to inside the
    run directory, and let Python workers import the package."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # keep every job, stage and SQL execution of the run readable
        conf.update({"spark.ui.retainedJobs": "1000000",
                     "spark.ui.retainedStages": "1000000",
                     "spark.sql.ui.retainedExecutions": "1000000"})
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_UI="false",
        # With the package's 8 GB default, G1 grows the heap by the GC
        # time it sees, which follows the host's speed: the driver's
        # peak RSS spread by 24-39% (IQR/median) between runs. A 1 GB
        # heap is fully committed in every run; the peak heap use
        # inside it (440-790 MB) is reported beside the RSS.
        SPARK_DRIVER_MEMORY="1g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell",
    )
    tempfile.tempdir = None  # re-read TMPDIR


def _setup(tracer: Tracer, sf_dir: str):
    """The run's one set-up, from cold: drop the package's modules, then
    start the session (and with it the JVM), import the registry and
    scan every table once."""
    for mod in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[mod]
    with tracer.span("setup", "setup") as rec:
        with tracer.span("session", "get_session"):
            spark = importlib.import_module(f"{PKG}.session").get_session(app_name="perfbench")
        with tracer.span("import", "all_specs"):
            importlib.import_module(f"{PKG}.plans.registry").all_specs()
        with tracer.span("warmup", "tables"):
            tables = importlib.import_module(f"{PKG}.sources.tables")
            for t in tables.TABLES:
                tables.load_table(spark, sf_dir, t).write.mode("overwrite").format("noop").save()
    return spark, rec


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _peak_heap_mb(spark) -> float:
    """Peak use of the driver JVM's heap: the sum of its heap pools'
    peak usage, from the JVM's memory-pool beans."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in beans.getMemoryPoolMXBeans()
               if p.getType().toString() == "Heap memory") / 2 ** 20


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _stop(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


class Run:
    """State of one benchmark run."""

    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.sf_dir = os.path.join(DATA, f"sf{args.sf}")
        self.workload = workloads.WORKLOADS[args.workload]
        self.ops = self.workload.ops
        self.is_dag = args.workload == "asset_dags"
        self.tracer = Tracer(counters=bool(args.trace))
        self.cores = len(os.sched_getaffinity(0))
        self.problems: dict[str, str] = {}  # op name -> first mismatch or error
        self.checked = 0
        self.attempted = self.failed = 0
        self.latencies: list[float] = []
        self.by_op: dict[str, list[float | None]] = {}  # op name -> latency per pass
        self.pass_walls: list[float] = []
        self.written = self.input_bytes = 0

    def _order(self, salt: int) -> list[str]:
        if not self.workload.shuffle:
            return list(self.ops)
        return random.Random(self.args.seed * 1000 + salt).sample(self.ops, len(self.ops))

    def _problem(self, name: str, text: str) -> None:
        self.problems.setdefault(name, text)

    def _phase(self, name: str) -> None:
        now = time.perf_counter()
        self.phases[name] = now - self._phase_t0
        self._phase_t0 = now

    def execute(self) -> None:
        self.phases: dict[str, float] = {}
        self._phase_t0 = time.perf_counter()
        self.load_start = os.getloadavg()[0]
        spark = None
        try:
            spark, rec = _setup(self.tracer, self.sf_dir)
            self.setup_s = rec["end"] - rec["start"]
            self.spark = spark
            self.spark_version = spark.version
            self.tracer.bind(spark)
            self._phase("setup")
            if not self.is_dag:
                self._gate()
            self._phase("gate")
            self._passes()
            self._phase("passes")
            self.jvm_rss_mb = _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
            self.py_rss_mb = _vm_hwm_mb("self")
            self.heap_mb = _peak_heap_mb(spark)
        finally:
            if spark is not None:
                _stop(spark)
        self._phase("stop")
        self.load_end = os.getloadavg()[0]
        self.tracer.finish()

    def _gate(self) -> None:
        """Check every query's output once, outside the timed window
        (this also warms each plan's code paths)."""
        for name in self._order(-1):
            self.checked += 1
            try:
                problem = workloads.check_query(self.spark, self.sf_dir, self.args.sf, name)
            except Exception:  # any error is this operation's failure
                problem = f"{name}: raised\n{traceback.format_exc()}"
            if problem:
                self._problem(name, problem)

    def _passes(self) -> None:
        start = time.perf_counter()
        p = 0
        while (len(self.pass_walls) < self.workload.passes
               or time.perf_counter() - start < self.args.seconds):
            t0 = time.perf_counter()
            done = [self._op(name, p) for name in self._order(p)]
            self.pass_walls.append(time.perf_counter() - t0)
            for name, results, out_dir, seconds in done:
                self._after_op(name, results, out_dir, seconds)
            p += 1

    def _op(self, name: str, p: int):
        """Run one timed operation; returns what the checks need."""
        self.attempted += 1
        out_dir = os.path.join(self.run_dir, "out", f"{name}-{p}") if self.is_dag else None
        mark = self.tracer.executions_mark()
        results = None
        try:
            with self.tracer.span("op", name) as op:
                if self.is_dag:
                    results = workloads.run_dag(self.spark, self.tracer, self.sf_dir, name, out_dir)
                else:
                    workloads.run_query(self.spark, self.tracer, self.sf_dir, name)
        except Exception:  # any error is this operation's failure
            self._problem(name, f"{name}: raised\n{traceback.format_exc()}")
            return name, None, out_dir, None
        self.tracer.collect(op, mark)
        return name, results, out_dir, op["end"] - op["start"]

    def _after_op(self, name: str, results, out_dir, seconds) -> None:
        """Check a DAG's outputs and count its bytes; book the latency
        of every operation whose output is correct."""
        ok = seconds is not None
        if ok and self.is_dag:
            self.checked += 1
            try:
                problem = workloads.check_dag(name, results, self.sf_dir,
                                              self.args.sf, out_dir)
            except Exception:  # any error is this operation's failure
                problem = f"{name}: check raised\n{traceback.format_exc()}"
            if problem:
                self._problem(name, problem)
                ok = False
            self.written += _tree_bytes(out_dir)
            self.input_bytes += sum(
                os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet"))
                for t in workloads.DAG_INPUTS[name])
            shutil.rmtree(out_dir)
        if ok and name not in self.problems:
            self.latencies.append(seconds)
        else:
            self.failed += 1
            seconds = None
        self.by_op.setdefault(name, []).append(seconds)

    # -- reporting ------------------------------------------------------

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        tail_s, self.tail_pct, self.tail_n = tail(self.latencies)
        p50_of = self.workload.p50_of
        p50 = (self.latencies if p50_of is None else
               [s for s in self.by_op[p50_of][1:] if s is not None])
        return {
            "setup_s": (self.setup_s, "s"),
            "wall_s": (median(self.pass_walls), "s"),
            "op_s.p50": (median(p50), "s"),
            "op_s.tail": (tail_s, "s"),
            "peak_rss_mb": (self.jvm_rss_mb + self.py_rss_mb, "MB"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        metrics = layer_metrics(self.tracer, len(self.pass_walls), self.cores,
                                self.checked, len(self.problems))
        metrics["session.peak_heap_mb"] = (self.heap_mb, "MB")
        return metrics

    def report(self) -> dict:
        metrics = self.per_layer() if self.args.trace else self.end_to_end()
        a = self.args
        print(f"perfbench {a.workload} seed={a.seed} sf={a.sf} trace={a.trace} "
              f"cores={self.cores} load={self.load_start:.2f}->{self.load_end:.2f} "
              f"spark={self.spark_version} python={platform.python_version()} "
              f"passes={len(self.pass_walls)} ops/pass={len(self.ops)}")
        print("  phases: " + " ".join(f"{k}={v:.1f}s" for k, v in self.phases.items()))
        setup = next(s for s in self.tracer.spans if s["kind"] == "setup")
        print("  set-up: " + " ".join(f"{c['kind']}={c['end'] - c['start']:.2f}s"
                                      for c in self.tracer.children(setup)))
        print("  op latency per pass: " + " ".join(
            f"{k}=" + ",".join("failed" if v is None else f"{v:.3f}" for v in vs)
            for k, vs in sorted(self.by_op.items())))
        for name, (value, unit) in metrics.items():
            note = ""
            if name == "op_s.tail":
                note = (f"  (p{self.tail_pct}, n={self.tail_n})" if self.tail_pct < 100 else
                        f"  (maximum: n={self.tail_n} is too few for a tail above the median)")
            if name == "peak_rss_mb":
                note = (f"  (JVM {self.jvm_rss_mb:.0f} + Python {self.py_rss_mb:.0f}; "
                        f"JVM peak heap use {self.heap_mb:.0f} MB)")
            if name == "op_s.p50" and self.workload.p50_of:
                note = f"  ({self.workload.p50_of}, passes after the first)"
            print(f"  {name:<34} {value:>16.6g} {unit}{note}")
        if not a.trace:
            print(f"  {'fail_ratio':<34} {self.failed / self.attempted:>16.6g} "
                  f"ratio  ({self.failed}/{self.attempted})")
            if self.is_dag:
                print(f"  {'write_amp':<34} {self.written / self.input_bytes:>16.6g} "
                      f"ratio  (bytes written / input parquet bytes)")
        for name, text in sorted(self.problems.items()):
            print(f"  FAILED {name}: {text}")
        return {
            "correct": not self.problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def layer_metrics(tracer: Tracer, passes: int, cores: int, checked: int,
                  mismatches: int) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the spans: set-up parts as medians over
    set-ups, everything else per pass."""
    spans = tracer.spans
    kind = lambda k: [s for s in spans if s["kind"] == k]  # noqa: E731
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    ops = kind("op")

    def stage_sum(field: str, span_kind: str, own: bool = False) -> float:
        total = 0
        for s in kind(span_kind):
            for t in ([s] if own else tracer.subtree(s)):
                total += t.get("stages", {}).get(field, 0)  # failed ops have none
        return total

    def plan_sum(field: str) -> float:
        return sum(op["plan"][field] for op in ops if "plan" in op)

    exec_s = sum(dur(s) for s in kind("exec"))
    run_s = stage_sum("executorRunTime", "exec") / 1e3
    dag_execs = [s for s in kind("exec") if "asset_seconds" in s]
    peak = max((t["stages"]["peakExecutionMemory"] for s in kind("exec")
                for t in tracer.subtree(s) if "stages" in t), default=0)
    scans, files = plan_sum("scans"), plan_sum("files_distinct")
    if not stage_sum("tasks", "op"):
        raise RuntimeError("traced run read no tasks from the status store")
    per = lambda v: v / passes  # noqa: E731
    return {
        "session.start_s": (median([dur(s) for s in kind("session")]), "s"),
        "session.warmup_s": (median([dur(s) for s in kind("warmup")]), "s"),
        "plans.import_s": (median([dur(s) for s in kind("import")]), "s"),
        "plans.build_s": (per(sum(dur(s) for s in kind("build"))), "s"),
        "plans.build_jobs": (per(stage_sum("jobs", "build")), "count"),
        "plans.build_tasks": (per(stage_sum("tasks", "build")), "count"),
        "plans.exchanges": (per(plan_sum("exchanges")), "count"),
        "plans.reused_exchanges": (per(plan_sum("reused_exchanges")), "count"),
        "plans.scans_per_file": (scans / files if files else 0.0, "ratio"),
        "sources.scan_files": (per(plan_sum("scan_files")), "count"),
        "sources.scan_bytes": (per(plan_sum("scan_bytes")), "B"),
        "sources.scan_rows": (per(plan_sum("scan_rows")), "count"),
        "sources.scan_time_s": (per(plan_sum("scan_time_s")), "s"),
        "operators.exec_s": (per(exec_s), "s"),
        "operators.jobs": (per(stage_sum("jobs", "exec")), "count"),
        "operators.stages": (per(stage_sum("stages", "exec")), "count"),
        "operators.tasks": (per(stage_sum("tasks", "exec")), "count"),
        "operators.cpu_s": (per(stage_sum("executorCpuTime", "exec") / 1e9), "s"),
        "operators.run_s": (per(run_s), "s"),
        "operators.core_util": (run_s / (exec_s * cores), "ratio"),
        "operators.shuffle_write_bytes": (per(stage_sum("shuffleWriteBytes", "exec")), "B"),
        "operators.shuffle_records": (per(stage_sum("shuffleWriteRecords", "exec")), "count"),
        "operators.post_coalesce_partitions": (per(plan_sum("post_coalesce_partitions")), "count"),
        "operators.broadcast_bytes": (per(plan_sum("broadcast_bytes")), "B"),
        "operators.spill_bytes": (per(stage_sum("diskBytesSpilled", "exec")), "B"),
        "operators.peak_exec_mem_bytes": (peak, "B"),
        "operators.rows_out": (per(plan_sum("rows_out")), "count"),
        "arrow.bytes_to_python": (per(plan_sum("bytes_to_python")), "B"),
        "arrow.bytes_from_python": (per(plan_sum("bytes_from_python")), "B"),
        "arrow.rows_to_python": (per(plan_sum("rows_to_python")), "count"),
        "sinks.write_s": (per(plan_sum("write_s")), "s"),
        "sinks.bytes_written": (per(plan_sum("bytes_written")), "B"),
        "sinks.files_written": (per(plan_sum("files_written")), "count"),
        "pipeline.asset_s": (per(sum(dur(s) for s in kind("asset"))), "s"),
        "pipeline.count_s": (per(sum(dur(s) - s["asset_seconds"] for s in dag_execs)), "s"),
        "pipeline.jobs": (per(stage_sum("jobs", "exec", own=True) if dag_execs else 0), "count"),
        "oracle.checked": (checked, "count"),
        "oracle.mismatches": (mismatches, "count"),
        "trace.overhead_s": (per(tracer.collect_s), "s"),
        "trace.op_s": (per(sum(dur(s) for s in ops)), "s"),
        "trace.op_self_s": (per(sum(s["self_s"] for s in ops)), "s"),
    }


def main() -> int:
    args = _args()
    os.makedirs(RUNS, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS)
    try:
        run = Run(args, run_dir)
        _hermetic_env(run_dir, run.cores, bool(args.trace))
        sys.path.insert(0, ROOT)
        importlib.import_module(PKG)  # fails here when the package is absent
        run.execute()
        if args.trace:
            run.tracer.dump(os.path.join(RUNS, f"trace-{args.workload}-seed{args.seed}.jsonl"))
        result = run.report()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
