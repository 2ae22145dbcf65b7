"""The run skeleton both workloads share: environment, Spark session,
the timed closed loop, end-to-end metrics and shutdown."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time
import traceback

import stats
from tracing import Tracer, executor_totals, max_ids, stage_totals

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DRIVER_MEM = "512m"
# Spark confs the benchmark passes on top of the program's session defaults.
SESSION_CONFS = {
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "2000",
    "spark.ui.retainedStages": "2000",
    "spark.ui.retainedTasks": "20000",
    "spark.sql.ui.retainedExecutions": "50",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Harness:
    """One run of one workload; owns the work directory and the session."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer() if trace else None
        self.work = os.path.join(BENCH_DIR, ".work", f"{workload}-{os.getpid()}")
        self.results_dir = os.path.join(BENCH_DIR, ".results")
        self.spark = None
        self.latencies: list[float] = []
        self.kinds: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []  # correctness failures
        self.checked = False  # set once the workload's correctness checks ran
        self._proc = None

    # -- environment and session ----------------------------------------

    def prepare(self) -> None:
        """A fresh, empty work directory inside the checkout."""
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))

    def start(self):
        tmp = os.path.join(self.work, "tmp")
        # Python workers import the program's UDF modules, so the checkout
        # root must be on their path, not only on the driver's.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ.pop("SPARK_GRAFT_CONF", None)
        os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
        from pspcz_analyzer_spark.session import get_spark

        confs = dict(SESSION_CONFS)
        confs["spark.sql.warehouse.dir"] = os.path.join(self.work, "warehouse")
        confs["spark.driver.extraJavaOptions"] = (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.work}"
        )
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        self._proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        sc = self.spark.sparkContext
        self.master = sc.master
        self.parallelism = sc.defaultParallelism
        print(f"spark master={self.master} defaultParallelism={self.parallelism}", flush=True)
        self.note("session started")
        return self.spark

    def note(self, what: str) -> None:
        """Progress on stderr, stamped with seconds since the process started."""
        print(f"[{stats.seconds_since_process_start():7.2f}s] {what}", file=sys.stderr, flush=True)

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self):
        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                gw = self.spark.sparkContext._gateway
                gw.shutdown()
                if self._proc is not None:
                    # the gateway JVM exits when its stdin closes
                    self._proc.stdin.close()
                    try:
                        self._proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        self._proc.kill()
                        self._proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)

    # -- timed phase -------------------------------------------------------

    def timed(self, next_round, execute, min_rounds: int = 2) -> None:
        """Closed loop, one client: run whole rounds until ``seconds`` have
        passed (and at least ``min_rounds``). ``execute(op)`` runs one
        operation; an exception counts it failed."""
        self.setup_s = stats.seconds_since_process_start()
        pid = os.getpid()
        if self.tracer:
            ids0 = max_ids(self.spark)
            ex0 = executor_totals(self.spark)
        cpu0 = stats.tree_cpu_ticks(pid)
        t0 = time.perf_counter()
        rounds = 0
        while rounds < min_rounds or time.perf_counter() - t0 < self.seconds:
            for op in next_round():
                span = None
                if self.tracer:
                    self.tracer.op_id += 1
                    span = self.tracer.begin("op", kind=op[0])
                a = time.perf_counter()
                try:
                    execute(op)
                except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
                    self.failed += 1
                    traceback.print_exc()
                self.latencies.append(time.perf_counter() - a)
                self.note(f"{op[0]} {1000 * self.latencies[-1]:.1f} ms")
                if span is not None:
                    self.tracer.end(span)
                self.kinds.append(op[0])
                self.attempted += 1
            rounds += 1
        self.wall_s = time.perf_counter() - t0
        self.cpu_s = stats.cpu_seconds_between(cpu0, stats.tree_cpu_ticks(pid))
        self.rss_kib = stats.vm_hwm_kib(pid) + stats.vm_hwm_kib(self.jvm_pid())
        self.rounds = rounds
        if self.tracer:
            self.tracer.uninstall()
            self.stage = stage_totals(self.spark, *ids0)
            ex1 = executor_totals(self.spark)
            self.exec_delta = {k: ex1[k] - ex0.get(k, 0.0) for k in ex1}

    # -- metrics -----------------------------------------------------------

    def end_to_end(self, tail_p: int) -> dict[str, tuple[float, str]]:
        return stats.end_to_end(
            self.latencies, self.wall_s, self.cpu_s, self.rss_kib, self.setup_s, tail_p
        )

    def exec_layer(self) -> dict[str, tuple[float, str]]:
        """Spark-side per-layer metrics of the timed phase, per operation,
        plus the cross-check of stage records against executor totals."""
        t, n = self.tracer, self.attempted
        st = self.stage
        # Two independent paths to the same totals must agree.
        for key in ("shuffle_write_bytes", "tasks"):
            if abs(st.get(key, 0.0) - self.exec_delta.get(key, 0.0)) > 0.5:
                self.errors.append(
                    f"{key}: stage records sum to {st.get(key, 0.0)}, executor "
                    f"totals moved by {self.exec_delta.get(key, 0.0)}"
                )
        # plan build: from an operation's start to its first Spark action
        builds = []
        first_action: dict[int, float] = {}
        for s in t.spans:
            if s["name"] in ("collect", "write") and s["op"] not in first_action:
                first_action[s["op"]] = s["start"]
        for s in t.spans:
            if s["name"] == "op" and s["op"] in first_action:
                builds.append(1000.0 * (first_action[s["op"]] - s["start"]))
        phases = t.phases or [{}]
        collects = [s for s in t.spans if s["name"] == "collect"]
        out = {
            "plans.build_ms": (_mean(builds), "ms"),
            "plans.logical_nodes": (_mean(t.logical_nodes), "count"),
            "catalyst.analysis_ms": (_mean([p.get("analysis", 0) for p in phases]), "ms"),
            "catalyst.optimization_ms": (_mean([p.get("optimization", 0) for p in phases]), "ms"),
            "catalyst.planning_ms": (_mean([p.get("planning", 0) for p in phases]), "ms"),
            "collect.ms": (t.self_ms("collect") / max(1, len(collects)), "ms"),
            "collect.rows": (t.collect_rows / max(1, len(collects)), "count"),
            "exec.parallelism": (
                st.get("task_ms", 0.0) / (self.wall_s * 1000.0 * self.parallelism),
                "ratio",
            ),
            "trace.op_p50_ms": (stats.percentile([x * 1000 for x in self.latencies], 50), "ms"),
        }
        units = {"jobs": "count", "stages": "count", "tasks": "count", "task_ms": "ms",
                 "task_cpu_ms": "ms", "gc_ms": "ms", "input_bytes": "bytes",
                 "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
                 "spill_bytes": "bytes"}
        for k, u in units.items():
            out[f"exec.{k}"] = (st.get(k, 0.0) / n, u)
        return out

    def write_trace(self):
        path = os.path.join(
            self.results_dir, f"trace-{self.workload}-seed{self.seed}-{os.getpid()}.json"
        )
        self.tracer.dump(path)
        print(f"trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0
