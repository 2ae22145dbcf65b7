"""Spans and Spark counters for the traced run (``--trace 1``).

The tracer wraps public entry points of the program at run time (the
``QueryService`` endpoints, ``DataFrame.collect``, ``DataFrameWriter``
saves, the manifest read/DML/scan functions and the streaming drain) and
records one span per call: name, start, end, parent span and operation
id. Nothing is written until the run ends. Untraced runs never install it.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = -1
        self.phases: list[dict] = []  # Catalyst phase ms per forced plan
        self.logical_nodes: list[int] = []
        self.collect_rows = 0
        self.manifest_bytes = 0
        self._undo: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------

    def begin(self, name: str, **attrs) -> dict:
        span = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            **attrs,
        }
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()

    def wrap(self, owner: object, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a spanned twin; ``before(args)`` runs
        inside the span ahead of the call, ``after(span, result)`` after it."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span = tracer.begin(name)
            try:
                if before is not None:
                    before(span, args)
                result = orig(*args, **kwargs)
                if after is not None:
                    after(span, result)
                return result
            finally:
                tracer.end(span)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- Spark-side wrappers ------------------------------------------

    def _force_plan(self, span: dict, jdf) -> None:
        """Plan the query before it runs, so Catalyst time is its own span."""
        sub = self.begin("catalyst")
        qe = jdf.queryExecution()
        qe.executedPlan()
        self.end(sub)
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs()
        self.phases.append(phases)
        self.logical_nodes.append(qe.analyzed().treeString().count("\n"))

    def install_spark(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        def rows(span, result):
            span["rows"] = len(result)
            self.collect_rows += len(result)

        self.wrap(DataFrame, "collect", "collect",
                  before=lambda span, a: self._force_plan(span, a[0]._jdf), after=rows)
        for attr in ("parquet", "save"):
            self.wrap(DataFrameWriter, attr, "write",
                      before=lambda span, a: self._force_plan(span, a[0]._df._jdf))

    def install_service(self, service_cls, endpoints) -> None:
        for e in endpoints:
            self.wrap(service_cls, e, f"serving.{e}")

    def install_manifest(self, manifest_mod, lake_mod) -> None:
        def log_bytes(span, args):
            # the version file read_manifest opens: <table>/_manifest/<v>.json
            path, version = args[0], args[1] if len(args) > 1 else None
            mdir = os.path.join(path, "_manifest")
            try:
                names = sorted(n for n in os.listdir(mdir) if n.endswith(".json"))
            except OSError:
                return
            if version is not None:
                names = [n for n in names if n == f"{version:08d}.json"]
            if names:
                self.manifest_bytes += os.path.getsize(os.path.join(mdir, names[-1]))

        self.wrap(manifest_mod, "read_manifest", "manifest.read_manifest", before=log_bytes)
        for fn in ("append", "delete_where", "update_where", "merge_into",
                   "compact_small_files", "scan_auto", "load_manifest_table"):
            self.wrap(manifest_mod, fn, f"manifest.{fn}")
        self.wrap(lake_mod, "stream_append_manifest", "streaming.stream_append_manifest")

    # -- summaries ----------------------------------------------------

    def self_ms(self, prefix: str) -> float:
        """Total self time of spans whose name starts with ``prefix``:
        each span's duration less the part its direct children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return 1000.0 * sum(
            (s["end"] - s["start"]) - child[i]
            for i, s in enumerate(self.spans)
            if s["name"].startswith(prefix)
        )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "catalyst_phases": self.phases}, f)


# -- status-store counters ------------------------------------------------


def _jlist(spark):
    return spark._jvm.java.util.ArrayList()


def wait_listener(spark) -> None:
    """Let the listener bus deliver every pending event to the status store."""
    spark._jsc.sc().listenerBus().waitUntilEmpty()


def executor_totals(spark) -> dict[str, float]:
    wait_listener(spark)
    tot = defaultdict(float)
    ex = spark._jsc.sc().statusStore().executorList(False)
    for i in range(ex.size()):
        e = ex.apply(i)
        tot["task_ms"] += e.totalDuration()
        tot["gc_ms"] += e.totalGCTime()
        tot["input_bytes"] += e.totalInputBytes()
        tot["shuffle_read_bytes"] += e.totalShuffleRead()
        tot["shuffle_write_bytes"] += e.totalShuffleWrite()
        tot["tasks"] += e.totalTasks()
    return dict(tot)


def _records(spark):
    wait_listener(spark)
    ss = spark._jsc.sc().statusStore()
    no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    jobs = ss.jobsList(_jlist(spark))
    stages = ss.stageList(_jlist(spark), False, False, no_quantiles, _jlist(spark))
    return (
        [jobs.apply(i) for i in range(jobs.size())],
        [stages.apply(i) for i in range(stages.size())],
    )


def max_ids(spark) -> tuple[int, int]:
    """(highest job id, highest stage id) recorded so far, -1 if none."""
    jobs, stages = _records(spark)
    return (
        max((j.jobId() for j in jobs), default=-1),
        max((s.stageId() for s in stages), default=-1),
    )


def stage_totals(spark, after_job: int, after_stage: int) -> dict[str, float]:
    """Sums over the jobs and stages recorded after the given ids."""
    jobs, stages = _records(spark)
    tot = defaultdict(float)
    tot["jobs"] = sum(1 for j in jobs if j.jobId() > after_job)
    for st in stages:
        if st.stageId() <= after_stage or st.status().toString() == "SKIPPED":
            continue
        tot["stages"] += 1
        tot["tasks"] += st.numCompleteTasks()
        tot["task_ms"] += st.executorRunTime()
        tot["task_cpu_ms"] += st.executorCpuTime() / 1e6
        tot["gc_ms"] += st.jvmGcTime()
        tot["input_bytes"] += st.inputBytes()
        tot["shuffle_read_bytes"] += st.shuffleReadBytes()
        tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
        tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return dict(tot)
