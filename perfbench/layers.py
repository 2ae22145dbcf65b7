"""Names and units of every metric the benchmark prints."""

from __future__ import annotations

import oplists

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "ops_per_s": "1/s",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "serving.requests": "count",
    "serving.cache_hit_ratio": "ratio",
    "serving.self_ms": "ms",
    "serving.cache_entries": "count",
    **{f"serving.{e}.p50_ms": "ms" for e in oplists.FRESH_ENDPOINTS},
    "serving.hit_p50_ms": "ms",
    "plans.build_ms": "ms",
    "plans.logical_nodes": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.parallelism": "ratio",
    "collect.ms": "ms",
    "collect.rows": "count",
    "manifest.read_manifest_calls": "count",
    "manifest.read_manifest_ms": "ms",
    "manifest.log_bytes": "bytes",
    "manifest.versions": "count",
    "manifest.files_live": "count",
    "manifest.files_read_ratio": "ratio",
    "manifest.files_rewritten": "count",
    "manifest.write_p50_ms": "ms",
    "manifest.read_p50_ms": "ms",
    "manifest.maintenance_ms": "ms",
    "manifest.bytes_written_per_user_byte": "ratio",
    "manifest.bytes_stored_per_user_byte": "ratio",
    "streaming.drain_ms": "ms",
    "streaming.batches": "count",
    "streaming.rows_per_s": "1/s",
    "trace.op_p50_ms": "ms",
}


def idle_layers(*layers: str) -> dict[str, tuple[float, str]]:
    """Zeros for the per-layer metrics of layers a workload never enters."""
    return {k: (0.0, u) for k, u in PER_LAYER.items() if k.split(".")[0] in layers}
