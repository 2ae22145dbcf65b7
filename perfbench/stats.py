"""Latency statistics, process-tree accounting and the result line.

Everything here is plain Python so the benchmark's own tests can pin it
without a Spark session.
"""

from __future__ import annotations

import json
import math
import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
MIN_BEYOND = 10  # a tail percentile needs this many operations above it


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of
    the sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ``MIN_BEYOND`` of ``n``
    operations beyond it. Below ``2 * MIN_BEYOND`` operations no
    percentile above the median qualifies, and the median is returned."""
    for p in range(99, 50, -1):
        if n - math.ceil(p / 100.0 * n) >= MIN_BEYOND:
            return p
    return 50


# -- /proc accounting for the run's own process tree -------------------


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # comm may hold spaces and parentheses; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_cpu_ticks(root: int) -> dict[int, int]:
    """user+system ticks per live process of the tree, each including the
    ticks of children it has already reaped."""
    out = {}
    for pid in descendants(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
        out[pid] = sum(int(x) for x in f[11:15])
    return out


def cpu_seconds_between(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU seconds the tree spent between two ``tree_cpu_ticks`` snapshots;
    a process born in between counts from zero."""
    ticks = sum(t - before.get(pid, 0) for pid, t in after.items())
    return ticks / CLK_TCK


def vm_hwm_kib(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM for pid {pid}")


def seconds_since_process_start() -> float:
    """Wall seconds since this process was started."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


# -- result line --------------------------------------------------------


def end_to_end(latencies_s: list[float], wall_s: float, cpu_s: float,
               rss_kib: int, setup_s: float, tail_p: int) -> dict[str, tuple[float, str]]:
    """The six end-to-end metrics from one timed phase."""
    ms = [x * 1000.0 for x in latencies_s]
    n = len(ms)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (percentile(ms, 50), "ms"),
        "op_tail_ms": (percentile(ms, tail_p), "ms"),
        "ops_per_s": (n / wall_s, "1/s"),
        "cpu_ms_per_op": (cpu_s * 1000.0 / n, "ms"),
        "peak_rss_mb": (rss_kib / 1024.0, "MiB"),
    }


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )


def metric_line(name: str, value: float, unit: str) -> str:
    return f"metric {name} {value!r} {unit}"


def parse_metric_line(line: str) -> tuple[str, float, str]:
    tag, name, value, unit = line.split()
    if tag != "metric":
        raise ValueError(f"not a metric line: {line!r}")
    return name, float(value), unit


def parse_result(stdout: str) -> dict:
    """The result object from a run's standard output (its last line)."""
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if not lines:
        raise ValueError("no output")
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected result keys {sorted(res)}")
    for name, m in res["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"malformed metric {name}: {m}")
    return res
