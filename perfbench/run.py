"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,lake} --seed N --seconds S --trace {0,1}

Runs one workload in this process against the program in the checkout
this file sits in, checks the program's answers, and prints every metric
(one ``metric <name> <value> <unit>`` line each) followed by one JSON
result line. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones. See README.md next to this file.
"""

from __future__ import annotations

import argparse
import os
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.path.insert(1, os.path.dirname(BENCH_DIR))

WORKLOADS = ("serve", "lake")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import pspcz_analyzer_spark  # noqa: F401 — the program under test
    except ImportError as e:
        print(f"perfbench: the program is not importable from the checkout: {e}",
              file=sys.stderr)
        return 2

    import harness
    import layers
    import stats

    workload = __import__(args.workload)
    h = harness.Harness(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        h.prepare()
        metrics = workload.run(h)
    finally:
        h.stop()
    expected = layers.PER_LAYER if args.trace else layers.END_TO_END
    if set(metrics) != set(expected):
        print(f"perfbench: metric set mismatch: {sorted(set(metrics) ^ set(expected))}",
              file=sys.stderr)
        return 3
    if not h.checked:
        print("CHECK FAILED: the correctness checks did not run", file=sys.stderr)
    for err in h.errors:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    print(f"ops attempted={h.attempted} failed={h.failed} rounds={h.rounds} "
          f"tail=p{workload.TAIL_PERCENTILE}")
    for name in expected:
        value, unit = metrics[name]
        print(stats.metric_line(name, value, unit))
    print(stats.result_line(h.checked and not h.errors, h.attempted, h.failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
