"""Run one workload under several seeds and summarise each metric.

    python3 perfbench/repeat.py --workload serve --seeds 1-10 --seconds 10 [--trace 1]

Prints, per metric, the median, the quartiles and the quartile spread as
a share of the median (the figure the bounds in BENCHMARK.json apply to),
plus the wall time of each run. Each run is a fresh process, exactly as
``run.py`` is used on its own.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(results: list[dict]) -> dict[str, dict]:
    out = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {
            "unit": results[0]["metrics"][name]["unit"],
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", help="also write every run's result as JSON lines here")
    args = ap.parse_args()
    root = os.path.dirname(BENCH_DIR)
    results, walls = [], []
    for seed in seeds(args.seeds):
        t = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=root, capture_output=True, text=True, timeout=600,
        )
        walls.append(time.time() - t)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            print(f"seed {seed}: exit {p.returncode}")
            return 1
        res = stats.parse_result(p.stdout)
        res["seed"] = seed
        results.append(res)
        print(f"seed {seed}: wall {walls[-1]:.1f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}", flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(res) + "\n")
    print(f"runs={len(results)} wall median={statistics.median(walls):.1f}s "
          f"max={max(walls):.1f}s")
    for name, s in summarise(results).items():
        print(f"{name:40s} median={s['median']:.4g} q1={s['q1']:.4g} q3={s['q3']:.4g} "
              f"{s['unit']:6s} spread={s['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
