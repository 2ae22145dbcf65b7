"""Serving-latency artifact (r10 verdict stretch ask #8).

The reference's interactive budget (15 s per analysis view, 30 s for
similarity — BASELINE.md) has been graded off bench numbers; this tool
measures the actual serving path: ``QueryService`` method latency at
sf0.1, TTL-cache cold (first call computes through Spark) then warm
(cache hit). FastAPI is not installed in this runtime, so the HTTP
layer cannot be driven end-to-end — the route handlers in
``serving/app.py`` are thin wrappers (parse query params -> call the
same-named service method -> JSONResponse), so service-method latency
IS the endpoint latency minus ASGI overhead (microseconds at this
payload size).

Startup warm-up (table touch + derived vote/steno fixture
materialization — what a serving process does once at boot, and what
the reference pays at its own ingest time) is timed separately as
``startup_warm_sec``. Per endpoint: 1 cold call (``invalidate()`` empties
the TTL cache and drops the service's base-frame registry, so the call
re-reads its tables, materializes the endpoint's parameter-free
aggregate — the cold time includes that materialization — and runs its
tail through Spark), then N warm calls (cache hits); reports cold sec
+ warm p50/p95 ms against the BASELINE.md budgets. Writes
``serving_latency_r11.json`` at the repo root (committed — the
per-round artifact the verdict asked to sit next to the bench JSON)
and prints it.

Usage: python tools/measure_serving_latency.py [sf_dir] [n_warm]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _pctl(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    i = min(len(xs) - 1, max(0, int(round(p / 100 * (len(xs) - 1)))))
    return xs[i]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_warm = int(sys.argv[2]) if len(sys.argv) > 2 else 20

    from pspcz_analyzer_spark.serving.service import QueryService
    from pspcz_analyzer_spark.session import get_spark

    spark = get_spark(app_name="serving_latency")

    # Deployment-time warm-up, reported separately: a serving process
    # materializes the derived vote/steno fixtures ONCE at startup (the
    # reference precomputes its parquet the same way) and spawns the
    # Python UDF workers — per-request latency starts after that.
    t0 = time.time()
    from pspcz_analyzer_spark.catalog import TESTDATA_TABLES, load_table

    for t in TESTDATA_TABLES:
        try:
            load_table(spark, sf_dir, t).limit(1).collect()
        except Exception:
            pass
    try:
        from pspcz_analyzer_spark.plans.documents import (
            ensure_steno_corpus,
            ensure_steno_votes,
        )

        ensure_steno_corpus(spark, sf_dir)
        ensure_steno_votes(spark, sf_dir)
    except Exception:
        pass
    startup_sec = round(time.time() - t0, 3)

    svc = QueryService(spark, sf_dir)

    # The interactive surface: one call per endpoint family, the same
    # argument shapes app.py's routes default to.
    endpoints = {
        "GET /api/loyalty": lambda: svc.loyalty(top=30),
        "GET /api/attendance": lambda: svc.attendance(sort="worst", top=30),
        "GET /api/similarity": lambda: svc.similarity(top=20),
        "GET /api/votes?page=1": lambda: svc.votes(page=1, per_page=20),
        "GET /votes/42": lambda: svc.vote_detail(42),
        "GET /api/laws": lambda: svc.laws(),
        "GET /api/amendments": lambda: svc.amendments(),
        "GET /api/coalitions": lambda: svc.coalitions(),
        "GET /charts/loyalty": lambda: svc.loyalty_chart(top=20),
        "GET /health": lambda: svc.health(),
    }

    budgets = {"GET /api/similarity": 30.0}  # BASELINE.md: similarity 30 s
    default_budget = 15.0

    out: dict[str, dict] = {}
    for name, call in endpoints.items():
        # cold: every cache entry, base frame and materialized aggregate
        # dropped, so the call pays its aggregate's materialization
        svc.invalidate()
        t0 = time.time()
        call()
        cold = time.time() - t0
        warm: list[float] = []
        for _ in range(n_warm):
            t0 = time.time()
            call()
            warm.append((time.time() - t0) * 1000.0)
        budget = budgets.get(name, default_budget)
        out[name] = {
            "cold_sec": round(cold, 3),
            "warm_p50_ms": round(_pctl(warm, 50), 2),
            "warm_p95_ms": round(_pctl(warm, 95), 2),
            "budget_sec": budget,
            "within_budget": cold <= budget,
        }
        print(json.dumps({name: out[name]}), flush=True)

    artifact = {
        "metric": "serving_endpoint_latency",
        "sf_dir": sf_dir,
        "startup_warm_sec": startup_sec,
        "n_warm": n_warm,
        "endpoints": out,
        "all_within_budget": all(v["within_budget"] for v in out.values()),
    }
    path = os.path.join(REPO, "serving_latency_r11.json")
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print("WROTE " + path)
    print(json.dumps(artifact))


if __name__ == "__main__":
    main()
