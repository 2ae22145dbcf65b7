"""``serve``: one closed-loop client calling ``QueryService`` endpoints.

Every fresh request makes the service build and collect a plan over the
same derived base tables; one request in five is served from its TTL
cache. After the timed phase every response is checked against DuckDB
over the same Parquet files, with SQL written here, and against
properties the endpoints promise.
"""

from __future__ import annotations

import os

import duckdb

import datagen
import oplists
import stats
from layers import idle_layers

# Vote code per lineitem row: the project's MP-vote convention on the
# TPC-H-ish tables (MP = supplier, vote = order).
VOTE_CODE = """CASE WHEN l_returnflag = 'A' THEN 'A'
                    WHEN l_returnflag = 'R' THEN 'B'
                    WHEN l_linestatus = 'O' THEN 'C'
                    WHEN l_linenumber % 3 = 0 THEN 'F'
                    WHEN l_linenumber % 3 = 1 THEN '@'
                    ELSE 'M' END"""

VOTE_DETAIL_SQL = f"""
WITH mv AS (SELECT l_suppkey AS id_poslanec, {VOTE_CODE} AS vysledek
            FROM lineitem WHERE l_orderkey = $vote),
info AS (SELECT s_suppkey AS id_poslanec, s_name AS jmeno, n_name AS party
         FROM supplier JOIN nation ON s_nationkey = n_nationkey)
SELECT id_poslanec, jmeno, party, vysledek,
       sum(CASE WHEN vysledek = 'A' THEN 1 ELSE 0 END) OVER (PARTITION BY party),
       sum(CASE WHEN vysledek = 'B' THEN 1 ELSE 0 END) OVER (PARTITION BY party),
       count(*) OVER (PARTITION BY party),
       count(*) OVER ()
FROM mv JOIN info USING (id_poslanec)
"""
VOTE_DETAIL_COLS = ("id_poslanec", "jmeno", "party", "vysledek",
                    "party_yes", "party_no", "party_total", "vote_total")

VOTES_SQL = f"""
WITH codes AS (SELECT l_orderkey AS id, {VOTE_CODE} AS code FROM lineitem),
tallies AS (SELECT id, sum(CASE WHEN code = 'A' THEN 1 ELSE 0 END) AS pro,
                       sum(CASE WHEN code = 'B' THEN 1 ELSE 0 END) AS proti
            FROM codes GROUP BY id)
SELECT o.o_orderkey AS id
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
JOIN tallies t ON t.id = o.o_orderkey
WHERE o.o_orderstatus <> 'P'
  AND ($search = '' OR contains(lower(c.c_name), lower($search))
                    OR contains(lower(o.o_orderpriority), lower($search)))
  AND ($outcome = '' OR (CASE WHEN t.pro > t.proti THEN 'A' ELSE 'R' END) = $outcome)
  AND ($topic = '' OR o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE contains(lower(p_type), lower($topic))))
ORDER BY id DESC
"""

# One round is ~20 s of requests on a 4-core box, and the whole run must
# stay near a minute; with 20 requests the tail percentile is the median.
MIN_ROUNDS = 1
TAIL_PERCENTILE = stats.tail_percentile(MIN_ROUNDS * oplists.SERVE_ROUND)
VOTES_PER_PAGE = 30
LAWS_PER_PAGE = 20


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in datagen.SIZES.keys() | {"region", "nation"}:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def _multiset(rows) -> list:
    return sorted((tuple(_norm(x) for x in r) for r in rows), key=repr)


def check_response(con, endpoint: str, kw: dict, res) -> list[str]:
    """Errors in one response; an empty list when it is right."""
    err = []
    where = f"{endpoint}({kw})"
    if endpoint == "vote_detail":
        want = con.execute(VOTE_DETAIL_SQL, {"vote": kw["vote_id"]}).fetchall()
        got = [tuple(r[c] for c in VOTE_DETAIL_COLS) for r in res]
        if _multiset(got) != _multiset(want):
            err.append(f"{where}: rows differ from DuckDB ({len(got)} vs {len(want)})")
    elif endpoint == "votes":
        params = {"search": kw.get("search", ""), "outcome": kw.get("outcome", ""),
                  "topic": kw.get("topic", "")}
        ids = [r[0] for r in con.execute(VOTES_SQL, params).fetchall()]
        if res["total"] != len(ids):
            err.append(f"{where}: total {res['total']} != DuckDB {len(ids)}")
        got = [r["id_hlasovani"] for r in res["rows"]]
        page = res["page"]
        if got != ids[(page - 1) * VOTES_PER_PAGE : page * VOTES_PER_PAGE]:
            err.append(f"{where}: page ids differ from DuckDB")
        if len(got) > res["per_page"]:
            err.append(f"{where}: {len(got)} rows on a page of {res['per_page']}")
        if any(a <= b for a, b in zip(got, got[1:])):
            err.append(f"{where}: ids not strictly descending")
    elif endpoint == "attendance":
        if len(res) > kw["top"]:
            err.append(f"{where}: {len(res)} rows > top")
        if any(not 0.0 <= r["attendance_pct"] <= 100.0 for r in res):
            err.append(f"{where}: attendance_pct outside [0, 100]")
    elif endpoint == "loyalty":
        if len(res) > kw["top"]:
            err.append(f"{where}: {len(res)} rows > top")
        if any(not 0.0 <= r["rebellion_pct"] <= 100.0 for r in res):
            err.append(f"{where}: rebellion_pct outside [0, 100]")
        if kw["party"] is not None and any(r["party"] != kw["party"] for r in res):
            err.append(f"{where}: row of another party")
    elif endpoint == "similarity":
        if len(res) > kw["top"]:
            err.append(f"{where}: {len(res)} rows > top")
        if any(not -1.0 - 1e-9 <= r["cosine_sim"] <= 1.0 + 1e-9 for r in res):
            err.append(f"{where}: cosine outside [-1, 1]")
        if kw["cross_party_only"] and any(r["group_a"] == r["group_b"] for r in res):
            err.append(f"{where}: same-party pair in a cross-party answer")
    elif endpoint in ("laws", "amendments"):
        if len(res) > LAWS_PER_PAGE:
            err.append(f"{where}: {len(res)} rows on a page of {LAWS_PER_PAGE}")
        if len({r["total_hits"] for r in res}) > 1:
            err.append(f"{where}: rows disagree on total_hits")
    elif endpoint == "sql":
        want = con.execute(kw["query"]).fetchall()
        got = [tuple(r.values()) for r in res]
        if _multiset(got) != _multiset(want):
            err.append(f"{where}: rows differ from DuckDB")
    elif endpoint == "coalitions":
        if any(not 0.0 <= r["cohesion"] <= 1.0 for r in res["cohesion"]):
            err.append(f"{where}: cohesion outside [0, 1]")
    return err


def check_all(data_dir: str, responses) -> list[str]:
    """Check every response; a repeated request must equal its first answer."""
    con = connect(data_dir)
    first: dict[str, object] = {}
    errors = []
    for endpoint, kw, _tag, res in responses:
        key = oplists.request_key(endpoint, kw)
        if key in first:
            if res != first[key]:
                errors.append(f"{endpoint}({kw}): repeat differs from first answer")
            continue
        first[key] = res
        errors.extend(check_response(con, endpoint, kw, res))
    con.close()
    return errors


def run(h) -> dict[str, tuple[float, str]]:
    from pspcz_analyzer_spark.serving.service import QueryService

    data_dir = os.path.join(h.work, "data")
    datagen.write_tables(h.seed, data_dir)
    spark = h.start()
    svc = QueryService(spark, data_dir)
    plan = oplists.ServePlan(h.seed)
    for endpoint, kw, _tag in plan.warmup():
        getattr(svc, endpoint)(**kw)
        h.note(f"warm-up {endpoint}")

    responses = []
    tags = []  # per timed request, aligned with h.latencies
    misses = []  # per request: Spark computations it caused

    def execute(op):
        endpoint, kw, tag = op
        tags.append(tag)
        before = svc.compute_calls
        res = getattr(svc, endpoint)(**kw)
        misses.append(svc.compute_calls - before + (endpoint == "sql"))
        responses.append((endpoint, kw, tag, res))

    t = h.tracer
    if t:
        t.install_spark()
        t.install_service(QueryService, oplists.ENDPOINTS)
    h.timed(plan.next_round, execute, MIN_ROUNDS)
    # every response that arrived; a failed request left none
    h.errors.extend(check_all(data_dir, responses))
    h.checked = True

    metrics = h.end_to_end(TAIL_PERCENTILE)
    if not t:
        return metrics
    layer = h.exec_layer()
    n = h.attempted
    layer["serving.requests"] = (float(n), "count")
    layer["serving.cache_hit_ratio"] = (sum(1 for m in misses if m == 0) / n, "ratio")
    layer["serving.self_ms"] = (t.self_ms("serving.") / n, "ms")
    layer["serving.cache_entries"] = (float(svc.health()["cache"]["entries"]), "count")
    # plan work per endpoint: fresh requests only; cache hits on their own
    for e in oplists.FRESH_ENDPOINTS:
        lat = [x * 1000 for x, k, g in zip(h.latencies, h.kinds, tags)
               if k == e and g == "fresh"]
        layer[f"serving.{e}.p50_ms"] = (stats.percentile(lat, 50), "ms")
    hits = [x * 1000 for x, g in zip(h.latencies, tags) if g != "fresh"]
    layer["serving.hit_p50_ms"] = (stats.percentile(hits, 50), "ms")
    h.write_trace()
    return {**layer, **idle_layers("manifest", "streaming")}



