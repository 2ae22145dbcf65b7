"""Tests of the benchmark's own code; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402
import lake  # noqa: E402
import oplists  # noqa: E402
import serve  # noqa: E402
import stats  # noqa: E402


def _serve_ops(seed: int, rounds: int = 4) -> list:
    p = oplists.ServePlan(seed)
    return p.warmup() + [op for _ in range(rounds) for op in p.next_round()]


def _lake_ops(seed: int, rounds: int = 3) -> tuple:
    p = oplists.LakePlan(seed)
    seed_rows = p.seed_rows()
    ops = p.warmup() + [op for _ in range(rounds) for op in p.next_round()]
    return seed_rows, ops


def _lake_repr(ops) -> list:
    return [(k, {n: (v.to_pylist() if isinstance(v, pa.Table) else v) for n, v in p.items()})
            for k, p in ops]


# -- operation lists ------------------------------------------------------


def test_same_seed_same_operations():
    assert _serve_ops(7) == _serve_ops(7)
    (r1, o1), (r2, o2) = _lake_ops(7), _lake_ops(7)
    assert r1.equals(r2)
    assert _lake_repr(o1) == _lake_repr(o2)
    assert datagen.tables(7)["lineitem"].equals(datagen.tables(7)["lineitem"])


def test_other_seed_changes_parameters_not_kind_counts():
    a, b = _serve_ops(1), _serve_ops(2)
    assert a != b
    assert collections.Counter((e, t) for e, _, t in a) == collections.Counter(
        (e, t) for e, _, t in b)
    (ra, la), (rb, lb) = _lake_ops(1), _lake_ops(2)
    assert not ra.equals(rb)
    assert _lake_repr(la) != _lake_repr(lb)
    assert collections.Counter(k for k, _ in la) == collections.Counter(k for k, _ in lb)
    assert not datagen.tables(1)["orders"].equals(datagen.tables(2)["orders"])


def test_serve_round_shape():
    p = oplists.ServePlan(3)
    seen = {oplists.request_key(e, kw) for e, kw, _ in p.warmup()}
    for _ in range(6):
        r = p.next_round()
        assert len(r) == oplists.SERVE_ROUND
        tags = collections.Counter(t for _, _, t in r)
        assert tags == {"fresh": oplists.FRESH_PER_ROUND, "shared": 1,
                        "repeat": oplists.REPEATS}
        # every endpoint appears once per plan shape
        fresh = collections.Counter(e for e, _, t in r if t == "fresh")
        assert fresh == oplists.SHAPES
        for e, kw, t in r:
            key = oplists.request_key(e, kw)
            assert (key in seen) == (t in ("repeat", "shared"))
            seen.add(key)


# -- percentile rule --------------------------------------------------------


def test_tail_percentile_keeps_ten_beyond():
    assert stats.tail_percentile(10) == 50
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(30) == 66
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99
    for n in range(20, 500):
        p = stats.tail_percentile(n)
        xs = list(range(n))
        assert sum(1 for x in xs if x > stats.percentile(xs, p)) >= 10
        if p < 99:
            assert sum(1 for x in xs if x > stats.percentile(xs, p + 1)) < 10


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 1) == 1.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# -- printed lines ----------------------------------------------------------


def test_metric_line_round_trip():
    line = stats.metric_line("op_p50_ms", 1234.5678901, "ms")
    assert stats.parse_metric_line(line) == ("op_p50_ms", 1234.5678901, "ms")
    with pytest.raises(ValueError):
        stats.parse_metric_line("spark master=local[4] defaultParallelism=4")


def test_result_line_parses_as_last_line():
    metrics = {"setup_s": (12.3456, "s"), "ops_per_s": (0.75, "1/s")}
    out = "spark master=local[4] defaultParallelism=4\nmetric setup_s 12.3456 s\n"
    out += stats.result_line(True, 20, 0, metrics) + "\n"
    res = stats.parse_result(out)
    assert res == {"correct": True, "attempted": 20, "failed": 0,
                   "metrics": {"setup_s": {"value": 12.3456, "unit": "s"},
                               "ops_per_s": {"value": 0.75, "unit": "1/s"}}}
    bad = json.dumps({"correct": True, "attempted": 1, "metrics": {}})
    with pytest.raises(ValueError):
        stats.parse_result(bad)


def test_cpu_accounting_sees_this_process():
    before = stats.tree_cpu_ticks(os.getpid())
    sum(i * i for i in range(2_000_000))
    after = stats.tree_cpu_ticks(os.getpid())
    assert stats.cpu_seconds_between(before, after) > 0
    assert stats.vm_hwm_kib(os.getpid()) > 0
    assert stats.seconds_since_process_start() > 0


# -- serve checks fail on corrupted answers ---------------------------------


@pytest.fixture(scope="module")
def served(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("serve_data"))
    datagen.write_tables(5, d)
    return d, serve.connect(d)


def _vote_detail(con, vote_id):
    rows = con.execute(serve.VOTE_DETAIL_SQL, {"vote": vote_id}).fetchall()
    return [dict(zip(serve.VOTE_DETAIL_COLS, r)) for r in rows]


def _votes(con, page, **kw):
    params = {"search": kw.get("search", ""), "outcome": kw.get("outcome", ""),
              "topic": kw.get("topic", "")}
    ids = [r[0] for r in con.execute(serve.VOTES_SQL, params).fetchall()]
    per = serve.VOTES_PER_PAGE
    rows = [{"id_hlasovani": i} for i in ids[(page - 1) * per: page * per]]
    return {"rows": rows, "total": len(ids), "page": page, "per_page": per}


def test_serve_checks_accept_right_answers(served):
    _, con = served
    vid = next(v for v in range(100) if _vote_detail(con, v))
    sql = {"query": oplists.SQL_TEMPLATE.format(lo=10, hi=200)}
    sql_rows = [dict(zip(("o_orderpriority", "n", "total"), r))
                for r in con.execute(sql["query"]).fetchall()]
    cases = [
        ("vote_detail", {"vote_id": vid}, _vote_detail(con, vid)),
        ("votes", {"outcome": "A", "page": 2}, _votes(con, 2, outcome="A")),
        ("votes", {"topic": "PROMO", "page": 1}, _votes(con, 1, topic="PROMO")),
        ("votes", {"search": "Customer#000000007", "page": 1},
         _votes(con, 1, search="Customer#000000007")),
        ("sql", sql, sql_rows),
        ("attendance", {"top": 3, "sort": "worst", "party": None},
         [{"attendance_pct": 0.0}, {"attendance_pct": 100.0}]),
        ("similarity", {"top": 2, "cross_party_only": True},
         [{"cosine_sim": -1.0, "group_a": "X", "group_b": "Y"}]),
    ]
    for endpoint, kw, res in cases:
        assert serve.check_response(con, endpoint, kw, res) == [], endpoint


def test_serve_checks_catch_corruption(served):
    _, con = served
    vid = next(v for v in range(100) if len(_vote_detail(con, v)) > 1)
    bad = _vote_detail(con, vid)
    bad[0] = {**bad[0], "party_yes": bad[0]["party_yes"] + 1}
    assert serve.check_response(con, "vote_detail", {"vote_id": vid}, bad)

    res = _votes(con, 1, outcome="R")
    assert serve.check_response(con, "votes", {"outcome": "R", "page": 1},
                                {**res, "total": res["total"] + 1})
    swapped = dict(res, rows=res["rows"][1::-1] + res["rows"][2:])
    errs = serve.check_response(con, "votes", {"outcome": "R", "page": 1}, swapped)
    assert any("descending" in e for e in errs)
    long = dict(res, rows=res["rows"] * 2)
    assert serve.check_response(con, "votes", {"outcome": "R", "page": 1}, long)

    assert serve.check_response(con, "attendance", {"top": 5, "party": None},
                                [{"attendance_pct": 100.5}])
    assert serve.check_response(con, "similarity", {"top": 5, "cross_party_only": False},
                                [{"cosine_sim": 1.2, "group_a": "X", "group_b": "X"}])
    assert serve.check_response(con, "similarity", {"top": 5, "cross_party_only": True},
                                [{"cosine_sim": 0.5, "group_a": "X", "group_b": "X"}])
    sql = {"query": oplists.SQL_TEMPLATE.format(lo=10, hi=200)}
    rows = [dict(zip(("o_orderpriority", "n", "total"), r))
            for r in con.execute(sql["query"]).fetchall()]
    rows[0]["n"] += 1
    assert serve.check_response(con, "sql", sql, rows)


def test_serve_repeat_must_equal_first_answer(served):
    d, _ = served
    kw = {"top": 3, "sort": "worst", "party": None}
    responses = [("attendance", kw, "fresh", [{"attendance_pct": 50.0}]),
                 ("attendance", kw, "repeat", [{"attendance_pct": 51.0}])]
    assert serve.check_all(d, responses)
    assert serve.check_all(d, responses[:1]) == []


# -- lake checks fail on corrupted answers ----------------------------------


def _lake_log():
    """A correct log over a small table: seed, a drain, a delete, an update,
    a merge, reads and a time-travel read, with the program's answer shapes."""
    seed_rows, ops = _lake_ops(11, rounds=0)
    m = lake.Model(seed_rows)
    log, v = [], 2
    snaps = {2: m.agg()}
    for kind, p in ops:
        e = {"kind": kind, "p": p}
        if kind == "drain":
            m.insert(p["rows"])
            v += 1
            e["out"] = [(0, v)]
        elif kind == "delete_where":
            n = m.count(p["predicate"])
            m.con.execute(f"DELETE FROM t WHERE {p['predicate']}")
            v += 1 if n else 0
            e["out"] = (1 if n else 0, n)
        elif kind == "update_where":
            n = m.count(p["predicate"])
            sets = ", ".join(f"{c} = {x}" for c, x in p["set"].items())
            m.con.execute(f"UPDATE t SET {sets} WHERE {p['predicate']}")
            v += 1 if n else 0
            e["out"] = (1 if n else 0, n)
        elif kind == "merge_into":
            m.con.register("s", p["rows"])
            matched = m.con.execute(
                "SELECT count(*) FROM s JOIN t USING (o_orderkey)").fetchone()[0]
            m.con.execute("UPDATE t SET o_totalprice = s.o_totalprice, "
                          "o_orderstatus = s.o_orderstatus FROM s "
                          "WHERE t.o_orderkey = s.o_orderkey")
            m.con.execute("INSERT INTO t SELECT * FROM s WHERE o_orderkey NOT IN "
                          "(SELECT o_orderkey FROM t)")
            v += 1
            e["out"] = {"updated": matched, "inserted": p["rows"].num_rows - matched,
                        "deleted": 0, "files_rewritten": 1}
        elif kind == "point_read":
            e["out"] = m.con.execute(
                f"SELECT * FROM t WHERE o_orderkey = {p['key']}").fetchall()
        elif kind == "range_read":
            e["out"] = m.con.execute(
                f"SELECT * FROM t WHERE o_orderkey BETWEEN {p['lo']} AND {p['hi']}").fetchall()
        elif kind == "time_travel":
            e["read_version"] = max(2, v - p["back"])
            e["out"] = snaps[e["read_version"]]
        elif kind == "compact":
            v += 1
            e["out"] = (3, 1)
        e["version"] = v
        snaps[v] = m.agg()
        log.append(e)
    return seed_rows, log


def test_lake_checks_accept_right_log():
    seed_rows, log = _lake_log()
    errors, _ = lake.check_log(seed_rows, 2, log)
    assert errors == []


def _corrupt(log, kind, fn):
    out = [dict(e) for e in log]
    i = next(i for i, e in enumerate(out) if e["kind"] == kind and fn(e) is not None)
    out[i]["out"] = fn(out[i])
    return out


def test_lake_checks_catch_corruption():
    seed_rows, log = _lake_log()
    cases = {
        "delete_where": lambda e: (e["out"][0], e["out"][1] + 1),
        "update_where": lambda e: (e["out"][0], e["out"][1] + 1) if e["out"][1] else None,
        "merge_into": lambda e: {**e["out"], "inserted": e["out"]["inserted"] - 1},
        "time_travel": lambda e: (e["out"][0] + 1, e["out"][1], e["out"][2]),
        "range_read": lambda e: e["out"][1:] if e["out"] else None,
        "drain": lambda e: e["out"] * 2,
    }
    for kind, fn in cases.items():
        errors, _ = lake.check_log(seed_rows, 2, _corrupt(log, kind, fn))
        assert errors, kind
    point = _corrupt(log, "point_read", lambda e: [(e["p"]["key"], 0, "F", 1.0, None, "x")])
    assert lake.check_log(seed_rows, 2, point)[0]


def test_lake_conservation_rule():
    seed_rows, log = _lake_log()
    # a delete that reports fewer rows than the model removed breaks rows(v)
    bad = _corrupt(log, "delete_where", lambda e: (e["out"][0], e["out"][1] - 1)
                   if e["out"][1] else None)
    errors, _ = lake.check_log(seed_rows, 2, bad)
    assert any("rows" in e and "+" in e for e in errors)


# -- the command without the program ----------------------------------------


def test_run_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".results", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_benchmark_json_names_every_printed_metric():
    import layers
    import run

    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == layers.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
