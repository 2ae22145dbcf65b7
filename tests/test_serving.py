"""Serving-layer tests: TTL cache semantics with an injected clock, the
QueryService facade (caching, params, invalidation), import-gated HTTP app."""

from __future__ import annotations

import pytest

from pspcz_analyzer_spark.serving.cache import TTLCache
from pspcz_analyzer_spark.serving.service import QueryService

SF_DIR = "/root/testdata/sf0.001"


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class TestTTLCache:
    def test_hit_within_ttl(self):
        clk = FakeClock()
        c = TTLCache(ttl_seconds=10, clock=clk)
        calls = []
        assert c.get_or_compute("k", lambda: calls.append(1) or "v") == "v"
        clk.t = 9.9
        assert c.get_or_compute("k", lambda: calls.append(1) or "v2") == "v"
        assert len(calls) == 1

    def test_expiry(self):
        clk = FakeClock()
        c = TTLCache(ttl_seconds=10, clock=clk)
        c.get_or_compute("k", lambda: "old")
        clk.t = 10.1
        assert c.get_or_compute("k", lambda: "new") == "new"

    def test_prefix_invalidation(self):
        c = TTLCache(ttl_seconds=100)
        c.get_or_compute("loyalty:1", lambda: 1)
        c.get_or_compute("loyalty:2", lambda: 2)
        c.get_or_compute("attendance:1", lambda: 3)
        assert c.invalidate_prefix("loyalty:") == 2
        assert c.get_or_compute("attendance:1", lambda: 99) == 3
        assert c.get_or_compute("loyalty:1", lambda: 42) == 42

    def test_lru_bound(self):
        from pspcz_analyzer_spark.serving.cache import MAX_ENTRIES

        c = TTLCache(ttl_seconds=100)
        for i in range(MAX_ENTRIES):
            c.get_or_compute(f"k{i}", lambda i=i: i)
        assert c.get_or_compute("k0", lambda: "recomputed") == 0  # hit
        c.get_or_compute("overflow", lambda: -1)
        assert len(c) == MAX_ENTRIES
        assert c.get_or_compute("k0", lambda: "recomputed") == 0
        assert c.get_or_compute("k1", lambda: "recomputed") == "recomputed"

    def test_expired_entry_dropped_on_lookup(self):
        clk = FakeClock()
        c = TTLCache(ttl_seconds=10, clock=clk)
        c.get_or_compute("k", lambda: "old")
        clk.t = 10.1

        def fail():
            raise RuntimeError("query failed")

        with pytest.raises(RuntimeError):
            c.get_or_compute("k", fail)
        assert len(c) == 0


class TestQueryService:
    @pytest.fixture()
    def svc(self, spark):
        return QueryService(spark, SF_DIR, ttl_seconds=3600)

    def test_attendance_rows_and_cache(self, svc):
        rows = svc.attendance(top=5)
        assert len(rows) == 5
        assert {"id_poslanec", "attendance_pct", "party"} <= set(rows[0])
        again = svc.attendance(top=5)
        assert again == rows
        assert svc.compute_calls == 1  # second call was a cache hit

    def test_distinct_params_distinct_keys(self, svc):
        svc.attendance(top=3)
        svc.attendance(top=4)
        assert svc.compute_calls == 2

    def test_loyalty_party_filter(self, svc):
        rows = svc.loyalty(top=None, party="nation_3")  # case-insensitive
        assert rows and all(r["party"] == "NATION_3" for r in rows)

    def test_generic_query_endpoint(self, svc):
        rows = svc.query("q5_nation_revenue")
        assert rows and set(rows[0]) == {"n_name", "revenue"}

    def test_unknown_query_raises(self, svc):
        with pytest.raises(KeyError):
            svc.query("nope")

    def test_raw_sql_surface(self, svc):
        rows = svc.sql(
            "SELECT o_orderstatus, count(*) AS n FROM orders "
            "GROUP BY o_orderstatus ORDER BY o_orderstatus"
        )
        assert rows and {"o_orderstatus", "n"} == set(rows[0])
        assert sum(r["n"] for r in rows) == svc.sql("SELECT count(*) AS c FROM orders")[0]["c"]

    def test_raw_sql_row_cap(self, svc):
        rows = svc.sql("SELECT l_orderkey FROM lineitem", max_rows=7)
        assert len(rows) == 7

    def test_raw_sql_events_readable(self, svc):
        # events must arrive through the nanos-fixed catalog path.
        rows = svc.sql("SELECT min(ts) AS t FROM events")
        assert rows[0]["t"].year == 2024

    def test_invalidate_forces_recompute(self, svc):
        svc.attendance(top=2)
        svc.invalidate("attendance:")
        svc.attendance(top=2)
        assert svc.compute_calls == 2


class TestRateLimiter:
    def test_burst_then_blocked(self):
        from pspcz_analyzer_spark.serving.rate_limit import RateLimiter

        clk = FakeClock()
        rl = RateLimiter(limit=3, per_seconds=60, clock=clk)
        assert [rl.allow("u1") for _ in range(4)] == [True, True, True, False]

    def test_replenishes_over_time(self):
        from pspcz_analyzer_spark.serving.rate_limit import RateLimiter

        clk = FakeClock()
        rl = RateLimiter(limit=60, per_seconds=60, clock=clk)
        for _ in range(60):
            assert rl.allow("u1")
        assert not rl.allow("u1")
        clk.t = 2.0  # 2 s => 2 tokens back
        assert rl.allow("u1") and rl.allow("u1") and not rl.allow("u1")

    def test_keys_independent(self):
        from pspcz_analyzer_spark.serving.rate_limit import RateLimiter

        clk = FakeClock()
        rl = RateLimiter(limit=1, per_seconds=60, clock=clk)
        assert rl.allow("a") and not rl.allow("a")
        assert rl.allow("b")


def test_http_app_import_gated(spark):
    from pspcz_analyzer_spark.serving.app import create_app

    svc = QueryService(spark, SF_DIR)
    try:
        import fastapi  # noqa: F401

        app = create_app(svc)
        routes = {r.path for r in app.routes}
        assert "/api/attendance" in routes and "/api/loyalty" in routes
    except ImportError:
        with pytest.raises(ImportError, match="fastapi"):
            create_app(svc)


def test_endpoint_rate_limit_classes():
    """Route-class mapping feeding the HTTP middleware (reference slowapi
    envelope: 60/min analysis, 120/min browse, 30/min charts)."""
    from pspcz_analyzer_spark.serving.app import RATE_LIMITS, classify_endpoint

    assert RATE_LIMITS == {"analysis": 60, "browse": 120, "charts": 30}
    assert classify_endpoint("/charts/loyalty") == "charts"
    assert classify_endpoint("/api/laws") == "browse"
    assert classify_endpoint("/api/query/q5_nation_revenue") == "browse"
    assert classify_endpoint("/votes/42") == "browse"
    assert classify_endpoint("/api/loyalty") == "analysis"
    assert classify_endpoint("/api/amendment-coalitions") == "analysis"


class TestServingRoutesRound3:
    @pytest.fixture()
    def svc(self, spark):
        return QueryService(spark, SF_DIR, ttl_seconds=3600)

    def test_similarity_topk(self, svc):
        rows = svc.similarity(top=5)
        assert len(rows) == 5
        sims = [r["cosine_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r["group_a"] != r["group_b"] for r in rows)

    def test_vote_detail_tallies_consistent(self, svc):
        rows = svc.vote_detail(42)
        assert rows, "vote 42 exists in testdata"
        total = rows[0]["vote_total"]
        assert total == len(rows)
        by_party = {}
        for r in rows:
            by_party.setdefault(r["party"], []).append(r)
        for party, prows in by_party.items():
            yes = sum(1 for r in prows if r["vysledek"] == "A")
            assert prows[0]["party_yes"] == yes
            assert prows[0]["party_total"] == len(prows)

    def test_laws_filters_and_pagination(self, svc):
        page1 = svc.laws(status="O", priorities=["1-URGENT"], page=1, per_page=10)
        assert len(page1) <= 10
        assert all(r["o_orderpriority"] == "1-URGENT" for r in page1)
        if page1:
            total = page1[0]["total_hits"]
            page2 = svc.laws(
                status="O", priorities=["1-URGENT"], page=2, per_page=10
            )
            ids1 = {r["o_orderkey"] for r in page1}
            ids2 = {r["o_orderkey"] for r in page2}
            assert not ids1 & ids2  # disjoint pages
            assert all(r["total_hits"] == total for r in page2)

    def test_laws_search_param(self, svc):
        rows = svc.laws(search="customer#00000001", per_page=50)
        assert all("1" in r["c_name"].lower() for r in rows)

    def test_amendments_listing_and_pagination(self, svc):
        page1 = svc.amendments(page=1, per_page=10)
        assert len(page1) == 10
        assert {"doc_id", "seq", "letter", "match_kind", "total_hits"} <= set(
            page1[0]
        )
        total = page1[0]["total_hits"]
        page2 = svc.amendments(page=2, per_page=10)
        assert {(r["doc_id"], r["seq"]) for r in page1}.isdisjoint(
            {(r["doc_id"], r["seq"]) for r in page2}
        )
        assert all(r["total_hits"] == total for r in page2)
        # Cache: same params -> no recompute.
        before = svc.compute_calls
        assert svc.amendments(page=1, per_page=10) == page1
        assert svc.compute_calls == before

    def test_amendments_search_filters_submitters(self, svc):
        # Letter submitters are supplier names at every test scale; the
        # search is diacritic-folded and case-insensitive.
        rows = svc.amendments(search="SUPPLIER#", per_page=100)
        assert rows, "matched amendments carry supplier submitters"
        assert all("supplier#" in r["submitters"].lower() for r in rows)
        unmatched = svc.amendments(search="no-such-submitter", per_page=10)
        assert unmatched == []

    def test_coalitions_shape_and_cache(self, svc):
        out = svc.coalitions()
        assert set(out) == {"cohesion", "pair_agreement"}
        assert {"party", "cohesion", "amendment_cohesion"} <= set(
            out["cohesion"][0]
        )
        assert {"party", "party_b", "agreement_rate"} <= set(
            out["pair_agreement"][0]
        )
        before = svc.compute_calls
        again = svc.coalitions()
        assert again == out
        assert svc.compute_calls == before  # both parts cache-hit


class TestQueryBudget:
    def test_budget_cancels_runaway_query(self, spark):
        """A query past the compute budget is cancelled via its job group
        (the reference's 15 s -> 503 contract) and the session stays
        healthy for the next query."""
        import time

        from pspcz_analyzer_spark.serving.service import QueryTimeoutError

        svc = QueryService(spark, SF_DIR, ttl_seconds=3600, budget_seconds=2.0)

        def runaway():
            # Many-task shape (the realistic scale-out case — cancellation
            # lands at task boundaries): 64 partitions x 2 s each would be
            # ~32 s on local[4] if left to finish.
            def slow(batches):
                import time as t

                for b in batches:
                    t.sleep(2)
                    yield b

            return spark.range(0, 64, 1, 64).mapInPandas(slow, "id long")

        t0 = time.time()
        with pytest.raises(QueryTimeoutError):
            svc._cached("runaway", runaway)
        assert time.time() - t0 < 25  # cancelled, not run to completion
        # Session unharmed; a normal query still serves (relax the budget —
        # this asserts session health, not cold-start latency).
        svc.budget_seconds = 60.0
        assert len(svc.attendance(top=3)) == 3

    def test_budget_allows_fast_queries(self, spark):
        svc = QueryService(spark, SF_DIR, ttl_seconds=3600, budget_seconds=30.0)
        assert len(svc.loyalty(top=3)) == 3


def test_rate_limiter_evicts_refilled_buckets():
    """State stays bounded under unbounded distinct clients, and eviction
    never changes an allow() outcome (a fully-refilled bucket behaves
    exactly like an absent key)."""
    from pspcz_analyzer_spark.serving.rate_limit import RateLimiter

    clk = FakeClock()
    rl = RateLimiter(limit=2, per_seconds=2.0, clock=clk, max_keys=10)
    for i in range(10):  # fill the table with drained buckets
        assert rl.allow(f"c{i}")
    clk.t = 100.0  # every bucket fully refills
    assert rl.allow("fresh")  # crossing max_keys triggers the sweep
    assert len(rl._state) <= 2  # old refilled buckets gone
    # A partially-drained bucket must survive the sweep.
    assert rl.allow("busy") and rl.allow("busy")
    assert not rl.allow("busy")  # drained at t=100
    for i in range(20):
        rl.allow(f"d{i}")
    assert not rl.allow("busy")  # still drained after more inserts


class TestVotesBrowser:
    """The reference's most-used page (votes_service.py:160-230): votes
    listing with void exclusion, diacritic-insensitive search, outcome
    and topic filters, newest-first offset pagination, page dict shape."""

    @pytest.fixture()
    def svc(self, spark):
        return QueryService(spark, SF_DIR, ttl_seconds=3600)

    def test_page_shape_and_ordering(self, svc):
        out = svc.votes(page=1, per_page=10)
        assert set(out) == {"rows", "total", "page", "per_page", "total_pages"}
        assert len(out["rows"]) == 10 and out["total"] > 10
        ids = [r["id_hlasovani"] for r in out["rows"]]
        assert ids == sorted(ids, reverse=True)  # newest (highest id) first
        row = out["rows"][0]
        for k in ("datum", "nazev_dlouhy", "vysledek", "pro", "proti",
                  "zdrzel", "nehlasoval", "prihlaseno"):
            assert k in row
        assert "total_hits" not in row
        # page 2 continues strictly below page 1's keys
        out2 = svc.votes(page=2, per_page=10)
        assert max(r["id_hlasovani"] for r in out2["rows"]) < min(ids)

    def test_void_votes_excluded(self, svc, spark):
        from pspcz_analyzer_spark.plans.voting import derive_void_votes

        voids = {
            r[0] for r in derive_void_votes(spark, SF_DIR).collect()
        }
        out = svc.votes(page=1, per_page=200)
        assert not ({r["id_hlasovani"] for r in out["rows"]} & voids)

    def test_outcome_filter(self, svc):
        out = svc.votes(outcome="A", page=1, per_page=50)
        assert out["rows"] and all(
            r["vysledek"] == "A" and r["pro"] > r["proti"]
            for r in out["rows"]
        )

    def test_search_is_diacritic_insensitive(self, svc):
        # o_comment text is ASCII; a diacritic-laden query must still hit
        # the folded form (P6 semantics): "régulár" -> "regular".
        plain = svc.votes(search="urgent", per_page=5)
        folded = svc.votes(search="úrgent", per_page=5)
        assert plain["total"] > 0
        assert folded["total"] == plain["total"]

    def test_topic_semi_join_filters(self, svc):
        allv = svc.votes(per_page=1)["total"]
        topical = svc.votes(topic="PROMO", per_page=1)
        assert 0 < topical["total"] < allv
        none = svc.votes(topic="NOSUCHTYPEWORD", per_page=1)
        assert none["total"] == 0 and none["rows"] == []

    def test_out_of_range_page_clamps_to_last(self, svc):
        """ADVICE r07 reference parity (votes_service.list_votes): page
        clamps into [1, total_pages] — an out-of-range request returns
        the LAST page with its rows, never an empty page echoing the
        unclamped number."""
        first = svc.votes(page=1, per_page=10)
        last_page = first["total_pages"]
        out = svc.votes(page=last_page + 50, per_page=10)
        assert out["page"] == last_page
        assert out["rows"]  # the last page's rows, not empty
        expected_tail = first["total"] - (last_page - 1) * 10
        assert len(out["rows"]) == expected_tail
        # below-range clamps to 1
        under = svc.votes(page=0, per_page=10)
        assert under["page"] == 1 and len(under["rows"]) == 10

    def test_cache_key_covers_params(self, svc):
        svc.votes(search="a", page=1)
        n = svc.compute_calls
        svc.votes(search="a", page=1)  # hit
        assert svc.compute_calls == n
        svc.votes(search="b", page=1)  # different param -> miss
        assert svc.compute_calls == n + 1


class TestHealthEndpoint:
    @pytest.fixture()
    def svc(self, spark):
        return QueryService(spark, SF_DIR, ttl_seconds=3600)

    def test_health_shape_and_liveness(self, svc):
        h = svc.health()
        assert h["status"] == "ok"
        assert h["spark"]["alive"] is True and h["spark"]["app_id"]
        assert h["sf_dir"] == SF_DIR
        # Every testdata table inventoried with freshness metadata.
        from pspcz_analyzer_spark.catalog import TESTDATA_TABLES

        assert set(h["tables"]) == set(TESTDATA_TABLES)
        assert all(
            v is None or ("bytes" in v and "modified_at" in v)
            for v in h["tables"].values()
        )
        assert h["tables"]["orders"]["bytes"] > 0
        assert h["data_age_seconds"] is not None
        assert "cache" in h and "compute_calls" in h["cache"]

    def test_health_reports_manifest_versions(self, svc, spark, tmp_path):
        import pspcz_analyzer_spark.manifest as M
        from pspcz_analyzer_spark.scratch import scratch_path

        p = scratch_path(SF_DIR, "health_probe_tbl")
        import shutil

        shutil.rmtree(p, ignore_errors=True)
        spark.range(5).write.parquet(p)
        M.manifest_init(p)
        h = svc.health()
        import os

        name = os.path.basename(p)
        assert h["manifest_versions"].get(name) == 1
        shutil.rmtree(p, ignore_errors=True)

    def test_health_is_metadata_only(self, svc, spark, monkeypatch):
        # No Spark job may run: the endpoint must answer under load.
        from pyspark.sql.classic.dataframe import DataFrame as _DF

        def boom(self_df):
            raise AssertionError("health() ran a Spark job")

        monkeypatch.setattr(_DF, "collect", boom)
        h = svc.health()
        assert h["status"] == "ok"


class TestLakeDetailEndpoint:
    @pytest.fixture()
    def svc(self, spark):
        return QueryService(spark, SF_DIR, ttl_seconds=3600)

    def test_describe_detail_shape(self, svc, spark):
        import os
        import shutil

        import pyspark.sql.functions as F

        import pspcz_analyzer_spark.manifest as M
        from pspcz_analyzer_spark.scratch import scratch_path

        p = scratch_path(SF_DIR, "lake_detail_tbl")
        shutil.rmtree(p, ignore_errors=True)
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g")
        ).coalesce(1).write.parquet(p)
        M.manifest_init(p)
        M.set_constraint(spark, p, "k_pos", "k >= 0")
        M.create_tag(p, "baseline")
        M.stage_append(
            spark.range(100, 103).select(
                F.col("id").alias("k"), F.lit(0).cast("bigint").alias("g")
            ),
            p, "pending_wave",
        )
        try:
            name = os.path.basename(p)
            d = svc.lake_detail(name)
            assert d["name"] == name
            assert d["version"] >= 2  # init + constraint
            assert d["committed_at"] is not None  # in-commit ts
            assert dict(map(tuple, d["schema"])) == {"k": "bigint", "g": "bigint"}
            assert d["protocol"]["writer"] == 2  # constraint present
            assert d["tags"] == {"baseline": 2}  # tagged at current (v2)
            assert list(d["staged_refs"]) == ["pending_wave"]
            assert d["history_tail"][-1]["version"] == d["version"]
        finally:
            shutil.rmtree(p, ignore_errors=True)

    def test_unknown_name_raises_keyerror_never_reads_paths(self, svc):
        with pytest.raises(KeyError):
            svc.lake_detail("../../etc")

    def test_lake_detail_is_metadata_only(self, svc, spark, monkeypatch):
        import os
        import shutil

        import pspcz_analyzer_spark.manifest as M
        from pspcz_analyzer_spark.scratch import scratch_path
        from pyspark.sql.classic.dataframe import DataFrame as _DF

        p = scratch_path(SF_DIR, "lake_detail_meta")
        shutil.rmtree(p, ignore_errors=True)
        spark.range(5).write.parquet(p)
        M.manifest_init(p)

        def boom(self_df):
            raise AssertionError("lake_detail() ran a Spark job")

        monkeypatch.setattr(_DF, "collect", boom)
        try:
            d = svc.lake_detail(os.path.basename(p))
            assert d["version"] == 1
        finally:
            shutil.rmtree(p, ignore_errors=True)


class TestLakeEstimateEndpoint:
    @pytest.fixture()
    def svc(self, spark):
        return QueryService(spark, SF_DIR, ttl_seconds=3600)

    def test_estimate_prunes_and_is_metadata_only(
        self, svc, spark, monkeypatch
    ):
        import os
        import shutil

        import pyspark.sql.functions as F

        import pspcz_analyzer_spark.manifest as M
        from pspcz_analyzer_spark.jobs import write_range_sorted
        from pspcz_analyzer_spark.scratch import scratch_path
        from pyspark.sql.classic.dataframe import DataFrame as _DF

        p = scratch_path(SF_DIR, "lake_est_tbl")
        shutil.rmtree(p, ignore_errors=True)
        df = spark.range(4_000).select(
            F.col("id").alias("k"), (F.col("id") % 9).alias("g")
        )
        write_range_sorted(df, p, "k", num_partitions=8)
        M.manifest_init(p, stat_cols=["k"])

        def boom(self_df):
            raise AssertionError("lake_estimate() ran a Spark job")

        monkeypatch.setattr(_DF, "collect", boom)
        try:
            name = os.path.basename(p)
            full = svc.lake_estimate(name)
            assert full["files_kept"] == full["files_total"] == 8
            assert full["rows_kept_upper"] == 4_000
            assert full["broadcastable"] is True  # tiny table
            # string query params cast through the declared bigint type
            part = svc.lake_estimate(name, col="k", lo="0", hi="499")
            assert 0 < part["files_kept"] < 8
            assert part["rows_kept_upper"] < 4_000
        finally:
            shutil.rmtree(p, ignore_errors=True)

    def test_unknown_name_raises_keyerror(self, svc):
        with pytest.raises(KeyError):
            svc.lake_estimate("../../etc", col="k", lo="0", hi="1")


class TestServingGuards:
    """ADVICE r08 + VERDICT r08 serving hardening: unknown-column
    estimates are a 400, raw sql() is read-only."""

    @pytest.fixture()
    def svc(self, spark):
        return QueryService(spark, SF_DIR, ttl_seconds=3600)

    def test_lake_estimate_unknown_column_raises(self, svc, spark):
        """ADVICE r08: a typo'd ?col= must error loudly, not return a
        full-table estimate that reads as 'predicate prunes nothing'."""
        import os
        import shutil

        import pspcz_analyzer_spark.manifest as M
        from pspcz_analyzer_spark.scratch import scratch_path

        p = scratch_path(SF_DIR, "lake_est_badcol")
        shutil.rmtree(p, ignore_errors=True)
        spark.range(100).selectExpr("id AS k").write.parquet(p)
        M.manifest_init(p, stat_cols=["k"])
        try:
            name = os.path.basename(p)
            with pytest.raises(ValueError, match="no column"):
                svc.lake_estimate(name, col="zz", lo="0", hi="1")
            # the real column still estimates
            est = svc.lake_estimate(name, col="k", lo="0", hi="9")
            assert est["files_total"] >= 1
        finally:
            shutil.rmtree(p, ignore_errors=True)

    def test_sql_rejects_non_query_statements(self, svc):
        """VERDICT r08 watch item 1: spark.sql runs DDL/commands eagerly,
        so sql() must refuse anything that is not a pure query BEFORE
        parsing."""
        rows = svc.sql("SELECT 1 AS one")
        assert rows == [{"one": 1}]
        assert svc.sql("  WITH t AS (SELECT 2 AS x) SELECT * FROM t") == [
            {"x": 2}
        ]
        assert svc.sql("(SELECT 3 AS y)") == [{"y": 3}]
        for stmt in (
            "DROP TABLE nation",
            "CREATE TABLE boom (k INT)",
            "INSERT OVERWRITE DIRECTORY '/tmp/x' SELECT 1",
            "SET spark.sql.shuffle.partitions=1",
            "/* select */ DROP TABLE nation",
            "-- select\nDROP TABLE nation",
            # ADVICE r9 (high): Spark's grammar allows a CTE prefix on
            # DML, so the leading keyword alone is not enough
            "WITH q AS (SELECT 1) INSERT OVERWRITE DIRECTORY '/tmp/x' "
            "USING parquet SELECT * FROM q",
            "WITH q AS (SELECT 1 AS k) DELETE FROM nation WHERE "
            "n_nationkey IN (SELECT k FROM q)",
            "WITH q AS (SELECT 1 AS k) UPDATE nation SET n_name = 'x'",
            "WITH q AS (SELECT 1 AS k) MERGE INTO nation USING q ON "
            "nation.n_nationkey = q.k WHEN MATCHED THEN DELETE",
            # r10 self-review: quote/comment markers smuggled INSIDE
            # string literals must not blind the scan (the layered-
            # regex version stripped comments first and lost the DML)
            "WITH q AS (SELECT '/*' AS a) INSERT OVERWRITE DIRECTORY "
            "'/tmp/x' USING parquet SELECT '*/', a FROM q",
            "WITH q AS (SELECT '--' AS a) INSERT OVERWRITE DIRECTORY "
            "'/tmp/x' USING parquet SELECT a FROM q",
            "WITH q AS (SELECT 1 AS `x'`) INSERT OVERWRITE DIRECTORY "
            "'/tmp/x' USING parquet SELECT `x'` FROM q",
            # RAW strings process no escapes: the backslash must not
            # extend the guard's string past Spark's closing quote
            "WITH q AS (SELECT r'\\' AS a) INSERT OVERWRITE DIRECTORY "
            "'/tmp/x' USING parquet SELECT 1",
        ):
            with pytest.raises(ValueError, match="read-only"):
                svc.sql(stmt)
        # legal raw-string reads still pass
        assert svc.sql(r"SELECT r'a\b' AS s") == [{"s": "a\\b"}]
        # DML keywords inside STRING LITERALS stay legal reads
        assert svc.sql("SELECT 'please insert & update' AS s") == [
            {"s": "please insert & update"}
        ]
        assert svc.sql(
            "WITH t AS (SELECT 'delete me' AS s) SELECT s FROM t"
        ) == [{"s": "delete me"}]

    def test_sql_quote_stripper_lexing(self):
        """Unit pins for the single-pass lexical scanner behind the
        read-only guard: states are mutually exclusive in scan order."""
        from pspcz_analyzer_spark.serving.service import _strip_sql_quoted

        strip = _strip_sql_quoted
        # strings/identifiers/comments blank to one space; code survives
        assert strip("SELECT 'a' AS b") == "SELECT   AS b"
        assert strip("SELECT `weird col` FROM t") == "SELECT   FROM t"
        assert strip("SELECT /* hidden */ 1") == "SELECT   1"
        assert strip("SELECT 1 -- tail\n+ 2") == "SELECT 1  \n+ 2"
        # comment markers INSIDE strings never open a comment
        assert strip("SELECT '/*' AS a, 1 DROP").endswith("DROP")
        assert strip("SELECT '--' AS a, 1 DROP").endswith("DROP")
        # quotes inside comments never open a string
        assert strip("SELECT /* it's */ 1 DROP").endswith("DROP")
        # doubled-quote and backslash escapes stay inside the literal
        assert strip("SELECT 'it''s fine' AS a, 1 X").endswith("X")
        assert strip(r"SELECT 'a\'b' AS a, 1 X").endswith("X")
        assert strip("SELECT `a``b` AS a, 1 X").endswith("X")
        # a quote inside a BACKQUOTED identifier doesn't open a string
        assert strip("SELECT `x'` AS a, 1 DROP").endswith("DROP")
        # nested bracketed comments (Spark supports them)
        assert strip("SELECT /* a /* b */ c */ 1 X").endswith("X")
        # unterminated regions blank to end-of-text (fail closed)
        assert strip("SELECT 'open INSERT") == "SELECT  "
        assert strip("SELECT /* open INSERT") == "SELECT  "
        # legacy escapedStringLiterals lexing: backslash is an ORDINARY
        # character, the literal ends at the first closing quote
        # (ADVICE r10 — the guard must track the session conf)
        legacy = lambda s: _strip_sql_quoted(s, backslash_escapes=False)
        assert legacy(r"SELECT '\' INSERT").endswith("INSERT")
        assert strip(r"SELECT '\' INSERT") == "SELECT  "  # default mode


class TestParseBasedReadOnlyClassifier:
    """VERDICT r10 task 1: the authoritative read-only decision now comes
    from Spark's OWN parser (classify_readonly_plan) — the lexer is a
    fail-closed pre-filter only. These tests drive the classifier
    STANDALONE so a lexer change can never mask a classifier hole."""

    # Every bypass the lexer regressions cover, plus constructs a lexer
    # cannot see at all. None of these may survive the parse-tree walk.
    REFUSED = (
        "DROP TABLE nation",
        "CREATE TABLE boom (k INT)",
        "CREATE TABLE boom AS SELECT 1",
        "CREATE OR REPLACE TEMPORARY VIEW v AS SELECT 1",
        "INSERT INTO nation VALUES (1)",
        "INSERT OVERWRITE DIRECTORY '/tmp/x' SELECT 1",
        "UPDATE nation SET n_name = 'x'",
        "DELETE FROM nation WHERE n_nationkey = 1",
        "MERGE INTO nation USING region ON 1=1 WHEN MATCHED THEN DELETE",
        "SET spark.sql.shuffle.partitions=1",
        "TRUNCATE TABLE nation",
        "ALTER TABLE nation ADD COLUMNS (y INT)",
        "ANALYZE TABLE nation COMPUTE STATISTICS",
        "REFRESH TABLE nation",
        "MSCK REPAIR TABLE nation",
        "LOAD DATA INPATH '/x' INTO TABLE nation",
        "CACHE TABLE nation",
        "UNCACHE TABLE nation",
        # CTE-prefixed DML: the DML node is a CHILD of UnresolvedWith —
        # a root-only check would miss every one of these
        "WITH q AS (SELECT 1) INSERT OVERWRITE DIRECTORY '/tmp/x' "
        "USING parquet SELECT * FROM q",
        "WITH q AS (SELECT 1 AS k) DELETE FROM nation WHERE "
        "n_nationkey IN (SELECT k FROM q)",
        "WITH q AS (SELECT 1 AS k) UPDATE nation SET n_name = 'x'",
        "WITH q AS (SELECT 1 AS k) MERGE INTO nation USING q ON "
        "nation.n_nationkey = q.k WHEN MATCHED THEN DELETE",
        # Lexer-blind constructs (the r10 verdict's new-coverage ask):
        # EXPLAIN executes eagerly as a command — EXPLAIN-of-DML must
        # not smuggle the DML through as "just a plan printout"
        "EXPLAIN SELECT 1",
        "EXPLAIN INSERT INTO nation VALUES (1)",
        "EXPLAIN EXTENDED DELETE FROM nation",
        # dynamic SQL: the payload string is invisible to ANY static
        # classifier, refuse the construct itself
        "EXECUTE IMMEDIATE 'DROP TABLE nation'",
        "EXECUTE IMMEDIATE 'SELECT 1'",
        # stored-procedure invocation (r11 self-review): parses to
        # Call(UnresolvedProcedure) which mixes in NO refused trait on
        # 4.1 — an arbitrary catalog-defined mutation primitive
        "CALL cat.db.proc(1)",
        "CALL proc()",
        # SQL-scripting compound blocks can contain arbitrary statements
        "BEGIN SELECT 1; END",
        "DECLARE v INT",
        "SET VARIABLE v = 1",
        # metadata commands are still commands (read-only-ish but the
        # contract is SELECT/WITH/VALUES/TABLE only)
        "SHOW TABLES",
        "DESCRIBE TABLE nation",
    )

    ALLOWED = (
        "SELECT 1 AS one",
        "  WITH t AS (SELECT 2 AS x) SELECT * FROM t",
        "(SELECT 3 AS y)",
        "VALUES (1, 2), (3, 4)",
        "TABLE nation",
        "SELECT * FROM nation UNION ALL SELECT * FROM nation",
        "SELECT 1 EXCEPT SELECT 2",
        "WITH q AS (SELECT 1) (SELECT * FROM q)",
        # parameter markers parse to a pure Project — classification
        # passes; execution fails later with UNBOUND_SQL_PARAMETER,
        # which is the correct (non-security) failure
        "SELECT :p",
        "SELECT ?",
        # unicode escapes inside literals stay literals to the parser
        "SELECT '\\u0044ROP TABLE nation' AS s",
        # time travel is a READ (RelationTimeTravel under Project) —
        # classification passes; resolution fails later for sources
        # without version support, the correct non-security failure
        "SELECT * FROM nation FOR VERSION AS OF 1",
    )

    def test_classifier_refuses_all_commands_standalone(self, spark):
        from pspcz_analyzer_spark.serving.service import (
            classify_readonly_plan,
        )

        for stmt in self.REFUSED:
            with pytest.raises(ValueError, match="read-only"):
                classify_readonly_plan(spark, stmt)

    def test_classifier_passes_pure_queries(self, spark):
        from pspcz_analyzer_spark.serving.service import (
            classify_readonly_plan,
        )

        for stmt in self.ALLOWED:
            classify_readonly_plan(spark, stmt)  # must not raise

    def test_unparseable_text_defers_to_spark(self, spark):
        """A parse failure cannot execute anything; the classifier
        passes it through so spark.sql raises the canonical
        ParseException (not a misleading read-only ValueError)."""
        from pspcz_analyzer_spark.serving.service import (
            classify_readonly_plan,
        )

        classify_readonly_plan(spark, "SELEC 1 FRO nowhere")  # no raise
        svc = QueryService(spark, SF_DIR, ttl_seconds=3600)
        with pytest.raises(Exception) as ei:
            svc.sql("SELECT nation FROM WHERE GROUP")
        assert not isinstance(ei.value, ValueError)

    def test_service_sql_runs_both_layers(self, spark):
        """EXPLAIN passes the old lexer's word-level scan (no DML word)
        but is an eager command — only the parser layer catches it, so
        this pins that sql() actually consults the classifier."""
        svc = QueryService(spark, SF_DIR, ttl_seconds=3600)
        with pytest.raises(ValueError, match="read-only"):
            svc.sql("EXPLAIN INSERT INTO nation VALUES (1)")
        with pytest.raises(ValueError, match="read-only"):
            svc.sql("EXECUTE IMMEDIATE 'DROP TABLE nation'")

    def test_deferred_statements_never_execute(self, spark):
        """r11 self-review: statements OSS Spark 4.1 cannot parse (GRANT,
        USE CATALOG, OPTIMIZE, VACUUM, COPY INTO, scripting blocks with
        declarations) pass the classifier by parse-failure DEFERRAL —
        spark.sql then raises the same ParseException, so nothing runs.
        This pins the full-contract form: every such statement must raise
        SOMETHING through sql(); if a future Spark release starts
        parsing one, this test catches it the moment deferral stops
        covering it (the classifier must then refuse it itself)."""
        svc = QueryService(spark, SF_DIR, ttl_seconds=3600)
        for stmt in (
            "GRANT SELECT ON nation TO ruffian",
            "REVOKE SELECT ON nation FROM ruffian",
            "USE CATALOG spark_catalog",
            "OPTIMIZE nation ZORDER BY (n_nationkey)",
            "VACUUM nation",
            "COPY INTO nation FROM '/tmp/x'",
            "BEGIN DECLARE x INT; SET VAR x = 1; END",
            "CALL cat.db.proc(1)",
        ):
            with pytest.raises(Exception):
                svc.sql(stmt)

    def test_legacy_escaped_string_literals_conf(self, spark):
        """ADVICE r10: under spark.sql.parser.escapedStringLiterals=true
        Spark ends a literal at \\' while default-mode lexing scans past
        it — the guard now reads the conf, and the parser layer agrees
        with Spark's grammar by construction."""
        svc = QueryService(spark, SF_DIR, ttl_seconds=3600)
        # Under LEGACY lexing this statement is CTE + INSERT OVERWRITE
        # DIRECTORY (the '\' literal closes at the first quote); under
        # default lexing the old guard blanked the INSERT into the
        # string and saw nothing.
        smuggle = (
            "WITH q AS (SELECT '\\') INSERT OVERWRITE DIRECTORY "
            "'/tmp/pspcz_guard_bypass' USING parquet SELECT 1 FROM q "
            "WHERE '' = '"
        )
        key = "spark.sql.parser.escapedStringLiterals"
        prev = spark.conf.get(key, "false")
        try:
            spark.conf.set(key, "true")
            with pytest.raises(ValueError, match="read-only"):
                svc.sql(smuggle)
            # plain reads still work under the legacy conf
            assert svc.sql(r"SELECT 'a\b' AS s") == [{"s": "a\\b"}]
        finally:
            spark.conf.set(key, prev)
        import os

        assert not os.path.exists("/tmp/pspcz_guard_bypass")


class TestLakeJoinPlanEndpoint:
    """r9: the serving face of join_strategy — broadcast-vs-shuffle
    preview over two post-pruning scan estimates, metadata-only."""

    @pytest.fixture()
    def svc(self, spark):
        return QueryService(spark, SF_DIR, ttl_seconds=3600)

    def test_plan_is_metadata_only_and_prunes(self, svc, spark, monkeypatch):
        import os
        import shutil

        import pyspark.sql.functions as F

        import pspcz_analyzer_spark.manifest as M
        from pspcz_analyzer_spark.jobs import write_range_sorted
        from pspcz_analyzer_spark.scratch import scratch_path
        from pyspark.sql.classic.dataframe import DataFrame as _DF

        fp = scratch_path(SF_DIR, "ljp_fact")
        dp = scratch_path(SF_DIR, "ljp_dim")
        for p in (fp, dp):
            shutil.rmtree(p, ignore_errors=True)
        fact = spark.range(4_000).select(
            F.col("id").alias("k"), (F.col("id") % 9).alias("g")
        )
        write_range_sorted(fact, fp, "k", num_partitions=8)
        M.manifest_init(fp, stat_cols=["k"])
        spark.range(40).selectExpr("id AS k").coalesce(1).write.parquet(dp)
        M.manifest_init(dp)

        def boom(self_df):
            raise AssertionError("lake_join_plan() ran a Spark job")

        monkeypatch.setattr(_DF, "collect", boom)
        try:
            plan = svc.lake_join_plan(
                os.path.basename(fp), os.path.basename(dp),
                lcol="k", llo="0", lhi="499",
            )
            assert plan["strategy"] in ("broadcast_right", "broadcast_left")
            assert plan["left"]["files_kept"] < plan["left"]["files_total"]
            # outer joins respect build-side legality
            plan_l = svc.lake_join_plan(
                os.path.basename(fp), os.path.basename(dp), how="left"
            )
            assert plan_l["strategy"] in ("broadcast_right", "shuffle")
            with pytest.raises(KeyError):
                svc.lake_join_plan("nope", os.path.basename(dp))
            with pytest.raises(ValueError, match="no column"):
                svc.lake_join_plan(
                    os.path.basename(fp), os.path.basename(dp),
                    lcol="zz", llo="0", lhi="1",
                )
        finally:
            shutil.rmtree(fp, ignore_errors=True)
            shutil.rmtree(dp, ignore_errors=True)
