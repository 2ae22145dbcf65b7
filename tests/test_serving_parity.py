"""QueryService answers (a tail over a materialized aggregate) equal the
unsplit plans: the operators and catalog queries for loyalty, attendance
and similarity, and for the listing endpoints the one-plan-per-request
derivations they replace, over a small parameter grid at sf0.001."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from pspcz_analyzer_spark.catalog import load_table
from pspcz_analyzer_spark.functions.text import contains_normalized
from pspcz_analyzer_spark.operators import voting as V
from pspcz_analyzer_spark.operators.pagination import page_offset
from pspcz_analyzer_spark.operators.similarity import mp_cosine_pairs
from pspcz_analyzer_spark.plans import query_fns
from pspcz_analyzer_spark.plans.voting import (
    derive_mp_info,
    derive_mp_votes,
    derive_void_votes,
)
from pspcz_analyzer_spark.serving.service import QueryService

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def svc(spark):
    s = QueryService(spark, SF_DIR)
    yield s
    s.invalidate()


@pytest.fixture(scope="module")
def vt(spark):
    return (
        derive_mp_votes(spark, SF_DIR),
        derive_void_votes(spark, SF_DIR),
        derive_mp_info(spark, SF_DIR),
    )


def _rows(df) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


def _party(vt) -> str:
    return vt[2].orderBy("id_poslanec").first()["party"]


@pytest.mark.parametrize("top", [None, 3])
@pytest.mark.parametrize("party", [False, True])
def test_loyalty(spark, svc, vt, top, party):
    p = _party(vt) if party else None
    assert svc.loyalty(top=top, party=p) == _rows(
        V.loyalty(*vt, top=top, party_filter=p)
    )


def test_loyalty_matches_catalog_query(spark, svc):
    want = _rows(query_fns()["loyalty_rebellion_rates"](spark, SF_DIR))
    assert svc.loyalty(top=None) == want


@pytest.mark.parametrize("sort", sorted(V.ATTENDANCE_SORTS) + ["unknown"])
@pytest.mark.parametrize("party", [False, True])
def test_attendance(spark, svc, vt, sort, party):
    p = _party(vt) if party else None
    assert svc.attendance(sort=sort, top=4, party=p) == _rows(
        V.attendance(*vt, top=4, sort=sort, party_filter=p)
    )


def test_attendance_matches_catalog_query(spark, svc):
    want = _rows(query_fns()["attendance_rates"](spark, SF_DIR))
    assert svc.attendance(sort="worst", top=None) == want


@pytest.mark.parametrize("cross", [True, False])
@pytest.mark.parametrize("top", [5, 20])
def test_similarity(spark, svc, vt, cross, top):
    assert svc.similarity(top=top, cross_party_only=cross) == _rows(
        mp_cosine_pairs(*vt, k=top, cross_party_only=cross)
    )


def test_similarity_matches_catalog_query(spark, svc):
    want = _rows(query_fns()["mp_similarity_top20"](spark, SF_DIR))
    assert svc.similarity(top=20) == want


def _votes_unsplit(spark, vt, search, outcome, topic, page, per_page):
    """The one-plan votes derivation: filters pushed below the tally join."""
    mp, void, _info = vt
    tallies = mp.groupBy("id_hlasovani").agg(
        F.sum(F.when(F.col("vysledek") == "A", 1).otherwise(0)).alias("pro"),
        F.sum(F.when(F.col("vysledek") == "B", 1).otherwise(0)).alias("proti"),
        F.sum(F.when(F.col("vysledek") == "C", 1).otherwise(0)).alias("zdrzel"),
        F.sum(F.when(F.col("vysledek") == "F", 1).otherwise(0)).alias("nehlasoval"),
        F.count(F.lit(1)).alias("prihlaseno"),
    )
    cust = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_name")
    raw = load_table(spark, SF_DIR, "orders")
    orders = raw.join(cust, raw.o_custkey == cust.c_custkey).select(
        F.col("o_orderkey").alias("id_hlasovani"),
        F.col("o_orderdate").cast("string").alias("datum"),
        F.coalesce(F.col("c_name"), F.lit("")).alias("nazev_dlouhy"),
        F.col("o_orderpriority").alias("nazev_kratky"),
    )
    if search:
        orders = orders.filter(
            contains_normalized("nazev_dlouhy", search)
            | contains_normalized("nazev_kratky", search)
        )
    votes = (
        orders.join(void, "id_hlasovani", "left_anti")
        .join(tallies, "id_hlasovani")
        .withColumn(
            "vysledek", F.when(F.col("pro") > F.col("proti"), "A").otherwise("R")
        )
    )
    if outcome:
        votes = votes.filter(F.col("vysledek") == outcome)
    if topic:
        li = load_table(spark, SF_DIR, "lineitem")
        part = load_table(spark, SF_DIR, "part").filter(
            contains_normalized("p_type", topic)
        )
        topical = li.join(part, li.l_partkey == part.p_partkey, "left_semi").select(
            F.col("l_orderkey").alias("id_hlasovani")
        )
        votes = votes.join(topical, "id_hlasovani", "left_semi")
    total = votes.count()
    rows = _rows(
        page_offset(votes, [F.col("id_hlasovani").desc()], page=page, per_page=per_page)
    )
    return total, rows


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"page": 3},
        {"search": "customer#000000012"},
        {"outcome": "A", "page": 2},
        {"outcome": "R"},
        {"topic": "promo"},
        {"topic": "LARGE", "outcome": "A"},
    ],
    ids=repr,
)
def test_votes(spark, svc, vt, kw):
    per_page = 30
    got = svc.votes(per_page=per_page, **kw)
    total, rows = _votes_unsplit(
        spark,
        vt,
        kw.get("search", ""),
        kw.get("outcome", ""),
        kw.get("topic", ""),
        kw.get("page", 1),
        per_page,
    )
    assert rows  # every grid point lands on a non-empty page
    assert got["total"] == total
    assert got["rows"] == rows


def _total_and_page(df, order, page, per_page):
    return df.count(), _rows(page_offset(df, order, page=page, per_page=per_page))


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"status": "F", "page": 2},
        {"priorities": ["1-URGENT", "5-LOW"]},
        {"search": "customer#00000004"},
    ],
    ids=repr,
)
def test_laws(spark, svc, kw):
    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_name")
    if "status" in kw:
        orders = orders.filter(F.col("o_orderstatus") == kw["status"])
    if "priorities" in kw:
        orders = orders.filter(F.col("o_orderpriority").isin(*kw["priorities"]))
    hits = orders.join(cust, orders.o_custkey == cust.c_custkey)
    if "search" in kw:
        hits = hits.filter(contains_normalized("c_name", kw["search"]))
    hits = hits.select("o_orderkey", "o_orderdate", "o_orderpriority", "c_name")
    total, rows = _total_and_page(
        hits,
        [F.col("o_orderdate").desc(), F.col("o_orderkey").asc()],
        kw.get("page", 1),
        20,
    )
    got = svc.laws(**kw)
    assert rows
    assert [{k: v for k, v in r.items() if k != "total_hits"} for r in got] == rows
    assert {r["total_hits"] for r in got} == {total}


@pytest.mark.parametrize(
    "kw", [{}, {"page": 2}, {"search": "supplier#000000001"}], ids=repr
)
def test_amendments(spark, svc, kw):
    df = query_fns()["amendments_merged"](spark, SF_DIR)
    if "search" in kw:
        df = df.filter(contains_normalized("submitters", kw["search"]))
    total, rows = _total_and_page(
        df, [F.col("doc_id").asc(), F.col("seq").asc()], kw.get("page", 1), 20
    )
    got = svc.amendments(**kw)
    assert rows
    assert [{k: v for k, v in r.items() if k != "total_hits"} for r in got] == rows
    assert {r["total_hits"] for r in got} == {total}


@pytest.mark.parametrize("vote_id", [1, 7, 1499])
def test_vote_detail(spark, svc, vt, vote_id):
    mp, _void, info = vt
    one = mp.filter(F.col("id_hlasovani") == vote_id)
    info = info.select("id_poslanec", "jmeno", "party")
    pw = Window.partitionBy("id_hlasovani", "party")
    vw = Window.partitionBy("id_hlasovani")
    want = _rows(
        one.join(info, "id_poslanec")
        .select(
            "id_poslanec",
            "jmeno",
            "party",
            "vysledek",
            F.sum(F.when(F.col("vysledek") == "A", 1).otherwise(0))
            .over(pw)
            .alias("party_yes"),
            F.sum(F.when(F.col("vysledek") == "B", 1).otherwise(0))
            .over(pw)
            .alias("party_no"),
            F.count(F.lit(1)).over(pw).alias("party_total"),
            F.count(F.lit(1)).over(vw).alias("vote_total"),
        )
        .orderBy("id_poslanec", "vysledek")
    )
    assert want
    assert svc.vote_detail(vote_id) == want
