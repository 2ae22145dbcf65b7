"""Relational operator coverage: SURVEY §2.2 filters, §2.3 joins, §2.5
windows, §2.6 sort/limit/pagination, §2.7 set ops, §2.8 scalar functions.

Each query is the testdata-star-schema incarnation of a reference idiom; the
docstrings say which. Operators come from pspcz_analyzer_spark.operators —
the queries are thin compositions, as the serving layer would write them.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pspcz_analyzer_spark.catalog import load_table
from pspcz_analyzer_spark.operators.joins import (
    asof_join,
    fuzzy_best_match,
    latest_per_key,
    topn_per_key,
)
from pspcz_analyzer_spark.operators.pagination import page_offset
from pspcz_analyzer_spark.operators.pairs import unordered_pairs
from pspcz_analyzer_spark.plans import register


@register(
    "anti_join_customers_without_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
    )
    ORDER BY c.c_custkey
    """,
    tags=("P4", "anti-join"),
    doc="Void-vote exclusion idiom (SURVEY P4): left_anti join. The "
    "status filter keeps the result non-empty but partial on this data "
    "(every customer has SOME order), so the anti-join is genuinely "
    "exercised rather than vacuously matched.",
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pending = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "P"
    )
    return (
        cust.join(pending, cust.c_custkey == pending.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


@register(
    "semi_join_customers_with_1997_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '1997-01-01'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    )
    ORDER BY c.c_custkey
    """,
    tags=("P3", "semi-join"),
    doc="Set-membership filter as left_semi join (SURVEY P3).",
)
def semi_join_customers_with_1997_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "latest_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus
    FROM (
      SELECT o.*,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders o
    ) t
    WHERE rn = 1
    ORDER BY o_custkey
    """,
    tags=("W1", "J3", "window"),
    doc="Latest-per-key window — the reference's latest-club-membership idiom "
    "(mp_builder.py:31-33) with a deterministic id tiebreak.",
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return latest_per_key(
        orders,
        ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    ).select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus").orderBy("o_custkey")


@register(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rank
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders
    ) t
    WHERE rank <= 3
    ORDER BY o_custkey, rank
    """,
    tags=("W2", "window"),
    doc="Top-N per group (SURVEY W2 ranking).",
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        topn_per_key(
            orders,
            ["o_custkey"],
            [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
            n=3,
        )
        .select(
            "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "rank"
        )
        .orderBy("o_custkey", "rank")
    )


@register(
    "orders_page3",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate
    FROM orders
    ORDER BY o_orderkey DESC
    LIMIT 25 OFFSET 50
    """,
    tags=("O3", "pagination"),
    doc="Offset pagination (votes browser idiom, votes_service.py:171-177).",
)
def orders_page3(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return page_offset(orders, [F.col("o_orderkey").desc()], page=3, per_page=25).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )


@register(
    "nation_pairs_same_region",
    oracle="""
    SELECT a.n_regionkey, a.n_name, b.n_name AS n_name_b
    FROM nation a
    JOIN nation b ON a.n_regionkey = b.n_regionkey AND a.n_name < b.n_name
    ORDER BY a.n_regionkey, a.n_name, n_name_b
    """,
    tags=("J7", "self-join"),
    doc="Unordered pairs via self-join + theta predicate (coalition party "
    "pairs, coalition_service.py:70-74).",
)
def nation_pairs_same_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    return (
        unordered_pairs(nation, "n_regionkey", "n_name")
        .orderBy("n_regionkey", "n_name", "n_name_b")
    )


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("A9", "pivot"),
    doc="Pivot to wide (similarity vote-matrix idiom, similarity_service.py:30-36) "
    "with explicit value list so the plan avoids a distinct-values job.",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0, ["O", "F", "P"])
        .orderBy("o_orderpriority")
    )


@register(
    "point_lookup_order",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey = 42
    """,
    tags=("P8", "point-lookup"),
    doc="Point lookup by primary key (vote detail, votes_service.py:305).",
)
def point_lookup_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") == 42).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )


@register(
    "distinct_status_priority",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority
    FROM orders
    ORDER BY o_orderstatus, o_orderpriority
    """,
    tags=("A8", "distinct"),
    doc="Distinct combos (SURVEY A8).",
)
def distinct_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderstatus", "o_orderpriority").distinct().orderBy(
        "o_orderstatus", "o_orderpriority"
    )


@register(
    "except_building_without_bigspenders",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 450000
    ORDER BY c_custkey
    """,
    tags=("U3", "set-op"),
    doc="Set difference on keys (SURVEY U3 set algebra). Threshold sits "
    "inside the price distribution so the difference is non-empty and "
    "partial — the set op is actually exercised.",
)
def except_building_without_bigspenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = orders.filter(F.col("o_totalprice") > 450000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return building.exceptAll(big).distinct().orderBy("c_custkey")


@register(
    "rollup_priority_status",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
    tags=("rollup", "new-surface"),
    doc="Hierarchical totals via ROLLUP — subtotal surface beyond the "
    "reference (it has no grouping sets; SURVEY §2.4 note).",
)
def rollup_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


@register(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    tags=("cube", "new-surface"),
    doc="Full grouping-sets lattice via CUBE — every subtotal combination "
    "in one pass (rollup's sibling; neither exists in the reference).",
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "order_lines_nested",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    HAVING count(*) >= 5
    ORDER BY l_orderkey
    """,
    tags=("A10", "nested"),
    doc="Group-reassembly into nested arrays (amendment bill reassembly, "
    "cache_manager.py:222-254) — native ArrayType internally; serialized "
    "to a CSV string only at the query edge so order-insensitive hash "
    "comparators can sort the result.",
)
def order_lines_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.sort_array(F.collect_list("l_linenumber")).alias("_ln"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .filter(F.col("n_lines") >= 5)
        .select(
            "l_orderkey",
            F.array_join(F.col("_ln").cast("array<string>"), ",").alias(
                "line_numbers"
            ),
            "n_lines",
        )
        .orderBy("l_orderkey")
    )


@register(
    "fuzzy_match_supplier_customer",
    oracle="""
    SELECT s_name, c_name AS best_match, distance
    FROM (
      SELECT s.s_name, c.c_name,
             levenshtein(s.s_name, c.c_name) AS distance,
             row_number() OVER (
               PARTITION BY s.s_name
               ORDER BY levenshtein(s.s_name, c.c_name), c.c_name) AS rn
      FROM supplier s CROSS JOIN customer c
    ) t
    WHERE rn = 1
    ORDER BY s_name
    """,
    tags=("J11", "M4", "fuzzy"),
    doc="Fuzzy best-match join via built-in levenshtein (submitter resolver, "
    "submitter_resolver.py:19-91) — JVM-side, window top-1, broadcast right side.",
)
def fuzzy_match_supplier_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier").select("s_name")
    cust = load_table(spark, sf_dir, "customer").select("c_name")
    return (
        fuzzy_best_match(supp, cust, "s_name", "c_name")
        .select("s_name", F.col("c_name").alias("best_match"), "distance")
        .orderBy("s_name")
    )


@register(
    "asof_latest_order_before_event",
    oracle="""
    WITH ranked AS (
      SELECT e.event_id, o.o_orderkey, o.o_orderdate,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e
      JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate < e.ts
    )
    SELECT e.event_id, e.ts, e.user_id,
           r.o_orderkey AS asof_o_orderkey, r.o_orderdate AS asof_o_orderdate
    FROM events e
    LEFT JOIN ranked r ON r.event_id = e.event_id AND r.rn = 1
    ORDER BY e.event_id
    """,
    tags=("J12", "asof"),
    doc="Backward as-of join (vote→stage date cascade, votes_service.py:45-84) "
    "via the union+window formulation: one shuffle, no range cross-product.",
)
def asof_latest_order_before_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    # Deterministic ties: one right row per (key, timestamp) — keep max orderkey.
    orders_dedup = latest_per_key(
        orders, ["user_id", "o_orderdate"], [F.col("o_orderkey").desc()]
    )
    return asof_join(
        events,
        orders_dedup,
        on=["user_id"],
        left_time="ts",
        right_time="o_orderdate",
        right_values=["o_orderkey", "o_orderdate"],
        strict=True,
    ).select(
        "event_id", "ts", "user_id", "asof_o_orderkey", "asof_o_orderdate"
    ).orderBy("event_id")


@register(
    "asof_next_order_after_event",
    oracle="""
    WITH ranked AS (
      SELECT e.event_id, o.o_orderkey, o.o_orderdate,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
      FROM events e
      JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate > e.ts
    )
    SELECT e.event_id, e.ts, e.user_id,
           r.o_orderkey AS next_o_orderkey, r.o_orderdate AS next_o_orderdate
    FROM events e
    LEFT JOIN ranked r ON r.event_id = e.event_id AND r.rn = 1
    ORDER BY e.event_id
    """,
    tags=("J12", "asof", "forward"),
    priority=36,
    doc="FORWARD as-of join (the reverse-direction twin of "
    "asof_latest_order_before_event): for each event, the user's earliest "
    "strictly-later order — same one-shuffle union+window plan scanning "
    "time in reverse; no range cross-product.",
)
def asof_next_order_after_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    # Deterministic ties: one right row per (key, timestamp) — for the
    # forward direction keep MIN orderkey (the oracle's ASC tiebreak).
    orders_dedup = latest_per_key(
        orders, ["user_id", "o_orderdate"], [F.col("o_orderkey").asc()]
    )
    return asof_join(
        events,
        orders_dedup,
        on=["user_id"],
        left_time="ts",
        right_time="o_orderdate",
        right_values=["o_orderkey", "o_orderdate"],
        strict=True,
        direction="forward",
        prefix="next_",
    ).select(
        "event_id", "ts", "user_id", "next_o_orderkey", "next_o_orderdate"
    ).orderBy("event_id")


@register(
    "asof_cascade",
    oracle="""
    WITH ev AS (SELECT event_id, user_id, CAST(ts AS DATE) AS d FROM events),
    o AS (
      SELECT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS od,
             o_orderkey, o_orderstatus, o_totalprice
      FROM orders
    ),
    l1 AS (
      SELECT event_id, o_orderkey FROM (
        SELECT e.event_id, oo.o_orderkey,
               row_number() OVER (PARTITION BY e.event_id
                                  ORDER BY oo.od DESC, oo.o_orderkey DESC) AS rn
        FROM ev e JOIN o oo
          ON oo.user_id = e.user_id AND oo.od <= e.d AND oo.o_totalprice > 400000
      ) WHERE rn = 1
    ),
    l2 AS (
      SELECT event_id, o_orderkey FROM (
        SELECT e.event_id, oo.o_orderkey,
               row_number() OVER (PARTITION BY e.event_id
                                  ORDER BY oo.od DESC, oo.o_orderkey DESC) AS rn
        FROM ev e JOIN o oo
          ON oo.user_id = e.user_id AND oo.od <= e.d AND oo.o_orderstatus = 'O'
      ) WHERE rn = 1
    ),
    l3 AS (
      SELECT e.event_id,
             (SELECT g.k FROM (SELECT od, max(o_orderkey) AS k FROM o GROUP BY od) g
              WHERE g.od <= e.d ORDER BY g.od DESC LIMIT 1) AS o_orderkey
      FROM ev e
    )
    SELECT e.event_id, e.user_id,
           CASE WHEN l1.o_orderkey IS NOT NULL THEN 1
                WHEN l2.o_orderkey IS NOT NULL THEN 2
                WHEN l3.o_orderkey IS NOT NULL THEN 3 END AS match_level,
           coalesce(l1.o_orderkey, l2.o_orderkey, l3.o_orderkey) AS matched_orderkey
    FROM ev e
    LEFT JOIN l1 USING (event_id)
    LEFT JOIN l2 USING (event_id)
    LEFT JOIN l3 ON l3.event_id = e.event_id
    ORDER BY event_id
    """,
    tags=("J12", "asof", "cascade", "new-surface"),
    priority=30,
    doc="3-level as-of cascade with priority coalesce (votes_service.py:"
    "45-84): most-specific match first (high-value orders of the user), "
    "then the user's open orders, then a global daily fallback — each "
    "level a keyed as-of join, winners picked by min(level) per row. The "
    "unkeyed global level is resolved over DISTINCT event dates and "
    "broadcast back, so no single-key window ever sees the fact table.",
)
def asof_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.joins import cascade_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.to_date("ts").alias("d")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.to_date("o_orderdate").alias("od"),
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
    )

    def asof_level(right: DataFrame) -> DataFrame:
        dedup = latest_per_key(
            right.select("user_id", "od", "o_orderkey"),
            ["user_id", "od"],
            [F.col("o_orderkey").desc()],
        )
        m = asof_join(
            ev,
            dedup,
            on=["user_id"],
            left_time="d",
            right_time="od",
            right_values=["o_orderkey"],
            strict=False,
        )
        return m.filter(F.col("asof_o_orderkey").isNotNull()).select(
            "event_id", F.col("asof_o_orderkey").alias("matched_orderkey")
        )

    l1 = asof_level(orders.filter(F.col("o_totalprice") > 400000))
    l2 = asof_level(orders.filter(F.col("o_orderstatus") == "O"))
    # Global fallback: resolve "latest order at-or-before date" over the
    # (tiny) distinct event dates, then broadcast-join back to the facts.
    daily = orders.groupBy("od").agg(F.max("o_orderkey").alias("k"))
    dates = ev.select("d").distinct().withColumn("__g", F.lit(1))
    resolved = asof_join(
        dates,
        daily.withColumn("__g", F.lit(1)).select("__g", "od", "k"),
        on=["__g"],
        left_time="d",
        right_time="od",
        right_values=["k"],
        strict=False,
    ).select("d", F.col("asof_k").alias("k"))
    l3 = (
        ev.join(F.broadcast(resolved), "d")
        .filter(F.col("k").isNotNull())
        .select("event_id", F.col("k").alias("matched_orderkey"))
    )
    out = cascade_join(ev, [l1, l2, l3], "event_id", ["matched_orderkey"])
    return out.select(
        "event_id", "user_id", "match_level", "matched_orderkey"
    ).orderBy("event_id")


@register(
    "prefix_match_parts",
    oracle="""
    WITH prefixes AS (
      SELECT * FROM (VALUES ('b'),('bl'),('blue'),('c'),('co'),('cold'),
                           ('s'),('sm'),('small'),('l'),('la'),('large')) AS t(prefix)
    ),
    m AS (
      SELECT p.p_partkey, p.p_name, pre.prefix,
             row_number() OVER (
               PARTITION BY p.p_partkey
               ORDER BY length(pre.prefix) DESC, pre.prefix) AS rn
      FROM part p
      JOIN prefixes pre ON p.p_name LIKE pre.prefix || '%'
    )
    SELECT p_partkey, p_name, prefix FROM m
    WHERE rn = 1
    ORDER BY p_partkey
    """,
    tags=("J13", "prefix-join"),
    doc="Longest-prefix text-match join (tisk fallback linking, "
    "lookup_builder.py:138-207): startswith join + length-ranked top-1.",
)
def prefix_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    prefixes = spark.createDataFrame(
        [(p,) for p in ["b", "bl", "blue", "c", "co", "cold", "s", "sm", "small", "l", "la", "large"]],
        "prefix: string",
    )
    matched = part.join(
        F.broadcast(prefixes), F.col("p_name").startswith(F.col("prefix"))
    )
    return (
        latest_per_key(
            matched,
            ["p_partkey"],
            [F.length("prefix").desc(), F.col("prefix").asc()],
        )
        .select("p_partkey", "p_name", "prefix")
        .orderBy("p_partkey")
    )


@register(
    "orders_keyset_page",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate
    FROM orders WHERE o_orderkey < 500
    ORDER BY o_orderkey DESC LIMIT 20
    """,
    tags=("O3", "keyset", "pagination"),
    doc="Keyset pagination — the at-scale continuation pattern: the "
    "`key < last_seen` predicate pushes into the Parquet scan (row-group "
    "min/max pruning), unlike offset which must skip-scan.",
)
def orders_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.pagination import page_keyset

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    return page_keyset(orders, "o_orderkey", per_page=20, after=500)


@register(
    "laws_listing_page",
    oracle="""
    WITH laws AS (
      SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority, c.c_name,
             count(*) OVER () AS total_hits
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE o.o_orderstatus = 'O'
        AND o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        AND lower(c.c_name) LIKE '%12%'
    )
    SELECT o_orderkey, o_orderdate, o_orderpriority, c_name, total_hits
    FROM laws
    ORDER BY o_orderdate DESC, o_orderkey ASC
    LIMIT 8 OFFSET 8
    """,
    tags=("composite", "browser", "new-surface"),
    priority=30,
    doc="Laws-listing composite (law_service.py:160-187): status + topic "
    "filter + normalized name search + total-hit count + offset page in "
    "ONE plan — filters push to the scan, the dim join is broadcast, and "
    "the total-hit count is a scalar aggregate broadcast back onto the "
    "rows. An unpartitioned count window would funnel every hit through "
    "one task; the scalar count partial-aggregates map-side and the "
    "one-row broadcast costs nothing, so a popular search term at 100x "
    "never serializes the plan.",
)
def laws_listing_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.functions.text import contains_normalized
    from pspcz_analyzer_spark.operators.pagination import page_offset

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    matches = (
        orders.filter(
            (F.col("o_orderstatus") == "O")
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(contains_normalized("c_name", "12"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority", "c_name")
    )
    total = matches.agg(F.count(F.lit(1)).alias("total_hits"))
    hits = matches.crossJoin(F.broadcast(total))
    # Page 2 of 8: inside the hit count at EVERY test scale (18 hits at
    # sf0.001), so the page is never vacuously empty.
    return page_offset(
        hits,
        [F.col("o_orderdate").desc(), F.col("o_orderkey").asc()],
        page=2,
        per_page=8,
    )


@register(
    "vote_number_resolution",
    oracle="""
    WITH votes AS (
      SELECT o_orderkey AS id_hlasovani, o_custkey AS schuze,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey)
               AS cislo
      FROM orders
    )
    SELECT schuze, CAST(cislo AS INTEGER) AS cislo, id_hlasovani
    FROM votes WHERE cislo <= 3
    ORDER BY schuze, cislo
    """,
    tags=("J14", "composite-join"),
    doc="Vote-number resolution (amendments/identifier.py:139-163): an "
    "in-session ordinal (schuze, cislo) resolved to the global vote id via "
    "composite-key join against the per-session numbering.",
)
def vote_number_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    votes = orders.select(
        F.col("o_orderkey").alias("id_hlasovani"),
        F.col("o_custkey").alias("schuze"),
        F.row_number().over(w).alias("cislo"),
    )
    # "Amendment records" know only (schuze, cislo); resolve to vote ids.
    records = votes.select("schuze", "cislo").filter(F.col("cislo") <= 3)
    return (
        records.join(votes, ["schuze", "cislo"])
        .select("schuze", "cislo", "id_hlasovani")
        .orderBy("schuze", "cislo")
    )


@register(
    "events_props_json",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_bucket,
           count(*) AS n_events,
           CAST(min(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
           CAST(max(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
    tags=("F12", "json"),
    doc="JSON decode at the edge (from_json into typed struct, SURVEY F12): "
    "parse the props payload once, aggregate on the extracted field.",
)
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k int")["k"]
    return (
        events.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("k_bucket")
    )


@register(
    "orders_by_month",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("F5", "date"),
    doc="Temporal bucketing (date parse/format family, SURVEY F5).",
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("order_year", "order_month")
    )


@register(
    "customer_display_names",
    oracle="""
    SELECT c.c_custkey,
           upper(substr(c.c_name, 10, 9)) || ' / ' || n.n_name AS display,
           CASE c.c_mktsegment
             WHEN 'AUTOMOBILE' THEN 'AUTO'
             WHEN 'BUILDING' THEN 'BLD'
             ELSE c.c_mktsegment END AS seg_short
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    ORDER BY c.c_custkey
    """,
    tags=("F2", "F3", "F10", "F11", "J1", "string"),
    doc="String functions + dim enrich join + value remap (party alias idiom, "
    "mp_builder.py:42-48).",
)
def customer_display_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
        .select(
            "c_custkey",
            F.concat(
                F.upper(F.substring("c_name", 10, 9)), F.lit(" / "), F.col("n_name")
            ).alias("display"),
            F.when(F.col("c_mktsegment") == "AUTOMOBILE", "AUTO")
            .when(F.col("c_mktsegment") == "BUILDING", "BLD")
            .otherwise(F.col("c_mktsegment"))
            .alias("seg_short"),
        )
        .orderBy("c_custkey")
    )


@register(
    "profile_orders_columns",
    oracle="""
    WITH n AS (SELECT count(*) AS n_rows FROM orders)
    SELECT * FROM (
      SELECT 'o_orderkey' AS col_name, n.n_rows,
             (SELECT count(*) FROM orders WHERE o_orderkey IS NULL) AS n_nulls,
             (SELECT count(DISTINCT o_orderkey) FROM orders) AS n_distinct,
             (SELECT CAST(min(o_orderkey) AS VARCHAR) FROM orders) AS min_val,
             (SELECT CAST(max(o_orderkey) AS VARCHAR) FROM orders) AS max_val
      FROM n
      UNION ALL
      SELECT 'o_orderstatus', n.n_rows,
             (SELECT count(*) FROM orders WHERE o_orderstatus IS NULL),
             (SELECT count(DISTINCT o_orderstatus) FROM orders),
             (SELECT CAST(min(o_orderstatus) AS VARCHAR) FROM orders),
             (SELECT CAST(max(o_orderstatus) AS VARCHAR) FROM orders)
      FROM n
      UNION ALL
      SELECT 'o_orderpriority', n.n_rows,
             (SELECT count(*) FROM orders WHERE o_orderpriority IS NULL),
             (SELECT count(DISTINCT o_orderpriority) FROM orders),
             (SELECT CAST(min(o_orderpriority) AS VARCHAR) FROM orders),
             (SELECT CAST(max(o_orderpriority) AS VARCHAR) FROM orders)
      FROM n
      UNION ALL
      SELECT 'o_orderdate', n.n_rows,
             (SELECT count(*) FROM orders WHERE o_orderdate IS NULL),
             (SELECT count(DISTINCT o_orderdate) FROM orders),
             (SELECT CAST(min(o_orderdate) AS VARCHAR) FROM orders),
             (SELECT CAST(max(o_orderdate) AS VARCHAR) FROM orders)
      FROM n
    )
    ORDER BY col_name
    """,
    tags=("profiling", "agg", "A7", "A8"),
    doc="Table profiling in one pass (operators/profile.py): per-column "
    "null count, exact cardinality (HLL twin is the 100 TB default), and "
    "stringified min/max, unpivoted to long form with stack().",
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.profile import profile_table

    orders = load_table(spark, sf_dir, "orders")
    prof = profile_table(
        orders,
        ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate"],
        approx=False,  # exact cardinality for the oracle twin
    )
    return prof.orderBy("col_name")


@register(
    "events_hot_users",
    oracle="""
    WITH c AS (SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1),
    t AS (SELECT sum(n_rows) AS tot FROM c)
    SELECT c.user_id, c.n_rows, round(c.n_rows / t.tot, 6) AS row_share
    FROM c, t
    ORDER BY n_rows DESC, user_id ASC
    LIMIT 10
    """,
    tags=("profiling", "skew", "new-surface"),
    priority=36,
    doc="Hot-key probe (operators/profile.py::hot_keys): the top-10 "
    "heaviest join/agg keys with their share of all rows — the standing "
    "skew measurement that decides salting (skew.py::salted_join) before "
    "a 100 TB fact shuffles on the key. One map-side-combined aggregate; "
    "the scalar total broadcasts back as a one-row join.",
)
def events_hot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.profile import hot_keys

    return hot_keys(load_table(spark, sf_dir, "events"), "user_id", k=10)


@register(
    "lineitem_numeric_correlations",
    oracle="""
    SELECT 'quantity~extendedprice' AS pair,
           round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS pearson_r,
           round(covar_samp(l_quantity, l_extendedprice), 4) + 0.0 AS covariance
    FROM lineitem
    UNION ALL
    SELECT 'discount~tax',
           round(corr(l_discount, l_tax), 6) + 0.0,
           round(covar_samp(l_discount, l_tax), 4) + 0.0
    FROM lineitem
    UNION ALL
    SELECT 'quantity~discount',
           round(corr(l_quantity, l_discount), 6) + 0.0,
           round(covar_samp(l_quantity, l_discount), 4) + 0.0
    FROM lineitem
    ORDER BY pair
    """,
    tags=("profiling", "statistics", "new-surface"),
    priority=18,
    doc="Pairwise Pearson correlation + sample covariance across the "
    "fact's numeric columns — the drift/sanity statistic a standing "
    "profile job tracks next to per-column stats "
    "(operators/profile.py::profile_table). ALL pairs compute in ONE "
    "aggregate pass over one scan (corr/covar are algebraic aggregates "
    "with map-side partials); verified exact against DuckDB's "
    "corr/covar_samp at round-6.",
)
def lineitem_numeric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        ("quantity~extendedprice", "l_quantity", "l_extendedprice"),
        ("discount~tax", "l_discount", "l_tax"),
        ("quantity~discount", "l_quantity", "l_discount"),
    ]
    # + 0.0 normalizes IEEE negative zero: a tiny negative covariance
    # rounds to -0.0 in one engine and 0.0 in the other, and the gate's
    # value hash distinguishes them (the oracle adds the same).
    agg = li.agg(
        *[
            (F.round(F.corr(a, b), 6) + F.lit(0.0)).alias(f"r_{i}")
            for i, (_, a, b) in enumerate(pairs)
        ],
        *[
            (F.round(F.covar_samp(a, b), 4) + F.lit(0.0)).alias(f"c_{i}")
            for i, (_, a, b) in enumerate(pairs)
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("pair"),
                F.col(f"r_{i}").alias("pearson_r"),
                F.col(f"c_{i}").alias("covariance"),
            )
            for i, (name, _, _) in enumerate(pairs)
        ]
    )
    return (
        agg.select(F.explode(rows).alias("row"))
        .select("row.*")
        .orderBy("pair")
    )


@register(
    "events_value_histogram",
    oracle="""
    WITH rng AS (
      SELECT min(CAST(value AS DOUBLE)) AS lo, max(CAST(value AS DOUBLE)) AS hi
      FROM events
    ),
    binned AS (
      SELECT CASE WHEN r.hi = r.lo THEN 0
                  ELSE least(
                    CAST(floor((CAST(e.value AS DOUBLE) - r.lo)
                               / ((r.hi - r.lo) / 20)) AS INTEGER), 19)
             END AS bin
      FROM events e, rng r
    ),
    counts AS (SELECT bin, count(*) AS n FROM binned GROUP BY bin)
    SELECT s.bin,
           round(r.lo + s.bin * ((r.hi - r.lo) / 20), 6) AS bin_lo,
           round(r.lo + (s.bin + 1) * ((r.hi - r.lo) / 20), 6) AS bin_hi,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n
    FROM (SELECT unnest(range(20))::INTEGER AS bin) s
    LEFT JOIN counts c ON s.bin = c.bin
    CROSS JOIN rng r
    ORDER BY s.bin
    """,
    tags=("profiling", "histogram", "new-surface"),
    priority=18,
    doc="Equi-width histogram of event values (operators/profile.py::"
    "histogram): one scalar range pass broadcast back, one "
    "map-side-combined bin count, densified on a 20-bin spine so empty "
    "bins report 0 — the distribution-dashboard primitive for "
    "quality-score/length/perplexity monitoring. Both engines compute "
    "identical IEEE bin arithmetic from the same range scalars — the "
    "oracle replays it bin for bin.",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.profile import histogram

    return histogram(load_table(spark, sf_dir, "events"), "value", bins=20)


@register(
    "events_value_equidepth",
    oracle="""
    WITH b AS (
      SELECT [quantile_cont(value, 0.1), quantile_cont(value, 0.2),
              quantile_cont(value, 0.3), quantile_cont(value, 0.4),
              quantile_cont(value, 0.5), quantile_cont(value, 0.6),
              quantile_cont(value, 0.7), quantile_cont(value, 0.8),
              quantile_cont(value, 0.9)] AS bs
      FROM events
    ),
    assigned AS (
      SELECT 1
             + (CASE WHEN e.value > b.bs[1] THEN 1 ELSE 0 END)
             + (CASE WHEN e.value > b.bs[2] THEN 1 ELSE 0 END)
             + (CASE WHEN e.value > b.bs[3] THEN 1 ELSE 0 END)
             + (CASE WHEN e.value > b.bs[4] THEN 1 ELSE 0 END)
             + (CASE WHEN e.value > b.bs[5] THEN 1 ELSE 0 END)
             + (CASE WHEN e.value > b.bs[6] THEN 1 ELSE 0 END)
             + (CASE WHEN e.value > b.bs[7] THEN 1 ELSE 0 END)
             + (CASE WHEN e.value > b.bs[8] THEN 1 ELSE 0 END)
             + (CASE WHEN e.value > b.bs[9] THEN 1 ELSE 0 END) AS bucket,
             e.value
      FROM events e, b
    )
    SELECT CAST(bucket AS INTEGER) AS bucket,
           count(*) AS n,
           round(min(value), 6) AS lo,
           round(max(value), 6) AS hi
    FROM assigned
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("profiling", "histogram", "statistics", "new-surface"),
    priority=18,
    doc="Equi-DEPTH histogram of event values (operators/profile.py::"
    "equidepth_histogram): decile buckets from ONE exact percentile "
    "aggregate broadcast back — no global sort/ntile (a partition-less "
    "window is a single-task funnel at any scale); the equal-frequency "
    "twin of events_value_histogram for skewed columns, where equi-width "
    "bins collapse. Boundary deciles verified identical across engines "
    "(quantile_cont == Spark percentile at round-6); strict-> ties to "
    "the lower bucket in both.",
)
def events_value_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.profile import equidepth_histogram

    ev = load_table(spark, sf_dir, "events")
    return equidepth_histogram(ev, "value", buckets=10).select(
        F.col("bucket").cast("int").alias("bucket"), "n", "lo", "hi"
    )


@register(
    "events_cms_user_counts",
    oracle="""
    WITH expl AS (
      SELECT e.user_id, i.i,
             ('0x' || substr(md5('cms:' || CAST(i.i AS VARCHAR) || ':'
                                 || CAST(e.user_id AS VARCHAR)), 1, 8)
             )::BIGINT % 1024 AS b
      FROM events e
      CROSS JOIN (SELECT unnest(range(4)) AS i) i
    ),
    sketch AS (
      SELECT i, b, count(*) AS cnt FROM expl GROUP BY i, b
    ),
    probes AS (SELECT DISTINCT user_id, i, b FROM expl),
    est AS (
      SELECT p.user_id, min(coalesce(s.cnt, 0)) AS est_count
      FROM probes p LEFT JOIN sketch s ON p.i = s.i AND p.b = s.b
      GROUP BY p.user_id
    ),
    exact AS (SELECT user_id, count(*) AS exact_count FROM events GROUP BY user_id)
    SELECT e.user_id,
           CAST(est.est_count AS BIGINT) AS est_count,
           CAST(e.exact_count AS BIGINT) AS exact_count
    FROM exact e JOIN est ON e.user_id = est.user_id
    ORDER BY e.user_id
    """,
    tags=("profiling", "sketch", "scale-path", "new-surface"),
    priority=18,
    doc="Count-min sketch frequency estimation (operators/profile.py::"
    "count_min_sketch/cms_estimate): a fixed 4 x 1024-cell summary of the "
    "event stream's key frequencies, estimates read back per key as the "
    "min over its 4 cells next to the exact counts (CMS one-sided "
    "guarantee est >= exact, asserted per row in tests). Sketches of "
    "shards SUM cell-wise into the union's sketch — the mergeable shape "
    "that makes per-batch frequency monitoring O(d*w) state at 100 TB. "
    "Hashes are the md5 idiom, so the oracle replays build AND probe.",
)
def events_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.profile import (
        cms_estimate,
        count_min_sketch,
    )

    events = load_table(spark, sf_dir, "events")
    sketch = count_min_sketch(events, "user_id")
    est = cms_estimate(sketch, events, "user_id")
    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        exact.join(est, "user_id")
        .select("user_id", "est_count", "exact_count")
        .orderBy("user_id")
    )


@register(
    "events_hll_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           true AS hll_within_4pct,
           true AS merge_within_2pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("profiling", "sketch", "scale-path", "new-surface"),
    priority=18,
    doc="HLL distinct-cardinality sketching (operators/profile.py::"
    "hll_sketches/hll_estimate_from/hll_distinct, Apache DataSketches "
    "via Spark's hll_sketch_agg family): per event type, the one-pass "
    "sketch estimate AND the estimate recovered by unioning per-day "
    "stored sketches, attested in-query against the exact distinct "
    "(|est-exact| <= 4% with lg_k=14's 0.8% RSE -> 5 sigma; merged vs "
    "direct within 2% — the union path estimates from HLL_8 registers "
    "while the direct sketch uses HLL_4, so they differ by a fraction "
    "of the error bound, never bit-equal). The oracle replays the exact "
    "count and pins both attestation booleans true. The sketch is the "
    "100 TB shape: 16 KiB mergeable state per group, map-side partials, "
    "and per-day sketch rows make 'distinct ever' a query over stored "
    "sketches instead of a rescan of history.",
)
def events_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.profile import (
        hll_distinct,
        hll_estimate_from,
        hll_sketches,
    )

    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact")
    )
    direct = hll_distinct(ev, ["event_type"], "user_id").withColumnRenamed(
        "n_distinct_est", "__direct"
    )
    merged = hll_estimate_from(
        hll_sketches(
            ev.withColumn("__day", F.to_date("ts")),
            ["event_type", "__day"],
            "user_id",
        ),
        ["event_type"],
    ).withColumnRenamed("n_distinct_est", "__merged")
    ex = F.col("n_users_exact").cast("double")
    return (
        exact.join(direct, "event_type")
        .join(merged, "event_type")
        .select(
            "event_type",
            F.col("n_users_exact").cast("long").alias("n_users_exact"),
            (F.abs(F.col("__direct") - ex) / ex <= 0.04).alias(
                "hll_within_4pct"
            ),
            (F.abs(F.col("__merged") - F.col("__direct")) / ex <= 0.02).alias(
                "merge_within_2pct"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "salted_join_priority_revenue",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("skew", "join", "agg", "scale-path"),
    doc="Salted fact-dim join (operators/skew.py): the lineitem side gets "
    "a deterministic 16-way salt and the orders projection replicates "
    "per salt, spreading any hot orderkey over 16 shuffle partitions. "
    "Result rows are IDENTICAL to the plain join — the oracle is the "
    "unsalted SQL — only the physical distribution changes, which is the "
    "point: correctness of the skew machinery is what the gate proves.",
)
def salted_join_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    # Salt from the full row (price/discount vary per line), so a hot
    # orderkey's lines spread across all 16 salts — salting from the join
    # key itself would keep each key in one partition and change nothing.
    joined = salted_join(li, orders, on=["l_orderkey"], num_salts=16)
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(rev), 2).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "bloom_prune_orders_building",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price
    FROM orders o
    WHERE o.o_custkey IN (
      SELECT c_custkey FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 7500
    )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("semi-join", "bloom", "runtime-filter", "scale-path"),
    priority=18,
    doc="Semi-join through a Bloom-filter runtime prefilter "
    "(operators/joins.py::bloom_semi_join): the dimension's key set "
    "compresses to an 8 KiB bitmap that broadcasts into the fact scan, "
    "so non-matching orders drop BEFORE the shuffle; the confirming "
    "left-semi equi-join removes the bloom's false positives, making "
    "the result exactly the plain semi-join — which is the oracle. The "
    "explicit form of Spark's InjectRuntimeFilter, for when the dim's "
    "ROWS don't fit a broadcast but its key bitmap trivially does.",
)
def bloom_prune_orders_building(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.joins import bloom_semi_join

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 7500))
        .select("c_custkey")
    )
    return (
        bloom_semi_join(orders, dim, "o_custkey", "c_custkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "bucketed_join_revenue",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("join", "bucketing", "layout", "scale-path", "sink"),
    priority=18,
    doc="Shuffle-free fact-fact join via bucketed layout "
    "(jobs.py::write_bucketed): orders and lineitem persisted as "
    "Hive-bucketed tables on the join key with matching bucket counts, "
    "then joined THROUGH the tables — Spark plans the SortMergeJoin with "
    "NO Exchange on either side (asserted in test_skew_jobs.py), "
    "converting the dominant per-query cost of a 100 TB fact-fact join "
    "into a one-time ingest layout decision. Results equal the plain "
    "join — the oracle; only the physical plan changes. Table names are "
    "process-salted so concurrent gate/bench sessions don't collide in "
    "the shared warehouse.",
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from pspcz_analyzer_spark.jobs import write_bucketed

    salt = _os.environ.get("PSPCZ_SCRATCH_SALT") or str(_os.getpid())
    t_orders, t_lines = f"t_orders_bj_{salt}", f"t_lines_bj_{salt}"
    write_bucketed(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        t_orders,
        "o_orderkey",
        num_buckets=16,
        sort_col="o_orderkey",
    )
    write_bucketed(
        load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"),
            "l_extendedprice",
            "l_discount",
        ),
        t_lines,
        "o_orderkey",
        num_buckets=16,
        sort_col="o_orderkey",
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        spark.table(t_lines)
        .join(spark.table(t_orders), "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(rev), 2).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "orders_snapshot_diff",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      WHERE o_orderkey % 13 <> 0
    ),
    n AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 17 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           CASE WHEN o.o_orderkey IS NULL OR n.o_orderkey IS NULL THEN ''
                ELSE concat_ws(',',
                  CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                       THEN 'o_totalprice' END,
                  CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                       THEN 'o_orderstatus' END)
           END AS changed_cols,
           o.o_totalprice AS old_o_totalprice,
           o.o_orderstatus AS old_o_orderstatus,
           n.o_totalprice AS new_o_totalprice,
           n.o_orderstatus AS new_o_orderstatus
    FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
    ORDER BY o_orderkey
    """,
    tags=("relational", "cdc", "new-surface"),
    priority=18,
    doc="Snapshot diff / change-data-capture "
    "(operators/joins.py::snapshot_diff): two simulated versions of "
    "orders (every 13th key inserted, every 17th deleted, every 7th "
    "repriced) classified into insert/delete/update with the null-safe "
    "changed-column list, via ONE full-outer join keyed on the order "
    "key — the refresh-audit primitive for a Parquet lake without a "
    "transactional format, and the change feed the incremental-"
    "aggregate maintenance consumes.",
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.joins import snapshot_diff

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = orders.filter(F.col("o_orderkey") % 13 != 0)
    new = orders.filter(F.col("o_orderkey") % 17 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    ).orderBy("o_orderkey")


_PAGERANK_EDGES_SUPPLIERS = """
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS src, 1000000 + l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )"""

_PAGERANK_FINAL_ALL_NODES = """
    SELECT node, round(rank, 6) AS rank
    FROM r{last}
    ORDER BY round(rank, 6) DESC, node"""


def _pagerank_oracle_sql(
    n_iter: int = 10,
    damping: float = 0.85,
    edges_sql: str = _PAGERANK_EDGES_SUPPLIERS,
    final_sql: str = _PAGERANK_FINAL_ALL_NODES,
    weighted: bool = False,
) -> str:
    """Unrolled fixed-iteration PageRank as plain SQL: the recursive-CTE
    route is closed (aggregates are not allowed in a recursive term), so
    the 10 iterations are generated as 10 MATERIALIZED CTE pairs
    (dangling-mass scalar + rank relation). MATERIALIZED is load-bearing:
    each iteration references its predecessor twice, so default inlining
    would expand the base scans 2^10 times.

    ``edges_sql`` opens the WITH clause and must define a CTE named
    ``edges(src, dst)`` (any node type — the iteration template only
    joins/groups on the columns); ``final_sql`` closes the statement and
    may reference ``r{last}``, the final rank relation. This lets other
    graphs (the TextRank word graph, citation graphs) reuse the exact
    iteration template the suppliers query pinned against Spark."""
    # Weighted variant (``edges`` must then also carry ``w``): out-degree
    # becomes the out-weight sum and contributions scale by edge weight —
    # the template's only two weight-sensitive spots.
    deg_expr = "sum(w)" if weighted else "count(*)"
    contrib = "r.rank * e.w / deg.d" if weighted else "r.rank / deg.d"
    parts = [
        edges_sql
        + f""",
    nodes AS MATERIALIZED (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS MATERIALIZED (SELECT src, {deg_expr} AS d FROM edges GROUP BY src),
    r0 AS MATERIALIZED (
      SELECT node, 1.0/(SELECT n FROM nn) AS rank FROM nodes
    )"""
    ]
    for i in range(1, n_iter + 1):
        p = i - 1
        parts.append(
            f""",
    d{i} AS MATERIALIZED (
      SELECT COALESCE(sum(r.rank), 0) AS m
      FROM r{p} r LEFT JOIN deg ON r.node = deg.src
      WHERE deg.src IS NULL
    ),
    r{i} AS MATERIALIZED (
      SELECT n.node,
             (1 - {damping})/(SELECT n FROM nn)
             + {damping} * (COALESCE(c.inflow, 0)
                            + (SELECT m FROM d{i})/(SELECT n FROM nn)) AS rank
      FROM nodes n
      LEFT JOIN (SELECT e.dst AS node, sum({contrib}) AS inflow
                 FROM edges e
                 JOIN r{p} r ON e.src = r.node
                 JOIN deg ON e.src = deg.src
                 GROUP BY e.dst) c ON n.node = c.node
    )"""
        )
    parts.append(final_sql.format(last=n_iter))
    return "".join(parts)


_PAGERANK_EDGES_WEIGHTED = """
    WITH edges AS MATERIALIZED (
      SELECT o.o_custkey AS src, 1000000 + l.l_suppkey AS dst,
             CAST(count(*) AS DOUBLE) AS w
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    )"""


@register(
    "customer_rfm_segments",
    oracle="\n    WITH base AS (\n      SELECT o_custkey,\n             CAST(date_diff('day', DATE '1990-01-01', max(o_orderdate))\n                  AS DOUBLE) AS rec,\n             CAST(count(*) AS DOUBLE) AS freq,\n             sum(o_totalprice) AS mon\n      FROM orders GROUP BY 1\n    ),\n    b AS (\n      SELECT quantile_cont(rec, [0.2, 0.4, 0.6, 0.8]) AS br,\n             quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS bf,\n             quantile_cont(mon, [0.2, 0.4, 0.6, 0.8]) AS bm\n      FROM base\n    )\n    SELECT o_custkey AS c_custkey,\n           CAST(1 + (CASE WHEN rec > br[1] THEN 1 ELSE 0 END) + (CASE WHEN rec > br[2] THEN 1 ELSE 0 END) + (CASE WHEN rec > br[3] THEN 1 ELSE 0 END) + (CASE WHEN rec > br[4] THEN 1 ELSE 0 END) AS INTEGER) AS r_score,\n           CAST(1 + (CASE WHEN freq > bf[1] THEN 1 ELSE 0 END) + (CASE WHEN freq > bf[2] THEN 1 ELSE 0 END) + (CASE WHEN freq > bf[3] THEN 1 ELSE 0 END) + (CASE WHEN freq > bf[4] THEN 1 ELSE 0 END) AS INTEGER) AS f_score,\n           CAST(1 + (CASE WHEN mon > bm[1] THEN 1 ELSE 0 END) + (CASE WHEN mon > bm[2] THEN 1 ELSE 0 END) + (CASE WHEN mon > bm[3] THEN 1 ELSE 0 END) + (CASE WHEN mon > bm[4] THEN 1 ELSE 0 END) AS INTEGER) AS m_score,\n           CAST(1 + (CASE WHEN rec > br[1] THEN 1 ELSE 0 END) + (CASE WHEN rec > br[2] THEN 1 ELSE 0 END) + (CASE WHEN rec > br[3] THEN 1 ELSE 0 END) + (CASE WHEN rec > br[4] THEN 1 ELSE 0 END) AS INTEGER) || '-' || CAST(1 + (CASE WHEN freq > bf[1] THEN 1 ELSE 0 END) + (CASE WHEN freq > bf[2] THEN 1 ELSE 0 END) + (CASE WHEN freq > bf[3] THEN 1 ELSE 0 END) + (CASE WHEN freq > bf[4] THEN 1 ELSE 0 END) AS INTEGER)\n             || '-' || CAST(1 + (CASE WHEN mon > bm[1] THEN 1 ELSE 0 END) + (CASE WHEN mon > bm[2] THEN 1 ELSE 0 END) + (CASE WHEN mon > bm[3] THEN 1 ELSE 0 END) + (CASE WHEN mon > bm[4] THEN 1 ELSE 0 END) AS INTEGER) AS segment\n    FROM base, b\n    ORDER BY c_custkey\n    ",
    tags=("segmentation", "rfm", "analytics", "new-surface"),
    priority=18,
    doc="RFM customer segmentation (recency / frequency / monetary "
    "quintile scores, the classic marketing-analytics composite) via "
    "operators/profile.py::quantile_scores: one customer aggregate, "
    "then ALL THREE metrics' quintile boundaries from ONE exact "
    "percentile aggregate broadcast back, each score a codegen'd "
    "comparison sum -- no ntile, no global window, no per-metric pass "
    "(the partition-less-window ban holds; the 1-row boundary "
    "broadcast is the allowlisted nested-loop shape). Boundary "
    "parity with quantile_cont is pinned by events_value_equidepth; "
    "ties go to the lower bucket in both engines. The oracle replays "
    "the aggregate, the boundaries, and all 12 comparisons.",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.profile import quantile_scores

    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.datediff(F.max("o_orderdate"), F.lit("1990-01-01").cast("date"))
        .cast("double")
        .alias("rec"),
        F.count(F.lit(1)).cast("double").alias("freq"),
        F.sum("o_totalprice").alias("mon"),
    )
    scored = quantile_scores(base, ["rec", "freq", "mon"], buckets=5)
    return scored.select(
        "c_custkey",
        F.col("rec_score").alias("r_score"),
        F.col("freq_score").alias("f_score"),
        F.col("mon_score").alias("m_score"),
        F.concat_ws(
            "-", F.col("rec_score"), F.col("freq_score"), F.col("mon_score")
        ).alias("segment"),
    ).orderBy("c_custkey")


@register(
    "pagerank_weighted_suppliers",
    oracle=_pagerank_oracle_sql(
        edges_sql=_PAGERANK_EDGES_WEIGHTED, weighted=True
    ),
    tags=("graph", "iterative", "pagerank", "weighted", "new-surface"),
    priority=18,
    doc="WEIGHTED PageRank (operators/graph.py::pagerank(weight_col=...)) "
    "over the buyer->supplier graph with edge weight = lineitem count: "
    "rank distributes proportionally to trade volume instead of "
    "uniformly over partners — the form citation/trade/traffic graphs "
    "actually need (a supplier shipping 100 lines to a buyer should "
    "not count the same as one shipping 1). Same per-iteration plan as "
    "the unweighted op (the weight rides the persisted edge frame); "
    "the unweighted path is byte-identical to before the parameter "
    "existed, so the pinned pagerank_suppliers oracle stays untouched. "
    "Oracle: the same 10 unrolled MATERIALIZED-CTE iterations with "
    "sum(w) out-degrees and weight-scaled contributions.",
)
def pagerank_weighted_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.graph import pagerank

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("src"),
            (F.lit(1000000) + F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    return (
        pagerank(edges, n_iter=10, damping=0.85, weight_col="w")
        .select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "node")
    )


@register(
    "pagerank_suppliers",
    oracle=_pagerank_oracle_sql(),
    tags=("graph", "iterative", "pagerank", "new-surface"),
    priority=18,
    doc="Fixed-iteration PageRank (operators/graph.py::pagerank) over the "
    "buyer->supplier graph (distinct customer->supplier edges through "
    "orders+lineitem; supplier ids offset by 1e6): influence/centrality "
    "for citation and reference networks, the second classic iterative "
    "graph op beside connected components. 10 iterations, damping 0.85, "
    "dangling mass redistributed uniformly — one edge-join shuffle per "
    "iteration, per-round frames localCheckpoint'd so plan size stays "
    "constant. Oracle: the SAME 10 iterations unrolled as MATERIALIZED "
    "CTEs; Spark and DuckDB agree to 6 decimals on all ~1600 nodes.",
)
def pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.graph import pagerank

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.lit(1000000) + F.col("l_suppkey")).alias("dst"),
    )
    return (
        pagerank(edges, n_iter=10, damping=0.85)
        .select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "node")
    )


@register(
    "part_association_rules",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    item AS (
      SELECT l_partkey, count(*) AS n_item FROM baskets GROUP BY 1
    ),
    pairs AS (
      SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
             count(*) AS n_pair
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    rules AS (
      SELECT item_a AS antecedent, item_b AS consequent, n_pair,
             ia.n_item AS n_ante, ib.n_item AS n_cons
      FROM pairs
      JOIN item ia ON ia.l_partkey = pairs.item_a
      JOIN item ib ON ib.l_partkey = pairs.item_b
      UNION ALL
      SELECT item_b, item_a, n_pair, ib.n_item, ia.n_item
      FROM pairs
      JOIN item ia ON ia.l_partkey = pairs.item_a
      JOIN item ib ON ib.l_partkey = pairs.item_b
    )
    SELECT antecedent, consequent,
           CAST(n_pair AS BIGINT) AS n_baskets,
           round(n_pair * 1.0 / n_ante, 6) AS confidence,
           round((n_pair * 1.0 / n_ante) / (n_cons * 1.0 / n.n_orders), 6)
             AS lift
    FROM rules, n
    WHERE n_pair * 1.0 / n_ante >= 0.05
    ORDER BY lift DESC, antecedent, consequent
    LIMIT 25
    """,
    tags=("market-basket", "association-rules", "analytics", "new-surface"),
    priority=18,
    doc="Association rules from the frequent pairs (Apriori's rule "
    "phase): each surviving pair emits BOTH directed rules A=>B and "
    "B=>A with confidence = support(AB)/support(A) and lift = "
    "confidence/support(B) — lift > 1 meaning the antecedent genuinely "
    "raises the consequent's odds rather than both being popular "
    "(min-confidence 0.05: TPC-H baskets are sparse — ~30 baskets per "
    "part — so absolute confidences sit low while lift separates). "
    "Item supports join hash-equi onto the pair counts (item table is "
    "catalog-sized, broadcastable); min-confidence prunes before the "
    "deterministic top-25 by lift. One more aggregate + two joins on "
    "top of frequent_part_pairs' machinery.",
)
def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    n = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    item = baskets.groupBy(F.col("l_partkey")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    a = baskets.select(F.col("l_orderkey"), F.col("l_partkey").alias("item_a"))
    b = baskets.select(F.col("l_orderkey"), F.col("l_partkey").alias("item_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 2)
        .join(
            item.select(
                F.col("l_partkey").alias("item_a"),
                F.col("n_item").alias("n_a"),
            ),
            "item_a",
        )
        .join(
            item.select(
                F.col("l_partkey").alias("item_b"),
                F.col("n_item").alias("n_b"),
            ),
            "item_b",
        )
    )
    fwd = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "n_pair",
        F.col("n_a").alias("n_ante"),
        F.col("n_b").alias("n_cons"),
    )
    rev = pairs.select(
        F.col("item_b").alias("antecedent"),
        F.col("item_a").alias("consequent"),
        "n_pair",
        F.col("n_b").alias("n_ante"),
        F.col("n_a").alias("n_cons"),
    )
    conf = F.col("n_pair") / F.col("n_ante")
    return (
        fwd.unionByName(rev)
        .crossJoin(F.broadcast(n))
        .filter(conf >= 0.05)
        .select(
            "antecedent",
            "consequent",
            F.col("n_pair").alias("n_baskets"),
            F.round(conf, 6).alias("confidence"),
            F.round(
                conf / (F.col("n_cons") / F.col("n_orders")), 6
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("antecedent"), F.asc("consequent"))
        .limit(25)
    )


@register(
    "frequent_part_pairs",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
             count(*) AS n_baskets
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT item_a, item_b, n_baskets,
           round(n_baskets * 1.0 / n.n_orders, 6) AS support
    FROM pairs, n
    ORDER BY n_baskets DESC, item_a, item_b
    LIMIT 25
    """,
    tags=("market-basket", "itemsets", "analytics", "new-surface"),
    priority=18,
    doc="Frequent-itemset mining, pair level (Agrawal & Srikant 1994's "
    "Apriori level 2): top co-purchased part pairs by basket support "
    "over order baskets. One DISTINCT projection to baskets, one "
    "self-equi-join on the basket key (per-basket fanout is "
    "items-per-order choose 2 — bounded by the basket size, NOT the "
    "catalog), a min-support HAVING that prunes the long tail before "
    "the top-k, and the support denominator as a 1-row broadcast. At "
    "100 TB this is the standard formulation: basket-keyed equi-join, "
    "map-side-combined pair counts, min-support cutting the candidate "
    "set the way Apriori's downward-closure does.",
)
def frequent_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    n = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    a = baskets.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("item_a")
    )
    b = baskets.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("item_b")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .filter(F.col("n_baskets") >= 2)
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .select(
            "item_a",
            "item_b",
            "n_baskets",
            F.round(F.col("n_baskets") / F.col("n_orders"), 6).alias(
                "support"
            ),
        )
        .orderBy(F.desc("n_baskets"), F.asc("item_a"), F.asc("item_b"))
        .limit(25)
    )


@register(
    "clustering_coeff_suppliers",
    oracle="""
    WITH e AS (
      SELECT a.l_suppkey AS a, b.l_suppkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
      HAVING count(DISTINCT a.l_orderkey) >= 3
    ),
    tri AS (
      SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tcount AS (
      SELECT node, count(*) AS n_triangles FROM (
        SELECT n1 AS node FROM tri
        UNION ALL SELECT n2 FROM tri
        UNION ALL SELECT n3 FROM tri
      ) GROUP BY node
    ),
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT a AS node FROM e UNION ALL SELECT b FROM e
      ) GROUP BY node
    )
    SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
           CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           round(2.0 * coalesce(t.n_triangles, 0)
                 / (d.degree * (d.degree - 1)), 6) AS coefficient
    FROM deg d LEFT JOIN tcount t ON d.node = t.node
    WHERE d.degree >= 2
    ORDER BY d.node
    """,
    tags=("graph", "clustering-coefficient", "new-surface", "scale"),
    priority=18,
    doc="Local clustering coefficient (Watts & Strogatz 1998; operators/"
    "graph.py::clustering_coefficient) over the strong-tie supplier "
    "graph: 2*triangles / (deg*(deg-1)) per node — how close each "
    "supplier's partner neighborhood is to a clique, the community-"
    "structure probe the triangle counts exist to feed. Composes the "
    "degree-ordered triangle pass (wedge economics unchanged) with one "
    "degree aggregate and a left join so triangle-free nodes score 0; "
    "degree-<2 nodes are EXCLUDED (undefined, and 0 would conflate "
    "isolated with star-center). Oracle replays the triple join, both "
    "aggregates, and the ratio.",
)
def clustering_coeff_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.graph import clustering_coefficient

    # r11: dedupe (order, supplier) BEFORE the self-join, then a plain
    # count — exactly count(DISTINCT l_orderkey) per pair (each pair row
    # is unique per order by construction) without the distinct-agg
    # expand over the order-of-magnitude-larger pair fanout (guide §2.3:
    # aggregate cheaper before you shuffle). Oracle unchanged.
    # r12 (guide §2.4, exchange reuse): the dedupe rides the self-join's
    # own shuffle — repartition on l_orderkey, whose hash-partitioning
    # satisfies both the (l_orderkey, l_suppkey) dedupe aggregate (subset
    # clustering) and the join's distribution on l_orderkey — instead of
    # a standalone distinct Exchange on the pair key followed by a second
    # join exchange when the sides outgrow the broadcast threshold.
    edges = _strong_tie_edges(load_table(spark, sf_dir, "lineitem"))
    return clustering_coefficient(edges).orderBy("node")


def _strong_tie_edges(li_raw: DataFrame, min_orders: int = 3) -> DataFrame:
    """Supplier co-occurrence pairs sharing >= ``min_orders`` distinct
    orders: one shuffle on l_orderkey serves the (order, supplier) dedupe
    AND the wedge self-join (both sides are clustered on l_orderkey, so
    Spark may plan the join without a further exchange), then a plain
    count per pair == count(DISTINCT l_orderkey) because each pair row is
    unique per order after the dedupe."""
    li = (
        li_raw.select("l_orderkey", "l_suppkey")
        .repartition("l_orderkey")
        .dropDuplicates(["l_orderkey", "l_suppkey"])
    )
    a = li.select(F.col("l_orderkey"), F.col("l_suppkey").alias("src"))
    b = li.select(F.col("l_orderkey"), F.col("l_suppkey").alias("dst"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("__w"))
        .filter(F.col("__w") >= min_orders)
        .select("src", "dst")
    )


@register(
    "link_prediction_suppliers",
    oracle="""
    WITH e AS (
      SELECT a, b FROM (
        SELECT a.l_suppkey AS a, b.l_suppkey AS b,
               count(DISTINCT a.l_orderkey) AS w
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
      )
      ORDER BY w DESC, a, b
      LIMIT 500
    ),
    sym AS (
      SELECT a AS w, b AS n FROM e
      UNION ALL
      SELECT b AS w, a AS n FROM e
    ),
    deg AS (SELECT w, count(*) AS d FROM sym GROUP BY w),
    pairs AS (
      SELECT x.n AS n1, y.n AS n2,
             count(*) AS common_neighbors,
             round(sum(1.0 / ln(dx.d)), 6) AS aa_score
      FROM sym x
      JOIN sym y ON x.w = y.w AND x.n < y.n
      JOIN deg dx ON dx.w = x.w
      GROUP BY 1, 2
    )
    SELECT n1, n2, common_neighbors, aa_score
    FROM pairs p
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = p.n1 AND e.b = p.n2)
    ORDER BY aa_score DESC, n1, n2
    LIMIT 20
    """,
    tags=("graph", "link-prediction", "new-surface", "scale"),
    priority=18,
    doc="Adamic-Adar link prediction (operators/graph.py::"
    "adamic_adar_pairs, Adamic & Adar 2003): top-20 NON-adjacent "
    "supplier pairs most likely to co-occur, scored by "
    "sum 1/ln(deg(w)) over common neighbors on the strong-tie "
    "co-occurrence graph (same >= 3-shared-orders projection as "
    "triangle_suppliers). One wedge self-join + pair aggregate + "
    "anti-join against the edge set + TakeOrderedAndProject, over the "
    "top-500 strongest ties (a FIXED-SIZE graph at any sf: an absolute "
    "weight threshold leaves sf0.01's near-complete co-occurrence graph "
    "with zero non-adjacent pairs to predict) -- the unsupervised "
    "baseline every embedding link predictor is judged against; "
    "max_degree hub capping is the at-scale knob (exact semantics kept "
    "here for the oracle).",
)
def link_prediction_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.graph import adamic_adar_pairs

    # r11: dedupe before the self-join + plain count; r12: the dedupe
    # rides the self-join's shuffle (see _strong_tie_edges — this build
    # keeps __w for the top-500 strongest-tie ordering; oracle unchanged).
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .repartition("l_orderkey")
        .dropDuplicates(["l_orderkey", "l_suppkey"])
    )
    a = li.select(F.col("l_orderkey"), F.col("l_suppkey").alias("src"))
    b = li.select(F.col("l_orderkey"), F.col("l_suppkey").alias("dst"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("__w"))
        # Top-500 strongest ties, NOT an absolute weight threshold: the
        # sf0.01 co-occurrence graph is COMPLETE at any small threshold
        # (min pair weight 10), leaving zero non-adjacent pairs to
        # predict. A fixed-size strongest-tie graph keeps the LP
        # candidate structure (and the wedge cost) scale-invariant
        # while the extraction stays one TakeOrderedAndProject.
        .orderBy(F.desc("__w"), F.asc("src"), F.asc("dst"))
        .limit(500)
        .select("src", "dst")
    )
    return adamic_adar_pairs(edges, k=20)


@register(
    "triangle_suppliers",
    oracle="""
    WITH e AS (
      SELECT a.l_suppkey AS a, b.l_suppkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
      HAVING count(DISTINCT a.l_orderkey) >= 3
    ),
    tri AS (
      SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT node, count(*) AS n_triangles
    FROM (
      SELECT n1 AS node FROM tri
      UNION ALL SELECT n2 FROM tri
      UNION ALL SELECT n3 FROM tri
    )
    GROUP BY node
    ORDER BY node
    """,
    tags=("graph", "triangles", "new-surface", "scale"),
    priority=18,
    doc="Per-node triangle counts over the STRONG-TIE supplier "
    "co-occurrence graph (pairs sharing >= 3 distinct orders — raw "
    "co-occurrence over a season of orders saturates toward a complete "
    "graph, where triangle count is Theta(n^3) OUTPUT no matter the "
    "algorithm; thresholding is the standard projection-graph sparsifier "
    "and the measured difference between 31 s and 3 s at sf0.1) — the "
    "clustering-coefficient "
    "primitive as two equi-joins, DEGREE-ORDERED so a hub's wedge "
    "fanout is bounded by O(sqrt(m)) instead of d^2 (Suri & "
    "Vassilvitskii 2011's last-reducer fix; operators/graph.py::"
    "triangle_count). The oracle runs the id-ordered triple join — "
    "identical counts by construction, asserted for both orderings "
    "against brute force in test_graph.py.",
)
def triangle_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.graph import triangle_count

    # r11: dedupe before the self-join + plain count; r12: the dedupe
    # rides the self-join's shuffle — see _strong_tie_edges (same edge
    # build as clustering_coeff_suppliers; oracle unchanged).
    edges = _strong_tie_edges(load_table(spark, sf_dir, "lineitem"))
    return triangle_count(edges, degree_ordered=True).orderBy("node")


def _hits_oracle_sql(n_iter: int = 10) -> str:
    """Unrolled fixed-iteration HITS as MATERIALIZED CTEs: each round is
    an authority relation + norm scalar, then a hub relation + norm
    scalar — the same replay contract as the PageRank/BFS/k-core
    oracles (L1 normalization makes each half-step one scalar divide,
    exactly replayable without sqrt conditioning)."""
    parts = [
        """
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS src, 1000000 + l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    nodes AS MATERIALIZED (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    h0 AS MATERIALIZED (SELECT node, 1.0 AS v FROM nodes)"""
    ]
    for i in range(1, n_iter + 1):
        p = i - 1
        parts.append(
            f""",
    ar{i} AS MATERIALIZED (
      SELECT e.dst AS node, sum(h.v) AS v
      FROM edges e JOIN h{p} h ON e.src = h.node GROUP BY e.dst
    ),
    a{i} AS MATERIALIZED (
      SELECT n.node,
             COALESCE(r.v, 0) / (SELECT sum(v) FROM ar{i}) AS v
      FROM nodes n LEFT JOIN ar{i} r ON n.node = r.node
    ),
    hr{i} AS MATERIALIZED (
      SELECT e.src AS node, sum(a.v) AS v
      FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
    ),
    h{i} AS MATERIALIZED (
      SELECT n.node,
             COALESCE(r.v, 0) / (SELECT sum(v) FROM hr{i}) AS v
      FROM nodes n LEFT JOIN hr{i} r ON n.node = r.node
    )"""
        )
    parts.append(
        f"""
    SELECT h.node, round(h.v, 6) AS hub, round(a.v, 6) AS authority
    FROM h{n_iter} h JOIN a{n_iter} a ON h.node = a.node
    ORDER BY h.node"""
    )
    return "".join(parts)


@register(
    "hits_trade_graph",
    oracle=_hits_oracle_sql(n_iter=5),
    tags=("graph", "iterative", "hits", "new-surface"),
    priority=18,
    doc="Fixed-iteration HITS (Kleinberg 1999; operators/graph.py::hits) "
    "over the bipartite buyer->supplier trade graph: hub scores rank "
    "buyers that concentrate trade, authority scores rank suppliers "
    "that attract it — the centrality complement of pagerank_suppliers "
    "on the SAME edges, so the two queries share scan shape. 5 "
    "iterations (each is TWO edge shuffles — twice pagerank's per-round "
    "cost — and hub/authority rankings stabilize well before 5 on this "
    "graph), L1-normalized each half-step with one-row norm broadcasts. "
    "Oracle: the same rounds unrolled as MATERIALIZED CTEs, 6-decimal "
    "agreement.",
)
def hits_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.graph import hits

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.lit(1000000) + F.col("l_suppkey")).alias("dst"),
    )
    return (
        hits(edges, n_iter=5)
        .select(
            "node",
            F.round("hub", 6).alias("hub"),
            F.round("authority", 6).alias("authority"),
        )
        .orderBy("node")
    )


def _kcore_oracle_sql(k: int = 47, n_rounds: int = 8) -> str:
    """Unrolled synchronous k-core peeling as MATERIALIZED CTEs: round i
    recomputes degrees over edges whose BOTH endpoints survived round
    i-1, then drops nodes under k. The k-core is a unique fixpoint, so
    any round count >= the actual peel depth yields it; the engine
    raises if the graph is still peeling past the same bound, keeping
    the two sides comparable by construction."""
    parts = [
        """
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS src, 1000000 + l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    und AS MATERIALIZED (
      SELECT src AS a, dst AS b FROM edges
      UNION
      SELECT dst AS a, src AS b FROM edges
    ),
    a0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM und)"""
    ]
    for i in range(1, n_rounds + 1):
        p = i - 1
        parts.append(
            f""",
    d{i} AS MATERIALIZED (
      SELECT u.a AS node, count(*) AS d
      FROM und u
      JOIN a{p} x ON u.a = x.node
      JOIN a{p} y ON u.b = y.node
      GROUP BY u.a
    ),
    a{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE d >= {k})"""
        )
    parts.append(
        f"""
    SELECT node, CAST(d AS BIGINT) AS core_degree
    FROM d{n_rounds} WHERE d >= {k}
    ORDER BY node"""
    )
    return "".join(parts)


@register(
    "kcore_trade_graph",
    oracle=_kcore_oracle_sql(k=47, n_rounds=8),
    tags=("graph", "iterative", "kcore", "new-surface"),
    priority=18,
    doc="k-core decomposition (Seidman 1983; operators/graph.py::k_core) "
    "of the bipartite buyer<->supplier trade graph at k=47: the maximal "
    "subgraph where every member trades with >= 47 counterparties — "
    "the density filter that precedes community detection and "
    "dense-cluster mining. Synchronous peeling, one degree shuffle per "
    "round over a MONOTONICALLY shrinking live-edge set; the k-core is "
    "a unique confluent fixpoint, so the oracle replays the same "
    "peeling as 8 unrolled MATERIALIZED-CTE rounds (>= the actual peel "
    "depth; the engine raises past the same bound instead of returning "
    "a non-core silently).",
)
def kcore_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.graph import k_core

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.lit(1000000) + F.col("l_suppkey")).alias("dst"),
    )
    return k_core(edges, k=47, max_rounds=8).orderBy("node")


def _bfs_oracle_sql(n_iter: int = 4) -> str:
    """Unrolled multi-source BFS as MATERIALIZED CTEs (default inlining
    would re-expand each round's predecessor and go exponential — same
    hazard as the PageRank oracle above)."""
    parts = [
        """
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS src, 1000000 + l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    und AS MATERIALIZED (
      SELECT src AS a, dst AS b FROM edges
      UNION
      SELECT dst AS a, src AS b FROM edges
    ),
    r0 AS MATERIALIZED (
      SELECT DISTINCT c_custkey AS node, CAST(0 AS BIGINT) AS hops
      FROM customer WHERE c_nationkey = 0
    )"""
    ]
    for i in range(1, n_iter + 1):
        p = i - 1
        parts.append(
            f""",
    r{i} AS MATERIALIZED (
      SELECT node, min(hops) AS hops FROM (
        SELECT node, hops FROM r{p}
        UNION ALL
        SELECT e.b AS node, r.hops + 1 AS hops
        FROM und e JOIN r{p} r ON e.a = r.node
      ) GROUP BY node
    )"""
        )
    parts.append(
        f"""
    SELECT node, hops FROM r{n_iter} ORDER BY node"""
    )
    return "".join(parts)


@register(
    "supplier_hops_bfs",
    oracle=_bfs_oracle_sql(4),
    tags=("graph", "iterative", "bfs", "new-surface"),
    priority=18,
    doc="Multi-source BFS hop distances (operators/graph.py::shortest_"
    "hops) over the undirected customer<->supplier bipartite graph "
    "(distinct trade edges through orders+lineitem; supplier ids offset "
    "by 1e6), seeded at nation-0 customers, horizon 4 — supply-chain "
    "proximity: every party within 4 trade hops of the seed market, "
    "with its true BFS distance. Bounded-horizon relaxation is the "
    "CONTRACT (result = pure function of graph+seeds+k), so the DuckDB "
    "oracle replays the same 4 unrolled rounds as MATERIALIZED CTEs. "
    "One frontier-join shuffle per round, state = reached ball only, "
    "per-round localCheckpoint — the 4th classic iterative graph op "
    "beside connected components, PageRank, and triangles.",
)
def supplier_hops_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.graph import shortest_hops

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.lit(1000000) + F.col("l_suppkey")).alias("dst"),
    )
    seeds = cust.filter(F.col("c_nationkey") == 0).select(
        F.col("c_custkey").alias("node")
    )
    return shortest_hops(edges, seeds, n_iter=4).orderBy("node")


@register(
    "er_sorted_neighborhood",
    oracle="""
    WITH ranked AS (
      SELECT c_custkey AS id, c_name AS key,
             row_number() OVER (ORDER BY c_name, c_custkey) AS r
      FROM customer
    )
    SELECT a.id AS id_a, b.id AS id_b,
           a.key AS key_a, b.key AS key_b,
           a.r AS rank_a, b.r AS rank_b,
           CAST(levenshtein(a.key, b.key) AS INTEGER) AS edit_distance
    FROM ranked a JOIN ranked b ON b.r - a.r BETWEEN 1 AND 3
    ORDER BY rank_a, rank_b
    """,
    tags=("entity-resolution", "blocking", "J11-scale", "new-surface"),
    priority=18,
    doc="Sorted-neighborhood ER blocking (Hernández & Stolfo 1995; "
    "operators/pairs.py::sorted_neighborhood_pairs) over customer "
    "names, window 3, each candidate pair scored with built-in "
    "levenshtein — the linear-candidate scale path for record linkage "
    "when neither side broadcasts (fuzzy_best_match covers the "
    "broadcast-dim case). No global sort and no partition-less window: "
    "global rank = alphabet-bounded bucket offsets (collected once, "
    "broadcast) + a bucket-partitioned row_number, and pairing is an "
    "equi-join on contiguous rank-blocks — uniform join keys by "
    "construction, whatever the key skew. Oracle replays the global "
    "window + band theta-join directly.",
)
def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.pairs import sorted_neighborhood_pairs

    cust = load_table(spark, sf_dir, "customer")
    # Fixed-width names share the 'Customer#' prefix, so the bucket is a
    # digit slice — a monotone prefix function of the sort key.
    pairs = sorted_neighborhood_pairs(
        cust,
        key_col="c_name",
        id_col="c_custkey",
        window=3,
        bucket_expr=F.substring("c_name", 10, 5),
    )
    return pairs.select(
        "id_a",
        "id_b",
        "key_a",
        "key_b",
        "rank_a",
        "rank_b",
        F.levenshtein("key_a", "key_b").alias("edit_distance"),
    ).orderBy("rank_a", "rank_b")


def _ppr_oracle_sql(n_iter: int = 10, damping: float = 0.85) -> str:
    """Unrolled personalized PageRank as MATERIALIZED CTEs (same inlining
    hazard as the global-PageRank oracle above)."""
    parts = [
        f"""
    WITH edges0 AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS src, 1000000 + l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT src, dst FROM edges0
      UNION
      SELECT dst AS src, src AS dst FROM edges0
    ),
    seeds AS MATERIALIZED (
      SELECT DISTINCT c_custkey AS node FROM customer WHERE c_nationkey = 0
    ),
    nodes AS MATERIALIZED (
      SELECT src AS node FROM edges
      UNION SELECT dst FROM edges
      UNION SELECT node FROM seeds
    ),
    ns AS (SELECT count(*) AS k FROM seeds),
    p AS MATERIALIZED (
      SELECT n.node,
             CASE WHEN s.node IS NULL THEN 0.0
                  ELSE 1.0 / (SELECT k FROM ns) END AS p
      FROM nodes n LEFT JOIN seeds s ON n.node = s.node
    ),
    deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY src),
    r0 AS MATERIALIZED (SELECT node, p AS rank FROM p)"""
    ]
    for i in range(1, n_iter + 1):
        pr = i - 1
        parts.append(
            f""",
    d{i} AS MATERIALIZED (
      SELECT COALESCE(sum(r.rank), 0) AS m
      FROM r{pr} r LEFT JOIN deg ON r.node = deg.src
      WHERE deg.src IS NULL
    ),
    r{i} AS MATERIALIZED (
      SELECT pp.node,
             ((1 - {damping}) + {damping} * (SELECT m FROM d{i})) * pp.p
             + {damping} * COALESCE(c.inflow, 0) AS rank
      FROM p pp
      LEFT JOIN (SELECT e.dst AS node, sum(r.rank / deg.d) AS inflow
                 FROM edges e
                 JOIN r{pr} r ON e.src = r.node
                 JOIN deg ON e.src = deg.src
                 GROUP BY e.dst) c ON pp.node = c.node
    )"""
        )
    parts.append(
        f"""
    SELECT node, round(rank, 6) AS rank
    FROM r{n_iter}
    ORDER BY round(rank, 6) DESC, node"""
    )
    return "".join(parts)


@register(
    "ppr_nation0_market",
    oracle=_ppr_oracle_sql(),
    tags=("graph", "iterative", "pagerank", "personalized", "new-surface"),
    priority=18,
    doc="Personalized PageRank (operators/graph.py::personalized_pagerank; "
    "random walk with restart, the graph-recommendation primitive) over "
    "the undirected customer<->supplier trade graph, teleporting to "
    "nation-0 customers: proximity-weighted influence relative to THAT "
    "market — parties unreachable from the seeds score exactly 0, which "
    "is the semantic difference from global PageRank. Same per-round "
    "shape as pagerank_suppliers (one edge-join shuffle + dst aggregate, "
    "broadcast dangling scalar, localCheckpoint); the teleport vector is "
    "a persisted per-node frame joined on the same key. Oracle: the "
    "same 10 rounds unrolled as MATERIALIZED CTEs, 6-decimal agreement.",
)
def ppr_nation0_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.graph import personalized_pagerank

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    fwd = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.lit(1000000) + F.col("l_suppkey")).alias("dst"),
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = cust.filter(F.col("c_nationkey") == 0).select(
        F.col("c_custkey").alias("node")
    )
    return (
        personalized_pagerank(edges, seeds, n_iter=10, damping=0.85)
        .select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "node")
    )


def _lpa_oracle_sql(n_iter: int = 4) -> str:
    """Unrolled synchronous label propagation as MATERIALIZED CTEs."""
    parts = [
        """
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ),
    und AS MATERIALIZED (
      SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0
    ),
    r0 AS MATERIALIZED (
      SELECT DISTINCT a AS node, a AS label FROM und
    )"""
    ]
    for i in range(1, n_iter + 1):
        p = i - 1
        parts.append(
            f""",
    c{i} AS MATERIALIZED (
      SELECT e.b AS node, r.label, count(*) AS cnt
      FROM und e JOIN r{p} r ON e.a = r.node
      GROUP BY 1, 2
    ),
    p{i} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (
                 PARTITION BY node ORDER BY cnt DESC, label
               ) AS rn
        FROM c{i}
      ) WHERE rn = 1
    ),
    r{i} AS MATERIALIZED (
      SELECT r.node, COALESCE(p.label, r.label) AS label
      FROM r{p} r LEFT JOIN p{i} p ON r.node = p.node
    )"""
        )
    parts.append(
        f"""
    SELECT node, label FROM r{n_iter} ORDER BY node"""
    )
    return "".join(parts)


@register(
    "lpa_supplier_communities",
    oracle=_lpa_oracle_sql(4),
    tags=("graph", "iterative", "community", "new-surface"),
    priority=18,
    doc="Synchronous label-propagation communities (Raghavan et al. 2007; "
    "operators/graph.py::label_propagation) over the supplier "
    "co-occurrence graph (suppliers sharing an order), 4 fixed rounds, "
    "ties to the smallest label — the lightweight community finder "
    "beside connected components (which merges everything reachable): "
    "labels concentrate on locally-frequent ids instead of the global "
    "min. The synchronous fixed-round variant is a pure function of the "
    "graph (async update order is irreproducible by design), so the "
    "DuckDB oracle replays the identical 4 unrolled rounds. Per round: "
    "one edge-labels equi-join, one (node, label) aggregate, one "
    "node-keyed window — all node-keyed, localCheckpoint'd.",
)
def lpa_supplier_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.select(F.col("l_orderkey"), F.col("l_suppkey").alias("src"))
    b = li.select(F.col("l_orderkey"), F.col("l_suppkey").alias("dst"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
    )
    return label_propagation(edges, n_iter=4).orderBy("node")
