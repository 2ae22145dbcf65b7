"""Ingestion + sink coverage (SURVEY S1/S2/S4/S10/S12, F1, T4).

Each query exercises a real source/sink surface end-to-end against the
testdata tables, with a DuckDB oracle over the ORIGINAL table — so a
round-trip through the format under test must be lossless to pass.

Scratch files live under the system temp dir at stable per-sf paths
(overwritten each run, no unbounded growth).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pspcz_analyzer_spark.catalog import load_table
from pspcz_analyzer_spark.plans import register
from pspcz_analyzer_spark.scratch import scratch_path
from pspcz_analyzer_spark.sources.sinks import overwrite_parquet, upsert_parquet
from pspcz_analyzer_spark.sources.unl import read_unl


def _scratch(sf_dir: str, name: str) -> str:
    # Per-process salt: concurrent gate/bench sessions must not race on
    # these delete-and-rewrite sink dirs (see pspcz_analyzer_spark.scratch).
    return scratch_path(sf_dir, name)


def count_file_scans(df: DataFrame) -> int:
    """Number of physical file-scan nodes in ``df``'s spark plan,
    counted over the plan TREE — not the rendered string (ADVICE r10:
    'Scan parquet' label casing/spacing has shifted across Spark
    releases, and a rename would fail the single-fact-scan sentinels
    spuriously instead of catching a real double scan). Counts both
    the v1 ``FileSourceScanExec`` and v2 ``BatchScanExec`` nodes;
    subquery plans (e.g. DPP filters) are separate trees, matching
    what the previous main-tree string count saw."""
    stack = [df._jdf.queryExecution().sparkPlan()]
    n = 0
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() in (
            "FileSourceScanExec",
            "BatchScanExec",
        ):
            n += 1
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return n


@register(
    "unl_roundtrip_nation",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation ORDER BY n_nationkey
    """,
    tags=("S1", "S2", "F1", "unl"),
    doc="UNL round-trip: export nation to two pipe-delimited windows-1250 "
    "headerless files (trailing pipe, no quoting), read them back as one "
    "multi-file scan with lenient typed casts (data/parser.py:12-86). The "
    "oracle reads the original table, so the format must be lossless.",
)
def unl_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()
    )
    out_dir = _scratch(sf_dir, "unl_nation")
    os.makedirs(out_dir, exist_ok=True)
    # Two files to exercise the multi-file union path (S2).
    halves = (rows[: len(rows) // 2], rows[len(rows) // 2 :])
    for i, part in enumerate(halves):
        lines = "".join(
            f"{r['n_nationkey']}|{r['n_name']}|{r['n_regionkey']}|\n" for r in part
        )
        with open(os.path.join(out_dir, f"nation_{i}.unl"), "wb") as f:
            f.write(lines.encode("windows-1250"))
    back = read_unl(
        spark,
        os.path.join(out_dir, "*.unl"),
        cols=["n_nationkey", "n_name", "n_regionkey"],
        cast={"n_nationkey": "int", "n_regionkey": "int"},
    )
    return back.orderBy("n_nationkey")


@register(
    "parquet_overwrite_roundtrip",
    oracle="""
    SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey
    """,
    tags=("S4", "sink"),
    doc="Overwrite-mode Parquet sink (cache invalidation = fresh snapshot, "
    "data/cache.py:18-61): write twice, second write fully replaces the "
    "first, read back.",
)
def parquet_overwrite_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    path = _scratch(sf_dir, "region_rt")
    # First write is garbage the overwrite must fully replace.
    overwrite_parquet(region.withColumn("r_name", F.lit("STALE")), path)
    overwrite_parquet(region, path)
    return spark.read.parquet(path).orderBy("r_regionkey")


@register(
    "parquet_partitioned_prune",
    oracle="""
    SELECT o_orderpriority, count(*) AS n
    FROM orders WHERE o_orderstatus = 'P'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("S10", "partitioning", "sink"),
    doc="Partitioned Parquet layout (the per-period directory scheme, "
    "generalized): write orders partitioned by status, read back with a "
    "partition filter — the scan must touch only the matching directory "
    "(partition pruning; asserted in tests).",
)
def parquet_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    path = _scratch(sf_dir, "orders_part")
    overwrite_parquet(orders, path, partition_by=["o_orderstatus"])
    return (
        spark.read.parquet(path)
        .filter(F.col("o_orderstatus") == "P")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
    )


@register(
    "json_nested_roundtrip",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    HAVING count(*) >= 6
    ORDER BY l_orderkey
    """,
    tags=("S9", "F12", "json", "nested"),
    doc="JSON metadata sink/source (tisk histories idiom, "
    "cache_manager.py:118-243): nested array rows written as JSON lines, "
    "read back with an explicit schema — arrays survive as native "
    "ArrayType, never strings.",
)
def json_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    nested = (
        li.groupBy("l_orderkey")
        .agg(
            F.sort_array(F.collect_list("l_linenumber")).alias("line_numbers"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .filter(F.col("n_lines") >= 6)
    )
    path = _scratch(sf_dir, "nested_json")
    nested.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "l_orderkey int, line_numbers array<int>, n_lines long"
    ).json(path)
    # Arrays survive the JSON round-trip as native ArrayType; flatten to a
    # CSV string only at the query edge (hash comparators can't sort lists).
    return back.select(
        "l_orderkey",
        F.array_join(F.col("line_numbers").cast("array<string>"), ",").alias(
            "line_numbers"
        ),
        "n_lines",
    ).orderBy("l_orderkey")


@register(
    "law_refs_extracted",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey % 500 + 1 AS INTEGER) AS law_num,
           CAST(1990 + o_orderkey % 35 AS INTEGER) AS law_year
    FROM orders
    WHERE o_orderkey % 3 = 0
    ORDER BY o_orderkey
    """,
    tags=("F7", "regex"),
    doc="History-page regex extraction (law citations 'N/YYYY Sb.', "
    "history_scraper.py:39-57): synthesize citation sentences, extract the "
    "two capture groups back with regexp_extract.",
)
def law_refs_extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    sentences = orders.select(
        "o_orderkey",
        F.concat(
            F.lit("Novela zákona č. "),
            F.col("o_orderkey") % 500 + 1,
            F.lit("/"),
            F.lit(1990) + F.col("o_orderkey") % 35,
            F.lit(" Sb. byla schválena."),
        ).alias("sentence"),
    )
    ref = r"č\.\s*(\d+)/(\d{4})\s*Sb\."
    return sentences.select(
        "o_orderkey",
        F.regexp_extract("sentence", ref, 1).cast("int").alias("law_num"),
        F.regexp_extract("sentence", ref, 2).cast("int").alias("law_year"),
    ).orderBy("o_orderkey")


@register(
    "parquet_upsert_resume",
    oracle="""
    SELECT batch, count(*) AS n
    FROM (
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN 'b2'
                  WHEN c_custkey % 2 = 0 THEN 'b1' END AS batch
      FROM customer
    )
    WHERE batch IS NOT NULL
    GROUP BY batch ORDER BY batch
    """,
    tags=("S12", "T4", "upsert", "sink"),
    doc="Incremental key-merged sink (resumable classification cache, "
    "classifier.py:37-111): batch 2 overwrites overlapping keys, batch 1 "
    "rows with unmatched keys survive; the snapshot swap is atomic.",
)
def parquet_upsert_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    path = _scratch(sf_dir, "cust_upsert")
    if os.path.exists(path):  # stable scratch: reset between runs
        import shutil

        shutil.rmtree(path)
    b1 = cust.filter(F.col("c_custkey") % 2 == 0).withColumn("batch", F.lit("b1"))
    b2 = cust.filter(F.col("c_custkey") % 3 == 0).withColumn("batch", F.lit("b2"))
    upsert_parquet(spark, b1, path, keys=["c_custkey"])
    upsert_parquet(spark, b2, path, keys=["c_custkey"])
    return (
        spark.read.parquet(path)
        .groupBy("batch")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("batch")
    )


@register(
    "parquet_zorder_roundtrip",
    oracle="""
    SELECT event_id, user_id, value
    FROM events
    WHERE user_id >= 2 AND user_id < 8 AND value >= 50 AND value < 150
    ORDER BY event_id
    """,
    tags=("S10", "zorder", "sink", "scale"),
    doc="Z-ordered lake layout (jobs.py::write_zordered): events written "
    "with a (user_id, value) Morton key, read back through a box "
    "predicate on BOTH dimensions — results must equal the raw-table "
    "oracle while the layout lets Parquet stats skip non-overlapping "
    "files (box-narrowness asserted in test_skew_jobs.py).",
    priority=18,
)
def parquet_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.jobs import write_zordered

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    path = _scratch(sf_dir, "events_zorder")
    write_zordered(events, path, ["user_id", "value"], bits=10, num_partitions=8)
    return (
        spark.read.parquet(path)
        .filter(
            (F.col("user_id") >= 2)
            & (F.col("user_id") < 8)
            & (F.col("value") >= 50)
            & (F.col("value") < 150)
        )
        .orderBy("event_id")
    )


@register(
    "incremental_agg_roundtrip",
    oracle="""
    SELECT user_id,
           round(sum(value), 6) AS sum_value,
           count(*) AS cnt
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("incremental", "sink", "scale"),
    doc="Incremental aggregate maintenance (jobs.py::merge_incremental_agg): "
    "events applied as two delta batches against a persisted per-user "
    "summary; the read-back state must equal a single-pass aggregate over "
    "the full table. The incremental plan scans only each delta plus the "
    "summary - never the history - which is the property that matters at "
    "100 TB.",
    priority=18,
)
def incremental_agg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark.jobs import merge_incremental_agg

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    mid = events.agg(F.expr("percentile_approx(event_id, 0.5)")).collect()[0][0]
    path = _scratch(sf_dir, "events_incr_summary")
    _shutil.rmtree(path, ignore_errors=True)  # deterministic re-runs
    merge_incremental_agg(
        spark, path, events.filter(F.col("event_id") <= mid), ["user_id"], ["value"]
    )
    merge_incremental_agg(
        spark, path, events.filter(F.col("event_id") > mid), ["user_id"], ["value"]
    )
    return (
        spark.read.parquet(path)
        .select(
            "user_id",
            F.round(F.col("sum_value"), 6).alias("sum_value"),
            F.col("cnt"),
        )
        .orderBy("user_id")
    )


@register(
    "parquet_compact_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n,
           CAST(sum(c_custkey) AS BIGINT) AS key_sum
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("S10", "compaction", "sink", "scale"),
    doc="Small-file compaction (jobs.py::compact_small_files): the customer "
    "table written as 16 deliberately-small files, OPTIMIZE-merged into "
    "~target-size outputs (stage-and-swap, large files untouched), read "
    "back and aggregated — must equal the raw-table oracle, proving the "
    "merge is lossless.",
    priority=18,
)
def parquet_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark.jobs import compact_small_files

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    path = _scratch(sf_dir, "cust_compact")
    if os.path.exists(path):
        _shutil.rmtree(path)
    cust.repartition(16).write.mode("overwrite").parquet(path)
    compact_small_files(spark, path, target_bytes=512 * 1024 * 1024)
    return (
        spark.read.parquet(path)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c_custkey").alias("key_sum"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "parquet_delete_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    WHERE user_id NOT IN (7, 8)
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("S10", "delete", "sink", "scale"),
    doc="Targeted key deletion (jobs.py::delete_keys): events written "
    "range-sorted on user_id so the victim keys cluster into few files, "
    "users 7 and 8 deleted via footer-stats file pruning + isin "
    "anti-filter, the table read back and aggregated — must equal the "
    "raw-table oracle minus exactly those users, proving the partial "
    "rewrite loses nothing else. The commit is the staged-directory "
    "swap of jobs._commit_rewrite (crash-safe, test_skew_jobs.py).",
    priority=18,
)
def parquet_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark.jobs import delete_keys, write_range_sorted

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = _scratch(sf_dir, "events_delete")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(events, path, "user_id", num_partitions=8)
    delete_keys(spark, path, "user_id", [7, 8])
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "manifest_delete_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    WHERE user_id NOT IN (3, 4)
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("S10", "S12", "delete", "manifest", "sink", "scale"),
    doc="Manifest-committed targeted deletion (manifest.py::delete_keys): "
    "the object-store-safe commit path — survivors written as ADDITIVE "
    "uniquely-named data files, the change published as one "
    "create-exclusive manifest version (no rename-a-directory POSIX "
    "assumption, Delta's optimistic protocol in minimal form). The "
    "manifest snapshot read back must equal the raw-table oracle minus "
    "exactly the victim users; version 1 stays time-travel-readable "
    "(asserted in test_manifest.py along with crash/conflict/vacuum "
    "semantics).",
    priority=18,
)
def manifest_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = _scratch(sf_dir, "events_manifest")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(events, path, "user_id", num_partitions=8)
    M.manifest_init(path)
    M.delete_keys(spark, path, "user_id", [3, 4])
    return (
        M.load_manifest_table(spark, path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "manifest_restore_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("S12", "manifest", "restore", "time-travel", "sink"),
    doc="Versioned RESTORE (manifest.py::restore): events adopted, two "
    "users deleted (version 2), then the table RESTORED to version 1 — "
    "a metadata-only rollback that commits as version 3. The latest "
    "snapshot must equal the ORIGINAL table (the oracle), proving the "
    "rollback reinstated the pre-delete file list exactly; watermark/ "
    "history/vacuum interplay asserted in test_manifest.py::TestRestore.",
    priority=18,
)
def manifest_restore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = _scratch(sf_dir, "events_restore")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(events, path, "user_id", num_partitions=8)
    M.manifest_init(path)
    M.delete_keys(spark, path, "user_id", [3, 4])
    M.restore(path, 1)
    return (
        M.load_manifest_table(spark, path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "manifest_history_accounting",
    oracle="""
    WITH b2 AS (
      SELECT event_id + 10000000 AS event_id, user_id FROM events
      WHERE event_id % 1013 = 0
    ),
    allr AS (
      SELECT event_id, user_id FROM events
      UNION ALL SELECT event_id, user_id FROM b2
    )
    SELECT CAST(1 AS INTEGER) AS version,
           (SELECT count(*) FROM events) AS n_rows
    UNION ALL
    SELECT 2, (SELECT count(*) FROM allr)
    UNION ALL
    SELECT 3, (SELECT count(*) FROM allr WHERE user_id NOT IN (3, 4))
    ORDER BY version
    """,
    tags=("S12", "manifest", "history", "audit"),
    doc="DESCRIBE HISTORY in minimal form (manifest.py::history): per-file "
    "row counts recorded at every commit (footers are already open for "
    "stats — zero extra IO), so per-version accounting — what did that "
    "append/delete actually do? — reads from the manifests alone. The "
    "gate pins total rows across an init -> append -> targeted-delete "
    "lifecycle against arithmetic the oracle derives from the raw table; "
    "net added/removed per version is asserted in test_manifest.py.",
    priority=18,
)
def manifest_history_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    path = _scratch(sf_dir, "events_history")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(events, path, "user_id", num_partitions=8)
    M.manifest_init(path)
    b2 = events.filter(F.col("event_id") % 1013 == 0).select(
        (F.col("event_id") + 10_000_000).alias("event_id"), "user_id"
    )
    M.append(b2, path)
    M.delete_keys(spark, path, "user_id", [3, 4])
    hist = M.history(path)
    return spark.createDataFrame(
        [(h["version"], h["n_rows"]) for h in hist], "version int, n_rows long"
    ).orderBy("version")


@register(
    "manifest_zorder_optimize",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    WHERE user_id BETWEEN 3 AND 9 AND value BETWEEN 10 AND 40
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("S10", "manifest", "zorder", "optimize", "scale"),
    doc="OPTIMIZE ZORDER on a manifest table (manifest.py::"
    "optimize_zorder): the user_id-sorted events snapshot rewritten into "
    "a (user_id, value) Z-ordered layout and committed as ONE version — "
    "readers never see a half-clustered table, version 1 stays "
    "time-travel-readable, and the manifest stats recompute in the same "
    "commit so metadata-only pruning works on BOTH dimensions "
    "immediately. The box-predicate result must equal the raw-table "
    "oracle; test_manifest.py asserts the value-dimension prune actually "
    "improves after the re-layout (it skips nothing before).",
    priority=18,
)
def manifest_zorder_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = _scratch(sf_dir, "events_zorder_opt")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(events, path, "user_id", num_partitions=8)
    M.manifest_init(path, stat_cols=["user_id", "value"])
    M.optimize_zorder(spark, path, ["user_id", "value"], num_partitions=8)
    return (
        M.scan_auto(spark, path, ranges={"user_id": (3, 9)})
        .filter(F.col("value").between(10, 40))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "manifest_stats_prune",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    WHERE user_id BETWEEN 10 AND 20
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("S10", "manifest", "stats", "file-skipping", "scale"),
    doc="Manifest-level file statistics + metadata-only scan planning "
    "(manifest.py::manifest_init(stat_cols=...), scan_auto): "
    "per-file [min,max] computed ONCE at commit time from the freshly "
    "written footers and stored IN the manifest, so a range scan picks "
    "its file subset from one small JSON — zero footer opens at plan "
    "time, the Iceberg/Delta planning model (at 100 TB: planning cost "
    "tracks the manifest, not a million file opens). The exact BETWEEN "
    "still applies on the survivors, so the result equals the unpruned "
    "scan — the oracle; test_manifest.py asserts files were actually "
    "skipped and that delete/compact/append refresh the stored stats.",
    priority=18,
)
def manifest_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = _scratch(sf_dir, "events_stats_prune")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(events, path, "user_id", num_partitions=8)
    M.manifest_init(path, stat_cols=["user_id"])
    return (
        M.scan_auto(spark, path, ranges={"user_id": (10, 20)})
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "manifest_schema_evolution",
    oracle="""
    WITH legacy AS (SELECT 'legacy' AS src, value FROM events),
    b2 AS (SELECT 'b2' AS src, value FROM events WHERE event_id % 11 = 0)
    SELECT src,
           count(*) AS n,
           round(sum(value), 4) AS sum_value,
           CAST(0 AS BIGINT) AS n_flag
    FROM (SELECT * FROM legacy UNION ALL SELECT * FROM b2)
    GROUP BY src
    ORDER BY src
    """,
    tags=("S12", "manifest", "schema-evolution", "ddl", "sink"),
    doc="Schema evolution on a manifest table (manifest.py): events "
    "adopted as version 1 (schema recorded in the manifest), a batch "
    "carrying a NEW src column appended with merge_schema=True (Delta's "
    "additive evolution — enforcement raises without the flag, asserted "
    "in test_manifest.py), then a metadata-only add_column('flag','int') "
    "commits a version with ZERO data IO. The latest snapshot must "
    "null-fill src for pre-evolution rows and flag everywhere — the "
    "oracle rebuilds that union from the raw table; version 1 read back "
    "still shows the original two columns (versioned schema = time "
    "travel for DDL).",
    priority=18,
)
def manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = load_table(spark, sf_dir, "events").select("event_id", "value")
    path = _scratch(sf_dir, "events_schema_evo")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(events, path, "event_id", num_partitions=8)
    M.manifest_init(path)
    b2 = events.filter(F.col("event_id") % 11 == 0).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "value",
        F.lit("b2").alias("src"),
    )
    M.append(b2, path, merge_schema=True)
    M.add_column(path, "flag", "int")
    return (
        M.load_manifest_table(spark, path)
        .groupBy(F.coalesce("src", F.lit("legacy")).alias("src"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.count("flag").alias("n_flag"),
        )
        .orderBy("src")
    )


@register(
    "manifest_generated_partition",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("manifest", "generated-columns", "hidden-partitioning", "ddl"),
    doc="Generated column driving a partition spec (manifest.py::"
    "add_generated_column + set_partition_spec): event_day is declared "
    "GENERATED ALWAYS AS date_format(ts,...) and made the partition "
    "key; the append never mentions it — the engine computes it, lays "
    "files out one-per-day, and records the values. The equality scan "
    "on the derived column prunes to one day (asserted in-query) and "
    "equals filtering the RAW timestamp by that day — the oracle. This "
    "is Delta's canonical generated-column use case end-to-end.",
    priority=18,
)
def manifest_generated_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M

    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    path = _scratch(sf_dir, "events_gen_part")
    _shutil.rmtree(path, ignore_errors=True)
    events.limit(0).write.parquet(path)
    M.manifest_init(path)
    M.add_generated_column(
        spark, path, "event_day", "string", "date_format(ts, 'yyyy-MM-dd')"
    )
    M.set_partition_spec(path, ["event_day"])
    M.append(events, path)  # writer never mentions event_day
    m = M.read_manifest(path)
    parts = m.get("partitions") or {}
    kept, _total = M.prune_files_partition(m, {"event_day": "2024-01-15"})
    kept_days = {parts[f]["event_day"] for f in kept if f in parts}
    assert kept_days == {"2024-01-15"}, kept_days
    return (
        M.scan_auto(spark, path, eq={"event_day": "2024-01-15"})
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "manifest_files_accounting",
    oracle="""
    SELECT event_type,
           count(*) AS n_rows_total
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("manifest", "metadata-tables", "ops"),
    doc="Iceberg-style metadata tables (manifest.py::files_table / "
    "history_table — db.table.files / DESCRIBE HISTORY as queryable "
    "DataFrames, built from the manifest + one size stat per file, "
    "zero data IO): events appended under an event_type partition "
    "spec, then per-partition row totals computed ONLY from file-level "
    "METADATA — which must equal counting the actual rows (the "
    "oracle), proving the manifest's row accounting. In-query asserts "
    "pin history_table's latest row count to the same total.",
    priority=18,
)
def manifest_files_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    path = _scratch(sf_dir, "events_files_meta")
    _shutil.rmtree(path, ignore_errors=True)
    events.limit(0).write.parquet(path)
    M.manifest_init(path)
    M.set_partition_spec(path, ["event_type"])
    M.append(events, path)
    ft = M.files_table(spark, path).filter(
        F.map_contains_key("partitions", "event_type")
    )
    total_meta = (
        M.history_table(spark, path)
        .orderBy(F.desc("version"))
        .first()["n_rows"]
    )
    total_real = events.count()
    assert total_meta == total_real, (total_meta, total_real)
    return (
        ft.groupBy(F.col("partitions")["event_type"].alias("event_type"))
        .agg(F.sum("n_rows").alias("n_rows_total"))
        .orderBy("event_type")
    )


@register(
    "manifest_day_partition_scan",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    WHERE ts BETWEEN timestamp'2024-01-10 06:00:00'
                 AND timestamp'2024-01-12 18:00:00'
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("S10", "manifest", "hidden-partitioning", "range", "scale"),
    doc="day(ts) hidden partitioning + RANGE pruning (manifest.py::"
    "set_partition_spec('day(ts)') / prune_files_partition_range): the "
    "time-series bread-and-butter — events appended one-file-per-day "
    "under the transform, a BETWEEN on the RAW timestamp prunes to "
    "exactly the covered days from manifest metadata (in-query assert; "
    "the query never names the transform), and the exact predicate "
    "still applies, so the result equals the plain filtered scan — the "
    "oracle.",
    priority=18,
)
def manifest_day_partition_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M

    # The parquet footer of the adopted empty file reads back as LTZ
    # timestamp; cast the batch to match (identity on micros under the
    # session's UTC zone) so schema enforcement sees one type.
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    path = _scratch(sf_dir, "events_day_part")
    _shutil.rmtree(path, ignore_errors=True)
    events.limit(0).write.parquet(path)
    M.manifest_init(path)
    M.set_partition_spec(path, ["day(ts)"])
    M.append(events, path)
    lo = _dt.datetime(2024, 1, 10, 6, 0, 0)
    hi = _dt.datetime(2024, 1, 12, 18, 0, 0)
    m = M.read_manifest(path)
    parts = m.get("partitions") or {}
    kept, _total = M.prune_files_partition_range(m, "ts", lo, hi)
    kept_days = {parts[f]["day(ts)"] for f in kept if f in parts}
    assert kept_days == {"2024-01-10", "2024-01-11", "2024-01-12"}, kept_days
    return (
        M.scan_auto(spark, path, ranges={"ts": (lo, hi)})
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "manifest_rename_roundtrip",
    oracle="""
    WITH unioned AS (
      SELECT event_id, event_type, value FROM events
      UNION ALL
      SELECT event_id + 10000000, event_type, value * 2
      FROM events WHERE event_id % 13 = 0
    )
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_amount
    FROM unioned
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("S12", "manifest", "column-mapping", "ddl"),
    doc="Metadata-only column rename (manifest.py::rename_column — "
    "Delta column mapping in minimal form): events adopted with a "
    "'value' column, renamed to 'amount' with ZERO data IO (colmap "
    "records the immutable physical name; in-query assert pins the "
    "unchanged file list), then a post-rename batch appends under the "
    "NEW logical name — staged physically, so old and new files stay "
    "byte-compatible — and the aggregate reads both eras through one "
    "mapping. The pinned pre-rename version still shows 'value' "
    "(versioned DDL = time travel for renames, also asserted).",
    priority=18,
)
def manifest_rename_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    path = _scratch(sf_dir, "events_rename")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(events, path, "event_id", num_partitions=6)
    M.manifest_init(path, stat_cols=["event_id"])
    files_before = set(M.read_manifest(path)["files"])
    v_renamed = M.rename_column(path, "value", "amount")
    assert set(M.read_manifest(path)["files"]) == files_before, (
        "rename must be metadata-only"
    )
    assert M.load_manifest_table(spark, path, v_renamed - 1).columns == [
        "event_id",
        "event_type",
        "value",
    ], "pinned pre-rename version must read the old name"
    b2 = events.filter(F.col("event_id") % 13 == 0).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "event_type",
        (F.col("value") * 2).alias("amount"),
    )
    M.append(b2, path)
    return (
        M.load_manifest_table(spark, path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("amount"), 4).alias("sum_amount"),
        )
        .orderBy("event_type")
    )


@register(
    "manifest_partition_evolution",
    oracle="""
    SELECT user_id % 7 AS user_bucket,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id % 7
    ORDER BY user_bucket
    """,
    tags=("S10", "manifest", "partition-evolution", "scale"),
    doc="Iceberg-style partition evolution (manifest.py::"
    "set_partition_spec / _stage_partitioned / prune_files_partition): "
    "the table starts UNPARTITIONED (2/3 of events adopted as plain "
    "files), one metadata-only commit makes event_type the current "
    "spec, and the next append lays its batch out one-file-per-type "
    "with the values recorded in the manifest — no rewrite of existing "
    "data, the only affordable layout change at 100 TB. The equality "
    "scan then provably skips every post-evolution file of the other "
    "types while keeping pre-evolution files conservatively (asserted "
    "in-query), and still equals the plain filtered scan — the oracle.",
    priority=18,
)
def manifest_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    b1 = events.filter(F.col("event_id") % 3 != 0)
    b2 = events.filter(F.col("event_id") % 3 == 0)
    path = _scratch(sf_dir, "events_part_evo")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(b1, path, "event_id", num_partitions=6)
    M.manifest_init(path)
    M.set_partition_spec(path, ["event_type"])
    M.append(b2, path)
    m = M.read_manifest(path)
    parts = m.get("partitions") or {}
    kept, total = M.prune_files_partition(m, {"event_type": "purchase"})
    # Every post-evolution file of another type is skipped; every
    # pre-evolution file (no recorded values) is conservatively kept.
    assert all(
        f in kept for f in m["files"] if f not in parts
    ), "pre-evolution files must be kept"
    assert all(
        (parts[f]["event_type"] == "purchase") == (f in kept)
        for f in parts
    ), "partition pruning must keep exactly the matching files"
    assert len(kept) < total, "evolution must enable some skipping"
    return (
        M.scan_auto(spark, path, eq={"event_type": "purchase"})
        .groupBy((F.col("user_id") % 7).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("user_bucket")
    )


@register(
    "manifest_cdc_roundtrip",
    oracle="""
    WITH base AS (
      SELECT event_id, round(value, 4) AS value FROM events
    )
    SELECT event_id,
           'update' AS change_type,
           'value' AS changed_cols,
           value AS old_value,
           round(value + 1, 4) AS new_value
    FROM base WHERE event_id % 97 = 0
    UNION ALL
    SELECT event_id + 10000000 AS event_id,
           'insert', '', NULL, round(value, 4)
    FROM base WHERE event_id % 1013 = 0
    ORDER BY event_id
    """,
    tags=("S12", "manifest", "cdc", "time-travel", "composite", "scale"),
    doc="Time travel + CDC composed: events adopted as manifest version 1, "
    "a batch upserted (every 97th key repriced, every 1013th key inserted "
    "under a shifted id) committing version 2, and the two VERSION-PINNED "
    "snapshots diffed with the full-outer snapshot_diff operator — the "
    "audit a lake without a transactional format cannot express, here "
    "from manifest.load_manifest_table(version=...) + "
    "operators/joins.py::snapshot_diff. Proves upsert's single-version "
    "merge semantics and that version 1 stays byte-stable under later "
    "commits.",
    priority=18,
)
def manifest_cdc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted
    from pspcz_analyzer_spark.operators.joins import snapshot_diff

    events = load_table(spark, sf_dir, "events").select(
        "event_id", F.round("value", 4).alias("value")
    )
    path = _scratch(sf_dir, "events_cdc")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(events, path, "event_id", num_partitions=8)
    M.manifest_init(path)
    updates = events.filter(F.col("event_id") % 97 == 0).select(
        "event_id", F.round(F.col("value") + 1, 4).alias("value")
    )
    inserts = events.filter(F.col("event_id") % 1013 == 0).select(
        (F.col("event_id") + 10_000_000).alias("event_id"), "value"
    )
    M.upsert(spark, updates.unionByName(inserts), path, "event_id")
    old = M.load_manifest_table(spark, path, version=1)
    new = M.load_manifest_table(spark, path, version=2)
    return (
        snapshot_diff(old, new, ["event_id"], ["value"])
        .select(
            "event_id",
            "change_type",
            "changed_cols",
            F.round("old_value", 4).alias("old_value"),
            F.round("new_value", 4).alias("new_value"),
        )
        .orderBy("event_id")
    )


@register(
    "manifest_cdf_appends",
    oracle="""
    WITH v1 AS (
      SELECT event_id, user_id, round(value, 4) AS value FROM events
    ),
    b2 AS (
      SELECT event_id + 10000000 AS event_id, user_id, round(value, 4) AS value
      FROM events WHERE event_id % 1013 = 0
    ),
    v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM b2)
    SELECT event_id, user_id, value FROM v2
    EXCEPT
    SELECT event_id, user_id, value FROM v1
    ORDER BY event_id
    """,
    tags=("S12", "manifest", "cdc", "incremental", "scale"),
    doc="Incremental CDF read between manifest versions (manifest.py::"
    "read_version_delta): the appended rows between v1 and v2 planned "
    "from METADATA alone — the two manifests' file lists are "
    "set-differenced and only the added files enter the scan (asserted "
    "via inputFiles in test_manifest.py::TestReadVersionDelta). At "
    "100 TB an hourly consumer scans the hour's files, never the table. "
    "The oracle is the literal EXCEPT of the two pinned snapshots; "
    "rewrite-bearing histories route through snapshot_diff "
    "(manifest_cdc_roundtrip) instead.",
    priority=18,
)
def manifest_cdf_appends(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round("value", 4).alias("value")
    )
    path = _scratch(sf_dir, "events_cdf_appends")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(events, path, "event_id", num_partitions=8)
    M.manifest_init(path)
    b2 = events.filter(F.col("event_id") % 1013 == 0).select(
        (F.col("event_id") + 10_000_000).alias("event_id"), "user_id", "value"
    )
    M.append(b2, path)
    return M.read_version_delta(spark, path, 1, 2).orderBy("event_id")


_SCAN_BENCH_ORACLE = """
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    WHERE user_id BETWEEN 10 AND 16
    GROUP BY event_type
    ORDER BY event_type
    """


def _ensure_scan_table(spark: SparkSession, sf_dir: str) -> str:
    """Range-sorted manifest-adopted events table shared by the
    pruned/unpruned scan pair — built once per process (resumable-sink
    pattern, like ensure_steno_corpus) so the BENCH timing of each twin
    measures the read path, not table construction."""
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    path = _scratch(sf_dir, "events_scan_bench")
    if not os.path.isdir(os.path.join(path, "_manifest")):
        _shutil.rmtree(path, ignore_errors=True)
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        write_range_sorted(events, path, "user_id", num_partitions=32)
        M.manifest_init(path, stat_cols=["user_id"])
    return path


@register(
    "manifest_scan_unpruned",
    oracle=_SCAN_BENCH_ORACLE,
    tags=("S10", "manifest", "stats", "bench", "scale"),
    doc="Negative control for the manifest read-path bench pair: the SAME "
    "narrow range predicate evaluated by load_manifest_table().filter() — "
    "every one of the 32 range-sorted files enters the plan and the "
    "filter does the work row-wise. Identical results to "
    "manifest_scan_pruned by construction; the bench delta between the "
    "twins is the wall-clock the manifest's metadata-only file skipping "
    "buys (SCALING.md records the skipped-file counts).",
    priority=18,
)
def manifest_scan_unpruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark import manifest as M

    path = _ensure_scan_table(spark, sf_dir)
    return (
        M.load_manifest_table(spark, path)
        .filter(F.col("user_id").between(10, 16))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "manifest_scan_pruned",
    oracle=_SCAN_BENCH_ORACLE,
    tags=("S10", "manifest", "stats", "file-skipping", "bench", "scale"),
    doc="Stats-pruned half of the manifest read-path bench pair "
    "(manifest.py::scan_auto): the file subset for the narrow "
    "user_id range is chosen from the manifest's stored per-file "
    "[min,max] — one JSON read, zero footer opens — before Spark ever "
    "plans the scan; on the 32-file range-sorted layout ~30 of 32 files "
    "never enter the plan. Same oracle as manifest_scan_unpruned: "
    "pruning is an optimization, never a filter.",
    priority=18,
)
def manifest_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark import manifest as M

    path = _ensure_scan_table(spark, sf_dir)
    return (
        M.scan_auto(spark, path, ranges={"user_id": (10, 16)})
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "manifest_scd2_customer",
    oracle="""
    WITH base AS (SELECT c_custkey, c_mktsegment FROM customer),
    hist AS (
      SELECT c_custkey, c_mktsegment AS segment,
             DATE '1995-01-01' AS valid_from,
             CASE WHEN c_custkey % 7 = 0 THEN DATE '1996-06-15' END AS valid_to,
             (c_custkey % 7 <> 0) AS is_current
      FROM base
      UNION ALL
      SELECT c_custkey, 'WAVE1',
             DATE '1996-06-15',
             CASE WHEN c_custkey % 21 = 0 THEN DATE '1997-03-01' END,
             (c_custkey % 21 <> 0)
      FROM base WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey, 'WAVE2', DATE '1997-03-01', NULL, TRUE
      FROM base WHERE c_custkey % 21 = 0
    )
    SELECT c_custkey, segment, valid_from, valid_to, is_current
    FROM hist ORDER BY c_custkey, valid_from
    """,
    tags=("S12", "manifest", "scd2", "merge", "dimension", "new-surface"),
    doc="SCD Type-2 MERGE on a manifest dimension (manifest.py::scd2_init"
    "/scd2_merge — Kimball's slowly-changing-dimension pattern, Delta's "
    "MERGE WHEN MATCHED recipe): customers initialized as current rows, "
    "then two change waves — wave 1 re-segments every 7th key (and "
    "RE-STATES every 11th key's existing segment, which must be a "
    "no-op), wave 2 re-segments every 21st. Each wave closes the "
    "changed keys' current rows (valid_to = effective date) and inserts "
    "the new current rows in ONE manifest version; history rows are "
    "never touched and victim files are found from manifest stats "
    "(metadata-only). The oracle rebuilds the full validity-interval "
    "history from the raw table.",
    priority=18,
)
def manifest_scd2_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    path = _scratch(sf_dir, "scd2_customer")
    _shutil.rmtree(path, ignore_errors=True)
    M.scd2_init(
        spark,
        cust.withColumn("eff", F.lit("1995-01-01").cast("date")),
        path,
        "c_custkey",
        "eff",
    )
    k = F.col("c_custkey")
    wave1 = cust.filter((k % 7 == 0) | (k % 11 == 0)).select(
        "c_custkey",
        F.when(k % 7 == 0, F.lit("WAVE1")).otherwise(F.col("segment")).alias(
            "segment"
        ),
        F.lit("1996-06-15").cast("date").alias("eff"),
    )
    M.scd2_merge(spark, wave1, path, "c_custkey", ["segment"], "eff")
    wave2 = cust.filter(k % 21 == 0).select(
        "c_custkey",
        F.lit("WAVE2").alias("segment"),
        F.lit("1997-03-01").cast("date").alias("eff"),
    )
    M.scd2_merge(spark, wave2, path, "c_custkey", ["segment"], "eff")
    return M.load_manifest_table(spark, path).orderBy("c_custkey", "valid_from")


@register(
    "manifest_mor_delete_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    WHERE user_id NOT IN (3, 4)
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("S12", "manifest", "mor", "delete", "scale", "new-surface"),
    doc="Merge-on-read equality deletes (manifest.py::delete_keys_mor — "
    "Iceberg v2 equality-delete files, the same trade as Delta deletion "
    "vectors): the delete writes ONE small key file and a manifest "
    "entry — zero data-file rewrites, O(keys) at any table size — and "
    "readers apply it as a broadcast anti-join scoped by Iceberg-style "
    "sequence numbers (files added AFTER the delete are not covered, so "
    "re-inserts work). Result must equal the copy-on-write twin "
    "manifest_delete_roundtrip's oracle exactly; sequence semantics, "
    "materialization, vacuum retention, and no-resurrection-under-"
    "compaction are pinned in test_manifest.py::TestMergeOnReadDeletes.",
    priority=18,
)
def manifest_mor_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = _scratch(sf_dir, "events_mor")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(events, path, "user_id", num_partitions=8)
    M.manifest_init(path, stat_cols=["user_id"])
    M.delete_keys_mor(spark, path, "user_id", [3, 4])
    return (
        M.load_manifest_table(spark, path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "manifest_mor_materialized",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    WHERE user_id NOT IN (3, 4)
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("S12", "manifest", "mor", "optimize", "scale", "new-surface"),
    doc="Materialization half of merge-on-read (manifest.py::"
    "materialize_deletes): pending equality-delete entries folded into "
    "rewrites of exactly the files they can touch (stats-pruned victims "
    "— on the user_id-sorted layout only the files whose [min,max] "
    "covers the deleted users are rewritten), entries dropped, one "
    "committed version. The post-materialize snapshot must STILL equal "
    "the same oracle — materialization is a physical re-layout, never a "
    "semantic change.",
    priority=18,
)
def manifest_mor_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = _scratch(sf_dir, "events_mor_mat")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(events, path, "user_id", num_partitions=8)
    M.manifest_init(path, stat_cols=["user_id"])
    M.delete_keys_mor(spark, path, "user_id", [3, 4])
    M.materialize_deletes(spark, path)
    return (
        M.load_manifest_table(spark, path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "manifest_scan_box_zorder",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    WHERE user_id BETWEEN 3 AND 9 AND value BETWEEN 10 AND 40
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("S10", "manifest", "zorder", "stats", "box", "new-surface"),
    doc="Multi-dimension metadata pruning (manifest.py::"
    "scan_auto): after OPTIMIZE ZORDER on (user_id, "
    "value), a small box predicate prunes files on BOTH dimensions at "
    "once from the manifest's stored [min,max] — the query shape "
    "Z-ordering exists for, planned from one JSON with zero footer "
    "opens. Same result as the single-dim scan + row filter "
    "(manifest_zorder_optimize's oracle, reused verbatim); "
    "test_manifest.py asserts the box prune skips at least as many "
    "files as either single dimension alone.",
    priority=18,
)
def manifest_scan_box_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = _scratch(sf_dir, "events_box_zorder")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(events, path, "user_id", num_partitions=8)
    M.manifest_init(path, stat_cols=["user_id", "value"])
    M.optimize_zorder(spark, path, ["user_id", "value"], num_partitions=8)
    return (
        M.scan_auto(
            spark, path, ranges={"user_id": (3, 9), "value": (10, 40)}
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "manifest_mv_refresh",
    oracle="""
    WITH v1 AS (
      SELECT event_id, user_id, round(value, 4) AS value FROM events
    ),
    b2 AS (
      SELECT event_id + 10000000 AS event_id, user_id, round(value, 4) AS value
      FROM events WHERE event_id % 1013 = 0
    ),
    v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM b2)
    SELECT user_id,
           round(sum(value), 6) AS sum_value,
           count(value) AS cnt
    FROM v2
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("manifest", "incremental", "mv", "cdc", "scale", "new-surface"),
    priority=18,
    doc="Incremental materialized-view maintenance (manifest.py::"
    "refresh_aggregate): a per-user (sum, count) MV refreshed from the "
    "base table's CDF delta — first refresh seeds from v1, the second "
    "merges ONLY the appended batch (read_version_delta plans the added "
    "files from metadata), and a third refresh at the same watermark is "
    "a replay no-op (txn skip). The refreshed-through version rides the "
    "MV's txn watermark, committing atomically with the merged rows — "
    "exactly-once with zero side state. Oracle: one-shot aggregate over "
    "base + batch; the incremental result must be indistinguishable.",
)
def manifest_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round("value", 4).alias("value")
    )
    base = _scratch(sf_dir, "events_mv_base")
    mv = _scratch(sf_dir, "events_mv_agg")
    _shutil.rmtree(base, ignore_errors=True)
    _shutil.rmtree(mv, ignore_errors=True)
    write_range_sorted(events, base, "event_id", num_partitions=8)
    M.manifest_init(base)
    M.refresh_aggregate(spark, base, mv, "user_id", "value")
    b2 = events.filter(F.col("event_id") % 1013 == 0).select(
        (F.col("event_id") + 10_000_000).alias("event_id"), "user_id", "value"
    )
    M.append(b2, base)
    v_after = M.refresh_aggregate(spark, base, mv, "user_id", "value")
    # Replay at the same watermark: must be a metadata no-op.
    v_noop = M.refresh_aggregate(spark, base, mv, "user_id", "value")
    assert v_noop == v_after, (v_noop, v_after)
    return (
        M.load_manifest_table(spark, mv)
        .select("user_id", F.round("sum_value", 6).alias("sum_value"), "cnt")
        .orderBy("user_id")
    )


@register(
    "orders_scd2_asof_segment",
    oracle="""
    WITH base AS (SELECT c_custkey, c_mktsegment FROM customer),
    hist AS (
      SELECT c_custkey, c_mktsegment AS segment,
             DATE '1995-01-01' AS valid_from,
             CASE WHEN c_custkey % 7 = 0 THEN DATE '1996-06-15' END AS valid_to
      FROM base
      UNION ALL
      SELECT c_custkey, 'WAVE1',
             DATE '1996-06-15',
             CASE WHEN c_custkey % 21 = 0 THEN DATE '1997-03-01' END
      FROM base WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey, 'WAVE2', DATE '1997-03-01', NULL
      FROM base WHERE c_custkey % 21 = 0
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, h.segment
    FROM orders o
    JOIN hist h
      ON o.o_custkey = h.c_custkey
     AND h.valid_from <= o.o_orderdate
     AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
    ORDER BY o.o_orderkey
    """,
    tags=("manifest", "scd2", "temporal-join", "dimension", "new-surface"),
    priority=18,
    doc="Dimension-as-of-event-time enrichment (the Kimball point-in-time "
    "join): every order joined to the SCD2 customer dimension row VALID "
    "AT o_orderdate — the composite that makes SCD2 history useful, "
    "'which segment was this customer in when they ordered', not 'which "
    "are they in now'. One fact-dim equi-join on the key plus the "
    "validity-interval predicate; dimension rows per key are bounded by "
    "change count, so the join stays broadcast-able and the fact "
    "shuffles at most once at any scale. Reuses the scd2_init/scd2_merge "
    "three-wave table (manifest_scd2_customer); the oracle rebuilds the "
    "same history and replays the interval join.",
)
def orders_scd2_asof_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    path = _scratch(sf_dir, "scd2_asof_customer")
    _shutil.rmtree(path, ignore_errors=True)
    M.scd2_init(
        spark,
        cust.withColumn("eff", F.lit("1995-01-01").cast("date")),
        path,
        "c_custkey",
        "eff",
    )
    k = F.col("c_custkey")
    wave1 = cust.filter((k % 7 == 0) | (k % 11 == 0)).select(
        "c_custkey",
        F.when(k % 7 == 0, F.lit("WAVE1")).otherwise(F.col("segment")).alias(
            "segment"
        ),
        F.lit("1996-06-15").cast("date").alias("eff"),
    )
    M.scd2_merge(spark, wave1, path, "c_custkey", ["segment"], "eff")
    wave2 = cust.filter(k % 21 == 0).select(
        "c_custkey",
        F.lit("WAVE2").alias("segment"),
        F.lit("1997-03-01").cast("date").alias("eff"),
    )
    M.scd2_merge(spark, wave2, path, "c_custkey", ["segment"], "eff")
    dim = M.load_manifest_table(spark, path).select(
        "c_custkey", "segment", "valid_from", "valid_to"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    return (
        orders.join(
            F.broadcast(dim),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("valid_from") <= F.col("o_orderdate"))
            & (
                F.col("valid_to").isNull()
                | (F.col("o_orderdate") < F.col("valid_to"))
            ),
        )
        .select("o_orderkey", "o_custkey", "o_orderdate", "segment")
        .orderBy("o_orderkey")
    )


@register(
    "manifest_bloom_point_lookup",
    oracle="""
    SELECT event_id, user_id, event_type, round(value, 4) AS value
    FROM events WHERE event_id = 777
    """,
    tags=("manifest", "bloom", "point-lookup", "scale", "new-surface"),
    priority=18,
    doc="Bloom-pruned point lookup on a NON-layout key (manifest.py::"
    "ensure_blooms + scan_auto): the table is "
    "range-sorted by user_id, so every file's [min, max] on event_id "
    "overlaps the probe and stats pruning keeps ALL files — the case "
    "min/max structurally cannot help. Per-file bloom filters (md5 "
    "positions, k=6, bitset AUTO-SIZED from each file's distinct-key "
    "count at ~0.3% FP — Parquet's NDV-driven sizing; computed once per "
    "immutable file, carried by every later commit) answer 'can this "
    "file contain key "
    "777?' from the manifest alone; the scan then reads ~1 of 16 files. "
    "False positives only — skipping is an optimization, the exact "
    "filter stays — so the oracle is the plain point SELECT. The query "
    "asserts the prune actually skipped files (and that stats pruning "
    "alone could not).",
)
def manifest_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.round("value", 4).alias("value")
    )
    path = _scratch(sf_dir, "events_bloom_point")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(events, path, "user_id", num_partitions=16)
    M.manifest_init(path, stat_cols=["user_id", "event_id"])
    M.ensure_blooms(spark, path, "event_id")  # bits auto-sized per file NDV
    m = M.read_manifest(path)
    kept, total = M.prune_files_bloom(path, m, "event_id", 777)
    kept_stats, _ = M.prune_files_multi(m, {"event_id": (777, 777)})
    # The demo's point: the bloom prunes strictly harder than range stats
    # on a scattered key (at plain sf dirs stats keep ALL 16 files; the
    # 10x replica's strided ids give stats partial traction, so the
    # invariant is the strict win, not stats' total blindness).
    assert len(kept) < len(kept_stats), (len(kept), len(kept_stats), total)
    assert len(kept) <= max(2, total // 4), (len(kept), total)
    return M.scan_auto(spark, path, eq={"event_id": 777}).orderBy("event_id")


@register(
    "orc_roundtrip_supplier",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS acctbal
    FROM supplier ORDER BY s_suppkey
    """,
    tags=("S3", "S4", "orc", "format", "sink"),
    priority=18,
    doc="ORC round-trip with zstd compression: supplier written as ORC "
    "(Spark's second columnar format — schema evolution, predicate "
    "pushdown, and column pruning all work the same as Parquet) and "
    "read back losslessly; the oracle reads the ORIGINAL table, so any "
    "format loss fails the hash. Broadens the engine's on-disk format "
    "surface beyond Parquet/UNL/JSON.",
)
def orc_roundtrip_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    path = _scratch(sf_dir, "supplier_orc")
    sup.write.mode("overwrite").option("compression", "zstd").orc(path)
    return (
        spark.read.orc(path)
        .select(
            "s_suppkey",
            "s_name",
            "s_nationkey",
            F.round("s_acctbal", 2).alias("acctbal"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "manifest_dml_roundtrip",
    oracle="""
    WITH after_delete AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders
      WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
    ),
    after_update AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'P'
                  THEN CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2) AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM after_delete
    )
    SELECT o_orderstatus,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM after_update
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("manifest", "dml", "delete-where", "update-where"),
    priority=18,
    doc="General-predicate DML on a manifest table (manifest.py::"
    "delete_where / update_where — the DELETE/UPDATE statements "
    "completing the MERGE the layer already has): one scan finds the "
    "files actually containing matching rows, only those rewrite "
    "(survivors byte-identical), each statement is one committed "
    "version. DELETE drops cheap finished orders, UPDATE reprices "
    "pending ones under a CASE WHEN; the final aggregate must equal "
    "replaying both statements in SQL — the oracle.",
)
def manifest_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = _scratch(sf_dir, "orders_dml")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(orders, path, "o_orderkey", num_partitions=6)
    M.manifest_init(path, stat_cols=["o_orderkey"])
    M.delete_where(
        spark, path, "o_orderstatus = 'F' AND o_totalprice < 50000"
    )
    M.update_where(
        spark,
        path,
        "o_orderstatus = 'P'",
        {"o_totalprice": "CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2) AS DOUBLE)"},
    )
    return (
        M.load_manifest_table(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "manifest_delete_pos_roundtrip",
    oracle="""
    WITH alive AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders
      WHERE NOT (o_orderstatus = 'O' AND o_totalprice > 200000)
        AND NOT (o_orderkey % 100 = 7)
    ),
    updated AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'P'
                  THEN CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2) AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM alive
    )
    SELECT o_orderstatus,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM updated
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("manifest", "dml", "deletion-vectors", "merge-on-read"),
    priority=18,
    doc="POSITIONAL merge-on-read DML (manifest.py::delete_where_pos / "
    "update_where_pos — Delta deletion vectors / Iceberg v2 position "
    "deletes in minimal form): two stacked DELETE WHERE statements "
    "write only (file, row_index) coordinate files, then an UPDATE "
    "SET WHERE invalidates its matches through a third DV and appends "
    "the updated copies — ZERO original data files rewrite (asserted); "
    "readers anti-join the broadcast DVs on the parquet reader's "
    "_metadata coordinates, and materialize_deletes folds all vectors "
    "into a rewrite whose aggregate must still match. The oracle "
    "replays all three statements in SQL over the original table. At "
    "100 TB this is the DML path whose cost tracks MATCHES, not the "
    "size of the files containing them.",
)
def manifest_delete_pos_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = _scratch(sf_dir, "orders_posdel")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(orders, path, "o_orderkey", num_partitions=6)
    M.manifest_init(path, stat_cols=["o_orderkey"])
    files0 = set(M.read_manifest(path)["files"])
    M.delete_where_pos(
        spark, path, "o_orderstatus = 'O' AND o_totalprice > 200000"
    )
    M.delete_where_pos(spark, path, "o_orderkey % 100 = 7")
    if set(M.read_manifest(path)["files"]) != files0:
        raise AssertionError("positional delete must not rewrite data files")
    M.update_where_pos(
        spark,
        path,
        "o_orderstatus = 'P'",
        {"o_totalprice": "CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2) AS DOUBLE)"},
    )
    if not files0 <= set(M.read_manifest(path)["files"]):
        raise AssertionError("MoR update must not rewrite original files")
    # Fold the vectors in; the aggregate over the rewritten table must
    # be identical to the merge-on-read view the oracle replays.
    M.materialize_deletes(spark, path)
    if M.read_manifest(path).get("deletes"):
        raise AssertionError("materialize must clear positional entries")
    return (
        M.load_manifest_table(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "manifest_merge_roundtrip",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             'X' AS o_orderstatus,
             CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 0.5, 2) AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 3
    ),
    merged AS (
      SELECT t.o_orderkey,
             CASE WHEN s.o_orderkey IS NOT NULL
                       AND NOT (t.o_totalprice < 50000)
                  THEN s.o_orderstatus ELSE t.o_orderstatus
             END AS o_orderstatus,
             CASE WHEN s.o_orderkey IS NOT NULL
                       AND NOT (t.o_totalprice < 50000)
                  THEN s.o_totalprice ELSE t.o_totalprice
             END AS o_totalprice
      FROM orders t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
      WHERE NOT (s.o_orderkey IS NOT NULL AND t.o_totalprice < 50000)
    )
    SELECT o_orderstatus,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM merged
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("manifest", "dml", "merge-into"),
    priority=18,
    doc="General MERGE INTO (manifest.py::merge_into — the Delta/Iceberg "
    "MERGE statement superseding the fixed-shape upsert): WHEN MATCHED "
    "AND t.o_totalprice < 50000 THEN DELETE, WHEN MATCHED THEN UPDATE "
    "SET status/price from the source, WHEN NOT MATCHED THEN INSERT "
    "(vacuous here — every source key exists, asserted via the returned "
    "counts). Source keys prune the victim set from stored stats, so "
    "files without matches never rewrite; survivors + inserts publish "
    "as ONE version. The oracle replays the clause cascade as a LEFT "
    "JOIN + CASE in SQL.",
)
def manifest_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = _scratch(sf_dir, "orders_merge")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(orders, path, "o_orderkey", num_partitions=6)
    M.manifest_init(path, stat_cols=["o_orderkey"])
    src = orders.filter(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        F.expr(
            "CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 0.5, 2)"
            " AS DOUBLE)"
        ).alias("o_totalprice"),
    )
    res = M.merge_into(
        spark,
        path,
        src,
        "o_orderkey",
        when_matched_update={
            "o_orderstatus": "s.o_orderstatus",
            "o_totalprice": "s.o_totalprice",
        },
        when_matched_delete="t.o_totalprice < 50000",
    )
    if res["inserted"] != 0:
        raise AssertionError("every source key exists — no inserts expected")
    return (
        M.load_manifest_table(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "manifest_merge_full_roundtrip",
    oracle="""
    WITH t AS (
      -- testdata lineitem repeats (orderkey, linenumber): aggregate to a
      -- uniquely-keyed target first (quantities are integral doubles, the
      -- sum is binary-exact)
      SELECT l_orderkey, l_linenumber, sum(l_quantity) AS l_quantity
      FROM lineitem GROUP BY l_orderkey, l_linenumber
    ),
    s AS (
      SELECT l_orderkey, l_linenumber, l_quantity + 100 AS l_quantity
      FROM t WHERE l_orderkey % 7 = 3
      UNION ALL
      SELECT l_orderkey, l_linenumber + 10, CAST(999 AS DOUBLE)
      FROM t WHERE l_orderkey % 31 = 5 AND l_linenumber = 1
    ),
    merged AS (
      SELECT coalesce(t.l_orderkey, s.l_orderkey) AS l_orderkey,
             coalesce(t.l_linenumber, s.l_linenumber) AS l_linenumber,
             CASE
               WHEN t.l_orderkey IS NOT NULL AND s.l_orderkey IS NOT NULL
                 THEN s.l_quantity
               WHEN t.l_orderkey IS NOT NULL
                 THEN t.l_quantity + 1
               ELSE s.l_quantity
             END AS l_quantity
      FROM t FULL OUTER JOIN s
        ON t.l_orderkey = s.l_orderkey
       AND t.l_linenumber = s.l_linenumber
      WHERE NOT (t.l_orderkey IS NOT NULL AND s.l_orderkey IS NOT NULL
                 AND t.l_quantity <= 2)
        AND NOT (t.l_orderkey IS NOT NULL AND s.l_orderkey IS NULL
                 AND t.l_quantity >= 49)
    )
    SELECT l_linenumber,
           count(*) AS n,
           round(sum(l_quantity), 2) AS total
    FROM merged
    GROUP BY l_linenumber
    ORDER BY l_linenumber
    """,
    tags=("manifest", "dml", "merge-into", "composite-key", "by-source"),
    priority=18,
    doc="MERGE INTO at full Delta-2.4 clause parity (manifest.py::"
    "merge_into): COMPOSITE join key (l_orderkey, l_linenumber) plus all "
    "five clause families in one statement — WHEN MATCHED AND qty<=2 "
    "DELETE, WHEN MATCHED UPDATE SET qty from source, WHEN NOT MATCHED "
    "BY SOURCE AND qty>=49 DELETE, WHEN NOT MATCHED BY SOURCE UPDATE "
    "SET qty+1, WHEN NOT MATCHED INSERT (new line numbers). BY SOURCE "
    "clauses touch every file by definition (the full-scan cost Delta "
    "pays too), committed as ONE version; the oracle replays the cascade "
    "as a FULL OUTER JOIN + CASE in SQL. Returned clause counts are "
    "cross-checked against the oracle-side row math in-query.",
)
def manifest_merge_full_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.sum("l_quantity").alias("l_quantity"))
    )
    path = _scratch(sf_dir, "lineitem_merge_full")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(li, path, "l_orderkey", num_partitions=6)
    M.manifest_init(path, stat_cols=["l_orderkey"])
    src = (
        li.filter(F.col("l_orderkey") % 7 == 3)
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_quantity") + 100).alias("l_quantity"),
        )
        .unionByName(
            li.filter(
                (F.col("l_orderkey") % 31 == 5) & (F.col("l_linenumber") == 1)
            ).select(
                "l_orderkey",
                (F.col("l_linenumber") + 10).alias("l_linenumber"),
                F.lit(999.0).alias("l_quantity"),
            )
        )
    )
    res = M.merge_into(
        spark,
        path,
        src,
        ["l_orderkey", "l_linenumber"],
        when_matched_delete="t.l_quantity <= 2",
        when_matched_update={"l_quantity": "s.l_quantity"},
        when_not_matched_by_source_delete="t.l_quantity >= 49",
        when_not_matched_by_source_update={"l_quantity": "t.l_quantity + 1"},
        when_not_matched_insert=True,
    )
    if res["inserted"] == 0 or res["nms_updated"] == 0:
        raise AssertionError(f"degenerate merge: {res}")
    return (
        M.load_manifest_table(spark, path)
        .groupBy("l_linenumber")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("total"),
        )
        .orderBy("l_linenumber")
    )


@register(
    "manifest_clone_roundtrip",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders
      WHERE NOT (o_totalprice > 300000)
    ),
    cl_deleted AS (
      SELECT * FROM src
      WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
    ),
    cl AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'P'
                  THEN round(o_totalprice * 2, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM cl_deleted
    )
    SELECT side, o_orderstatus, n, total FROM (
      SELECT 'clone' AS side, o_orderstatus,
             count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM cl GROUP BY o_orderstatus
      UNION ALL
      SELECT 'source' AS side, o_orderstatus,
             count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM src GROUP BY o_orderstatus
    )
    ORDER BY side, o_orderstatus
    """,
    tags=("manifest", "clone", "branch", "zero-copy"),
    priority=18,
    doc="Zero-copy table branching (manifest.py::clone_table — Delta's "
    "CREATE TABLE CLONE): the source takes a positional (DV) delete, "
    "then a SHALLOW clone pins that state as a new table in one small "
    "JSON — no data bytes move, asserted in-query by the clone dir "
    "holding zero parquet files right after cloning. The clone then "
    "takes its own DELETE WHERE + UPDATE WHERE (victims resolve through "
    "the absolute carried references by basename) while the SOURCE "
    "aggregate must stay exactly at its pre-clone state — both sides "
    "replayed in SQL by the oracle. The dev/test-branch primitive at "
    "100 TB: branching a petabyte corpus costs one metadata commit.",
)
def manifest_clone_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src = _scratch(sf_dir, "orders_clone_src")
    cl = _scratch(sf_dir, "orders_clone_branch")
    for p in (src, cl):
        _shutil.rmtree(p, ignore_errors=True)
    orders.repartition(6).write.parquet(src)
    M.manifest_init(src, stat_cols=["o_orderkey"])
    M.delete_where_pos(spark, src, "o_totalprice > 300000")
    M.clone_table(src, cl, shallow=True)
    if [f for f in _os.listdir(cl) if f.endswith(".parquet")]:
        raise AssertionError("shallow clone moved data bytes")
    M.delete_where(spark, cl, "o_orderstatus = 'F' AND o_totalprice < 50000")
    M.update_where(
        spark, cl, "o_orderstatus = 'P'",
        {"o_totalprice": "round(o_totalprice * 2, 2)"},
    )

    def _agg(path: str, side: str) -> DataFrame:
        return (
            M.load_manifest_table(spark, path)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("total"),
            )
            .select(F.lit(side).alias("side"), "o_orderstatus", "n", "total")
        )

    return (
        _agg(cl, "clone")
        .unionByName(_agg(src, "source"))
        .orderBy("side", "o_orderstatus")
    )


@register(
    "manifest_null_prune",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS pending_total
    FROM orders
    WHERE o_orderstatus = 'P'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("manifest", "stats", "null-pruning", "new-surface"),
    priority=18,
    doc="Null-count file skipping (manifest.py::prune_files_null / "
    "scan_auto(nulls=...) — Delta's nullCount in minimal form): a "
    "sparse column (pending-order price, NULL unless status P) written "
    "range-clustered by status leaves most files ALL-NULL — files range "
    "stats are blind to (no min/max at all, conservatively kept) but "
    "null counts skip exactly. The IS NOT NULL scan must plan fewer "
    "files than the table holds (asserted in-query) and still aggregate "
    "to the same answer as the plain filter — the oracle. At 100 TB "
    "sparse enrichment columns (model scores backfilled per cohort, "
    "opt-in fields) are the norm, and IS NOT NULL is their access path.",
)
def manifest_null_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderstatus") == "P", F.col("o_totalprice")
        ).alias("pending_price"),
    )
    path = _scratch(sf_dir, "orders_null_prune")
    _shutil.rmtree(path, ignore_errors=True)
    orders.repartitionByRange(8, "o_orderstatus", "o_orderkey").write.parquet(
        path
    )
    M.manifest_init(path, stat_cols=["pending_price"])
    kept, total = M.prune_files_null(
        M.read_manifest(path), "pending_price", want_null=False
    )
    if not kept or len(kept) >= total:
        raise AssertionError(
            f"null-count pruning had no effect: kept {len(kept)}/{total}"
        )
    return (
        M.scan_auto(spark, path, nulls={"pending_price": False})
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("pending_price"), 2).alias("pending_total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "orders_table_fingerprint",
    oracle="""
    WITH h AS (
      SELECT ('0x' || substr(md5(
               coalesce(CAST(o_custkey AS VARCHAR), chr(0) || 'null' || chr(0))
               || chr(31) ||
               coalesce(CAST(o_orderkey AS VARCHAR), chr(0) || 'null' || chr(0))
               || chr(31) ||
               coalesce(o_orderstatus, chr(0) || 'null' || chr(0))
             ), 1, 8))::BIGINT AS v
      FROM orders
    )
    SELECT count(*) AS n_rows,
           CAST(coalesce(sum(v), 0) AS BIGINT) AS checksum
    FROM h
    """,
    tags=("validation", "fingerprint", "new-surface"),
    priority=18,
    doc="Order-independent table fingerprint (operators/validate.py::"
    "fingerprint_table): one scan, map-side-combined SUM of per-row md5 "
    "prefixes over name-sorted columns -> a constant-size (n_rows, "
    "checksum) pair invariant to row order and file layout. The "
    "migration/clone/compaction validation primitive: petabyte tables "
    "compare by exchanging ONE row, and the DuckDB oracle replaying the "
    "identical formula IS the cross-engine use case. Clone/restore "
    "equality asserted with it in test_manifest.py.",
)
def orders_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.validate import fingerprint_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus"
    )
    return fingerprint_table(orders)


@register(
    "manifest_hilbert_optimize",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    WHERE user_id BETWEEN 3 AND 9 AND value BETWEEN 10 AND 40
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("S10", "manifest", "hilbert", "optimize", "scale", "new-surface"),
    priority=18,
    doc="OPTIMIZE with a HILBERT key (manifest.py::optimize_hilbert, "
    "jobs.py::hilbert_value — Hamilton's xy->d transform unrolled as "
    "codegen'd column expressions, verified cell-for-cell against a "
    "reference implementation and for the curve's defining adjacency "
    "property in test_skew_jobs.py): the same (user_id, value) "
    "re-layout as manifest_zorder_optimize but along a curve that never "
    "teleports, so file bounding boxes come out tighter — the Z->Hilbert "
    "move behind liquid clustering, measured against Z-order in "
    "test_manifest.py (box-scan file skipping at least as good). The "
    "box-predicate result must equal the raw-table oracle.",
)
def manifest_hilbert_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = _scratch(sf_dir, "events_hilbert_opt")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(events, path, "user_id", num_partitions=8)
    M.manifest_init(path, stat_cols=["user_id", "value"])
    M.optimize_hilbert(spark, path, ["user_id", "value"], num_partitions=8)
    return (
        M.scan_auto(spark, path, ranges={"user_id": (3, 9)})
        .filter(F.col("value").between(10, 40))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "csv_roundtrip_hostile",
    oracle="""
    SELECT c_custkey,
           c_name || ',"quoted" field' || chr(10) || c_mktsegment AS payload,
           round(c_acctbal, 2) AS acctbal
    FROM customer
    ORDER BY c_custkey
    """,
    tags=("S3", "S4", "csv", "format", "sink", "new-surface"),
    priority=18,
    doc="Hostile CSV round-trip: every row's payload carries an embedded "
    "comma, a double-quoted token, AND a literal newline — the three "
    "things that break naive CSV handling — written with Spark's "
    "quoting writer and read back with an explicit schema + multiLine "
    "(embedded newlines make rows span physical lines, so the default "
    "line-splitting reader would shred them). The oracle recomputes the "
    "payload from the ORIGINAL table, so any quoting/escaping loss "
    "fails the hash. Completes the format surface next to UNL "
    "(headerless pipe), JSON, ORC, and Parquet. NOTE the scale trade "
    "multiLine implies: files stop being line-splittable, so each "
    "becomes one task — fine for modest sidecar feeds, wrong for bulk "
    "data (keep newlines out of bulk CSV, or use Parquet).",
)
def csv_roundtrip_hostile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    customer = load_table(spark, sf_dir, "customer")
    out = customer.select(
        "c_custkey",
        F.concat(
            F.col("c_name"),
            F.lit(',"quoted" field\n'),
            F.col("c_mktsegment"),
        ).alias("payload"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    path = _scratch(sf_dir, "customer_csv_hostile")
    _shutil.rmtree(path, ignore_errors=True)
    out.write.option("header", True).csv(path)
    return (
        spark.read.schema("c_custkey long, payload string, acctbal double")
        .option("header", True)
        .option("multiLine", True)
        .csv(path)
        .orderBy("c_custkey")
    )


@register(
    "clone_divergence_buckets",
    oracle="""
    WITH rows_a AS (
      SELECT o_orderkey, o_orderstatus FROM orders
    ),
    rows_b AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 3)
    ),
    fa AS (
      SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               % 64 AS bucket,
             count(*) AS n_rows_a,
             sum(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || chr(31) || o_orderstatus
             ), 1, 8))::BIGINT) AS cs_a
      FROM rows_a GROUP BY 1
    ),
    fb AS (
      SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               % 64 AS bucket,
             count(*) AS n_rows_b,
             sum(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || chr(31) || o_orderstatus
             ), 1, 8))::BIGINT) AS cs_b
      FROM rows_b GROUP BY 1
    )
    SELECT coalesce(fa.bucket, fb.bucket) AS bucket,
           CAST(coalesce(n_rows_a, 0) AS BIGINT) AS n_rows_a,
           CAST(coalesce(n_rows_b, 0) AS BIGINT) AS n_rows_b,
           coalesce(n_rows_a, 0) = coalesce(n_rows_b, 0)
             AND coalesce(cs_a, 0) = coalesce(cs_b, 0) AS match
    FROM fa FULL JOIN fb ON fa.bucket = fb.bucket
    ORDER BY bucket
    """,
    tags=("validation", "reconciliation", "fingerprint", "new-surface"),
    priority=18,
    doc="Merkle-style table reconciliation (operators/validate.py::"
    "fingerprint_buckets/diff_buckets): a manifest table is shallow-"
    "cloned, the clone takes a DELETE, and the two sides are compared "
    "by exchanging 64 (bucket, count, checksum) rows — the anti-entropy "
    "pattern that localizes WHERE two petabyte replicas diverge for one "
    "scan each plus a bucket-count exchange, so the repair rescan "
    "touches only the false buckets. Bucket ids and row hashes use the "
    "engine-reproducible md5 idiom, and the oracle replays BOTH sides' "
    "bucket fingerprints and the full-outer comparison in SQL — the "
    "cross-engine agreement IS the feature.",
)
def clone_divergence_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.operators.validate import diff_buckets

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    src = _scratch(sf_dir, "orders_recon_src")
    cl = _scratch(sf_dir, "orders_recon_clone")
    for p in (src, cl):
        _shutil.rmtree(p, ignore_errors=True)
    orders.repartition(4).write.parquet(src)
    M.manifest_init(src, stat_cols=["o_orderkey"])
    M.clone_table(src, cl, shallow=True)
    M.delete_where(spark, cl, "o_orderstatus = 'F' AND o_orderkey % 10 = 3")
    return diff_buckets(
        M.load_manifest_table(spark, src),
        M.load_manifest_table(spark, cl),
        key_col="o_orderkey",
        n_buckets=64,
        cols=["o_orderkey", "o_orderstatus"],
    ).orderBy("bucket")


@register(
    "orders_expectations",
    oracle="""
    WITH agg AS (
      SELECT count(*) AS n,
             sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS p_price,
             sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 ELSE 0 END)
               AS p_status,
             sum(CASE WHEN o_orderdate IS NOT NULL THEN 1 ELSE 0 END)
               AS p_date,
             sum(CASE WHEN o_orderpriority LIKE '_-%' THEN 1 ELSE 0 END)
               AS p_prio,
             sum(CASE WHEN o_totalprice >= 1000 THEN 1 ELSE 0 END)
               AS p_rich
      FROM orders
    )
    SELECT rule, CAST(n AS BIGINT) AS n_rows, CAST(p AS BIGINT) AS n_pass,
           round(p * 1.0 / n, 6) AS pass_fraction,
           CAST(t AS DOUBLE) AS threshold,
           p * 1.0 / n >= t AS passed
    FROM (
      SELECT 'date_not_null' AS rule, n, p_date AS p, 1.0 AS t FROM agg
      UNION ALL
      SELECT 'price_above_1000', n, p_rich, 0.9 FROM agg
      UNION ALL
      SELECT 'priority_format', n, p_prio, 1.0 FROM agg
      UNION ALL
      SELECT 'price_positive', n, p_price, 1.0 FROM agg
      UNION ALL
      SELECT 'status_in_domain', n, p_status, 1.0 FROM agg
    )
    ORDER BY rule
    """,
    tags=("validation", "expectations", "quality-gate", "new-surface"),
    priority=18,
    doc="Declarative data-quality gate (operators/validate.py::"
    "check_expectations — the great-expectations pattern as ONE "
    "operator): four rules over orders (positive price, status domain, "
    "date present, priority format, price >= 1000 at 90%) ALL in one scan — "
    "a single aggregate with per-rule conditional sums, map-side "
    "combined — then unpivoted to the (rule, pass_fraction, passed) "
    "shape a pipeline asserts on before promoting a batch. NULL "
    "predicate results count as failures. The oracle replays every "
    "rule's sum and threshold comparison in SQL.",
)
def orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pspcz_analyzer_spark.operators.validate import check_expectations

    orders = load_table(spark, sf_dir, "orders")
    return check_expectations(
        orders,
        {
            "price_positive": (F.col("o_totalprice") > 0, 1.0),
            "status_in_domain": (
                F.col("o_orderstatus").isin("F", "O", "P"),
                1.0,
            ),
            "date_not_null": (F.col("o_orderdate").isNotNull(), 1.0),
            "priority_format": (
                F.col("o_orderpriority").like("_-%"), 1.0
            ),
            "price_above_1000": (F.col("o_totalprice") >= 1000, 0.9),
        },
    )


@register(
    "manifest_row_cdf_roundtrip",
    oracle="""
    WITH deleted AS (
      SELECT 'delete' AS change_type, 3 AS commit_version,
             count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders WHERE o_orderstatus = 'F' AND o_totalprice < 50000
    ),
    pre AS (
      SELECT 'update_preimage', 4, count(*),
             round(sum(o_totalprice), 2)
      FROM orders WHERE o_orderstatus = 'P'
    ),
    post AS (
      SELECT 'update_postimage', 4, count(*),
             round(sum(CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2)
                            AS DOUBLE)), 2)
      FROM orders WHERE o_orderstatus = 'P'
    ),
    ins AS (
      SELECT 'insert', 5, count(*), round(sum(o_totalprice), 2)
      FROM orders WHERE o_orderkey % 1009 = 0
    )
    SELECT * FROM deleted UNION ALL SELECT * FROM pre
    UNION ALL SELECT * FROM post UNION ALL SELECT * FROM ins
    ORDER BY commit_version, change_type
    """,
    tags=("manifest", "cdf", "dml", "change-feed"),
    priority=18,
    doc="ROW-LEVEL change data feed (manifest.py::enable_cdf / "
    "read_changes — Delta enableChangeDataFeed + table_changes in "
    "minimal form): after enablement, DELETE WHERE records its matched "
    "rows as _change_type='delete' parquet under _changes/, UPDATE SET "
    "WHERE records update_preimage/update_postimage pairs, and a plain "
    "append needs NO change files — its inserts synthesize from the "
    "sequence map at read time. The feed is replayed per commit version "
    "and aggregated; the oracle derives the identical change sets from "
    "the original table in SQL. Data-neutral commits (compaction) record "
    "an explicitly empty set, and commit types the feed cannot represent "
    "raise instead of guessing (pinned in test_manifest.py::"
    "TestChangeDataFeed).",
)
def manifest_row_cdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = _scratch(sf_dir, "orders_row_cdf")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(orders, path, "o_orderkey", num_partitions=6)
    M.manifest_init(path, stat_cols=["o_orderkey"])  # v1
    M.enable_cdf(path)  # v2
    M.delete_where(
        spark, path, "o_orderstatus = 'F' AND o_totalprice < 50000"
    )  # v3
    M.update_where(
        spark,
        path,
        "o_orderstatus = 'P'",
        {"o_totalprice": "CAST(round(CAST(o_totalprice AS DECIMAL(18,2))"
                         " * 1.1, 2) AS DOUBLE)"},
    )  # v4
    M.append(
        orders.filter(F.col("o_orderkey") % 1009 == 0).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.col("o_orderstatus"),
            F.col("o_totalprice"),
        ),
        path,
    )  # v5
    ch = M.read_changes(spark, path, 2)
    return (
        ch.groupBy(
            F.col("_change_type").alias("change_type"),
            F.col("_commit_version").alias("commit_version"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("commit_version", "change_type")
    )


@register(
    "manifest_replace_where_roundtrip",
    oracle="""
    WITH replaced AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderstatus <> 'P'
      UNION ALL
      SELECT o_orderkey + 20000000, 'P', round(o_totalprice * 2, 2)
      FROM orders WHERE o_orderstatus = 'P'
    )
    SELECT o_orderstatus,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM replaced
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("manifest", "dml", "replace-where", "backfill"),
    priority=18,
    doc="Predicate-scoped atomic overwrite (manifest.py::replace_where — "
    "Delta's replaceWhere / INSERT OVERWRITE WHERE, the backfill "
    "primitive): every 'P' order is deleted and a recomputed batch takes "
    "its place in ONE committed version (no observable delete-then-insert "
    "gap); batch rows must satisfy the predicate (Delta's rule, "
    "violations raise before IO); only files containing matches rewrite. "
    "The *2 multiplier is binary-exact so both engines agree without "
    "decimal casts. The oracle replays the overwrite as "
    "anti-region UNION ALL batch.",
)
def manifest_replace_where_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = _scratch(sf_dir, "orders_replw")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(orders, path, "o_orderkey", num_partitions=6)
    M.manifest_init(path, stat_cols=["o_orderkey"])
    batch = orders.filter(F.col("o_orderstatus") == "P").select(
        (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 2, 2).alias("o_totalprice"),
    )
    M.replace_where(spark, batch, path, "o_orderstatus = 'P'")
    return (
        M.load_manifest_table(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "manifest_row_tracking_roundtrip",
    oracle="""
    WITH survivors AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'P'
                  THEN CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1,
                                  2) AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
    )
    SELECT o_orderstatus,
           count(*) AS n,
           count(*) AS n_id_preserved,
           round(sum(o_totalprice), 2) AS total
    FROM survivors
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("manifest", "row-tracking", "dml", "lineage"),
    priority=18,
    doc="Row tracking (manifest.py::enable_row_tracking — Delta row "
    "lineage in minimal form): every row's _row_id must survive a "
    "DELETE WHERE + UPDATE SET WHERE pair — survivors (updated or "
    "untouched) keep the exact id they had before the DML, carried "
    "through the rewrite as a materialized __row_id column while fresh "
    "rows stay metadata-only (file base + parquet row index, zero "
    "storage). The query snapshots (key, id) before the DML, replays "
    "the DML, and counts per status how many rows kept their id; the "
    "oracle demands n_id_preserved == n for EVERY group — one flipped "
    "id anywhere fails the hash. Values aggregate too, so the DML "
    "semantics stay pinned alongside the lineage.",
)
def manifest_row_tracking_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = _scratch(sf_dir, "orders_rowtrack")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(orders, path, "o_orderkey", num_partitions=6)
    M.manifest_init(path, stat_cols=["o_orderkey"])
    M.enable_row_tracking(path)
    before = (
        M.load_manifest_table(spark, path, with_row_ids=True)
        .select("o_orderkey", F.col("_row_id").alias("_row_id_before"))
        .localCheckpoint()
    )
    M.delete_where(
        spark, path, "o_orderstatus = 'F' AND o_totalprice < 50000"
    )
    M.update_where(
        spark,
        path,
        "o_orderstatus = 'P'",
        {"o_totalprice": "CAST(round(CAST(o_totalprice AS DECIMAL(18,2))"
                         " * 1.1, 2) AS DOUBLE)"},
    )
    after = M.load_manifest_table(spark, path, with_row_ids=True)
    return (
        after.join(before, "o_orderkey", "left")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("_row_id") == F.col("_row_id_before")).cast("long")
            ).alias("n_id_preserved"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "manifest_widen_roundtrip",
    oracle="""
    WITH narrow AS (
      SELECT CAST(o_orderkey AS INT) AS k, o_orderstatus,
             CAST(CAST(floor(o_totalprice) AS REAL) AS DOUBLE) AS price
      FROM orders
    ),
    wide AS (
      SELECT o_orderkey + 5000000000 AS k,
             'W' AS o_orderstatus,
             floor(o_totalprice) AS price
      FROM orders WHERE o_orderkey % 1000 = 1
    ),
    u AS (
      SELECT * FROM narrow UNION ALL SELECT * FROM wide
    )
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(k) AS BIGINT) AS key_total,
           CAST(sum(price) AS BIGINT) AS total
    FROM u
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("manifest", "ddl", "type-widening", "schema-evolution"),
    priority=18,
    doc="ALTER COLUMN TYPE widening (manifest.py::widen_column_type — "
    "Delta 3.x type widening in minimal form): a table written with "
    "INT keys and FLOAT prices widens both columns to BIGINT/DOUBLE in "
    "one metadata-only commit (asserted: zero files change), then an "
    "append lands keys ABOVE the int32 range — impossible without the "
    "widen. Readers project every file onto the declared schema, so "
    "old narrow files upcast per file (Spark 4 read-side type "
    "widening) and mix with wide files in one scan. floor() keeps all "
    "prices integral (exact in float32 below 2^24 and in the double "
    "sums), so the aggregate is binary-exact on both engines. The "
    "oracle replays the narrow cast + upcast + wide union in SQL.",
)
def manifest_widen_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M

    orders = load_table(spark, sf_dir, "orders")
    narrow = orders.select(
        F.col("o_orderkey").cast("int").alias("k"),
        "o_orderstatus",
        F.floor("o_totalprice").cast("float").alias("price"),
    )
    path = _scratch(sf_dir, "orders_widen")
    _shutil.rmtree(path, ignore_errors=True)
    narrow.coalesce(4).write.parquet(path)
    M.manifest_init(path, stat_cols=["k"])
    files0 = set(M.read_manifest(path)["files"])
    M.widen_column_type(path, "k", "bigint")
    M.widen_column_type(path, "price", "double")
    if set(M.read_manifest(path)["files"]) != files0:
        raise AssertionError("type widening must be metadata-only")
    wide = orders.filter(F.col("o_orderkey") % 1000 == 1).select(
        (F.col("o_orderkey") + F.lit(5_000_000_000)).alias("k"),
        F.lit("W").alias("o_orderstatus"),
        F.floor("o_totalprice").cast("double").alias("price"),
    )
    M.append(wide, path)
    return (
        M.load_manifest_table(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("key_total"),
            F.sum("price").cast("long").alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "manifest_default_roundtrip",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, 'store' AS channel
      FROM orders
    ),
    wave_a AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus,
             'web' AS channel
      FROM orders WHERE o_orderkey % 100 = 1
    ),
    wave_b AS (
      SELECT o_orderkey + 20000000 AS o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'O' THEN 'app' ELSE NULL END AS channel
      FROM orders WHERE o_orderkey % 100 = 2
    ),
    u AS (
      SELECT * FROM base
      UNION ALL SELECT * FROM wave_a
      UNION ALL SELECT * FROM wave_b
    ),
    alive AS (
      SELECT * FROM u WHERE NOT (o_orderkey % 10 = 9)
    )
    SELECT coalesce(channel, 'none') AS channel,
           count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_total
    FROM alive
    GROUP BY coalesce(channel, 'none')
    ORDER BY channel
    """,
    tags=("manifest", "ddl", "column-defaults", "schema-evolution"),
    priority=18,
    doc="ADD COLUMN ... DEFAULT (manifest.py::add_column initial/write "
    "defaults — Iceberg v3 in minimal form): the initial default "
    "'store' fills every pre-existing row METADATA-ONLY (exactly the "
    "files whose sequence number predates the column — asserted zero "
    "files change); an append OMITTING the column materializes the "
    "write default 'web'; an append SUPPLYING it keeps explicit values "
    "including explicit NULLs (which must NOT default-fill); a "
    "DELETE WHERE rewrite then materializes the initial default into "
    "survivor files without changing any read result. The oracle "
    "replays all three waves plus the delete in SQL.",
)
def manifest_default_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    path = _scratch(sf_dir, "orders_defaults")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(orders, path, "o_orderkey", num_partitions=6)
    M.manifest_init(path, stat_cols=["o_orderkey"])
    files0 = set(M.read_manifest(path)["files"])
    M.add_column(
        path, "channel", "string",
        initial_default="'store'", write_default="'web'",
    )
    if set(M.read_manifest(path)["files"]) != files0:
        raise AssertionError("ADD COLUMN DEFAULT must be metadata-only")
    wave_a = orders.filter(F.col("o_orderkey") % 100 == 1).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_orderstatus",
    )
    M.append(wave_a, path)  # omits channel -> write default
    wave_b = orders.filter(F.col("o_orderkey") % 100 == 2).select(
        (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
        "o_orderstatus",
        F.when(F.col("o_orderstatus") == "O", F.lit("app")).alias("channel"),
    )
    M.append(wave_b, path)  # explicit values incl. explicit NULLs
    M.delete_where(spark, path, "o_orderkey % 10 = 9")
    return (
        M.load_manifest_table(spark, path)
        .groupBy(F.coalesce(F.col("channel"), F.lit("none")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_total"),
        )
        .orderBy("channel")
    )



@register(
    "manifest_identity_roundtrip",
    oracle="""
    WITH n AS (
      SELECT (SELECT count(*) FROM orders)
           + (SELECT count(*) FROM orders WHERE o_orderkey % 100 = 1)
           AS total
    )
    SELECT CAST(total AS BIGINT) AS n,
           CAST(total AS BIGINT) AS distinct_ids,
           CAST(1000 AS BIGINT) AS min_id,
           CAST(1000 + 3 * (total - 1) AS BIGINT) AS max_id,
           CAST(1000 * total + 3 * total * (total - 1) / 2 AS BIGINT)
             AS id_total
    FROM n
    """,
    tags=("manifest", "ddl", "identity", "schema-evolution"),
    priority=18,
    doc="GENERATED ALWAYS AS IDENTITY (manifest.py::add_identity_column "
    "— Delta identity columns in minimal form): existing rows backfill "
    "METADATA-ONLY (asserted: zero files change) as start + step * "
    "ordinal via per-file bases, an append omitting the column extends "
    "the sequence atomically with its commit (the optimistic version "
    "file IS the counter — no side state, no cross-writer race). The "
    "per-row assignment is allocation-order-defined, so the oracle "
    "pins the order-independent invariants that identity semantics "
    "guarantee: N ids, all distinct, exactly the arithmetic sequence "
    "start..start+step*(N-1) (min, max, and the closed-form sum — one "
    "duplicated or skipped id anywhere fails the hash).",
)
def manifest_identity_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    path = _scratch(sf_dir, "orders_identity")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(orders, path, "o_orderkey", num_partitions=6)
    M.manifest_init(path, stat_cols=["o_orderkey"])
    files0 = set(M.read_manifest(path)["files"])
    M.add_identity_column(path, "order_uid", start=1000, step=3)
    if set(M.read_manifest(path)["files"]) != files0:
        raise AssertionError("identity backfill must be metadata-only")
    wave = orders.filter(F.col("o_orderkey") % 100 == 1).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_orderstatus",
    )
    M.append(wave, path)
    return M.load_manifest_table(spark, path).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("order_uid")).alias("distinct_ids"),
        F.min("order_uid").alias("min_id"),
        F.max("order_uid").alias("max_id"),
        F.sum("order_uid").alias("id_total"),
    )


@register(
    "manifest_drop_readd_roundtrip",
    oracle="""
    WITH old_rows AS (
      SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice
      FROM orders
    ),
    wave AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus,
             floor(o_totalprice) AS o_totalprice
      FROM orders WHERE o_orderkey % 100 = 1
    ),
    u AS (
      SELECT * FROM old_rows UNION ALL SELECT * FROM wave
    )
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
           CAST(coalesce(sum(o_totalprice), 0) AS BIGINT) AS total
    FROM u
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("manifest", "ddl", "drop-column", "schema-evolution"),
    priority=18,
    doc="DROP COLUMN + re-ADD (manifest.py::drop_column — Delta's "
    "drop-with-column-mapping in minimal form): the column leaves the "
    "schema in one metadata commit (asserted: zero files change; the "
    "requested-schema scan stops reading its bytes), its physical name "
    "enters a monotone dropped ledger, and a later add_column with the "
    "SAME name binds a fresh physical name — so every pre-drop row "
    "must read NULL, never the retained stale bytes (the n_null "
    "aggregate fails the hash if even one old value resurrects). A "
    "post-re-add append writes real values under the fresh physical "
    "name, proving reads and writes route through the new binding.",
)
def manifest_drop_readd_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = _scratch(sf_dir, "orders_dropreadd")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(orders, path, "o_orderkey", num_partitions=6)
    M.manifest_init(path, stat_cols=["o_orderkey"])
    files0 = set(M.read_manifest(path)["files"])
    M.drop_column(path, "o_totalprice")
    M.add_column(path, "o_totalprice", "double")
    if set(M.read_manifest(path)["files"]) != files0:
        raise AssertionError("DROP/ADD COLUMN must be metadata-only")
    wave = orders.filter(F.col("o_orderkey") % 100 == 1).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_orderstatus",
        F.floor("o_totalprice").cast("double").alias("o_totalprice"),
    )
    M.append(wave, path)
    return (
        M.load_manifest_table(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)
            ).alias("n_null"),
            F.coalesce(F.sum("o_totalprice"), F.lit(0.0))
            .cast("long")
            .alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "manifest_cluster_incremental",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, floor(o_totalprice) AS price
      FROM orders
    ),
    wave AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus,
             floor(o_totalprice) AS price
      FROM orders WHERE o_orderkey % 50 = 1
    ),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM wave)
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(price) AS BIGINT) AS total
    FROM u
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("manifest", "optimize", "liquid-clustering", "incremental"),
    priority=18,
    doc="Incremental clustering (manifest.py::optimize_clustered — Delta "
    "liquid clustering's core move in minimal form): pass 1 clusters "
    "the whole table on price; an appended wave then clusters in pass "
    "2 WITHOUT touching pass 1's outputs (asserted in-query: every "
    "pass-1 file still referenced, only the wave's files rewrote) — "
    "maintenance cost tracks INGEST, not table size, which at 100 TB "
    "is the difference between re-laying the lake nightly and "
    "clustering the day's arrivals. Outputs are sequence-stamped AT "
    "the watermark so they are never re-clustered and a concurrent "
    "append stays pending for the next pass. The aggregate must equal "
    "the plain union — clustering is layout, never semantics.",
)
def manifest_cluster_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor("o_totalprice").cast("double").alias("price"),
    )
    path = _scratch(sf_dir, "orders_liquid")
    _shutil.rmtree(path, ignore_errors=True)
    orders.repartition(6).write.parquet(path)
    M.manifest_init(path, stat_cols=["price"])
    n1, w1 = M.optimize_clustered(spark, path, ["price"], num_partitions=4)
    if n1 < 6:
        raise AssertionError("pass 1 must cluster the whole table")
    pass1_files = set(M.read_manifest(path)["files"])
    wave = orders.filter(F.col("o_orderkey") % 50 == 1).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_orderstatus",
        "price",
    )
    M.append(wave.repartition(2), path)
    n2, w2 = M.optimize_clustered(spark, path, ["price"], num_partitions=2)
    if n2 != 2:
        raise AssertionError(
            f"pass 2 must cluster ONLY the wave's 2 files, saw {n2}"
        )
    m = M.read_manifest(path)
    if not pass1_files <= set(m["files"]):
        raise AssertionError("pass 2 touched pass-1 outputs")
    return (
        M.load_manifest_table(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("price").cast("long").alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "manifest_wap_roundtrip",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus FROM orders
    ),
    published AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus
      FROM orders WHERE o_orderkey % 100 = 1
    ),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM published)
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_total
    FROM u
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("manifest", "wap", "write-audit-publish", "staging"),
    priority=18,
    doc="Write-audit-publish (manifest.py::stage_append/load_staged/"
    "publish_staged/drop_staged — Iceberg's WAP pattern in minimal "
    "form): one wave stages, audits against the would-be table "
    "(asserted: the TABLE count is unchanged while the audit view "
    "sees the union), and publishes METADATA-ONLY (asserted: the "
    "staged files join the file list byte-identical); a second wave "
    "stages and is DROPPED after a failed audit — the oracle counts "
    "only base + published rows, so a leaked dropped row or a "
    "premature publish fails the hash. At 100 TB this is how bad "
    "ingests die before anyone queries them.",
)
def manifest_wap_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    path = _scratch(sf_dir, "orders_wap")
    _shutil.rmtree(path, ignore_errors=True)
    write_range_sorted(orders, path, "o_orderkey", num_partitions=6)
    M.manifest_init(path, stat_cols=["o_orderkey"])
    n_base = M.load_manifest_table(spark, path).count()
    good = orders.filter(F.col("o_orderkey") % 100 == 1).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_orderstatus",
    )
    bad = orders.filter(F.col("o_orderkey") % 100 == 2).select(
        (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
        "o_orderstatus",
    )
    M.stage_append(good, path, "good_wave")
    M.stage_append(bad, path, "bad_wave")
    if M.load_manifest_table(spark, path).count() != n_base:
        raise AssertionError("staged batches must be invisible to readers")
    n_good = good.count()
    if M.load_staged(spark, path, "good_wave").count() != n_base + n_good:
        raise AssertionError("audit view must show table + staged batch")
    files0 = set(M.read_manifest(path)["files"])
    M.publish_staged(spark, path, "good_wave")
    if not files0 < set(M.read_manifest(path)["files"]):
        raise AssertionError("publish must be metadata-only (additive)")
    M.drop_staged(path, "bad_wave")  # the audit failed: discard
    if M.list_staged(path):
        raise AssertionError("no refs may remain staged")
    return (
        M.load_manifest_table(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "manifest_lakehouse_lifecycle",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, floor(o_totalprice) AS price
      FROM orders
    ),
    wave AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus,
             floor(o_totalprice) AS price
      FROM orders WHERE o_orderkey % 100 = 1
    ),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM wave),
    survivors AS (
      SELECT * FROM u WHERE NOT (o_orderkey % 10 = 7)
    ),
    deleted AS (
      SELECT count(*) AS n_deleted FROM u WHERE o_orderkey % 10 = 7
    )
    SELECT s.o_orderstatus,
           count(*) AS n,
           CAST(sum(s.price) AS BIGINT) AS total,
           min(d.n_deleted) AS feed_deletes
    FROM survivors s CROSS JOIN deleted d
    GROUP BY s.o_orderstatus
    ORDER BY s.o_orderstatus
    """,
    tags=("manifest", "lifecycle", "wap", "cdf", "liquid-clustering"),
    priority=18,
    doc="The composed lakehouse ingestion lifecycle in ONE query — the "
    "integration the individual green rows imply but never exercise "
    "together: a CDF-enabled, stat-tracked table takes a wave through "
    "stage -> audit (load_staged row count) -> publish (metadata-only, "
    "asserted), the arrivals incrementally cluster (pass touches only "
    "them, asserted), a DELETE WHERE rewrites through the clustered "
    "layout, and the change feed for the delete version is counted "
    "back into the result — the oracle replays base + wave - deletes "
    "in SQL and pins the feed's delete count per group. Any feature "
    "interaction bug (publish breaking the watermark, clustering "
    "eating the feed, DML losing clustered rows) fails the hash.",
)
def manifest_lakehouse_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor("o_totalprice").cast("double").alias("price"),
    )
    path = _scratch(sf_dir, "orders_lifecycle")
    _shutil.rmtree(path, ignore_errors=True)
    orders.repartition(6).write.parquet(path)
    M.manifest_init(path, stat_cols=["o_orderkey"])
    M.enable_cdf(path)
    M.optimize_clustered(spark, path, ["o_orderkey"], num_partitions=4)
    n_base = M.load_manifest_table(spark, path).count()
    wave = orders.filter(F.col("o_orderkey") % 100 == 1).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_orderstatus",
        "price",
    )
    M.stage_append(wave.repartition(2), path, "ingest")
    n_wave = wave.count()
    if M.load_staged(spark, path, "ingest").count() != n_base + n_wave:
        raise AssertionError("audit view must show table + staged wave")
    files0 = set(M.read_manifest(path)["files"])
    M.publish_staged(spark, path, "ingest")
    if not files0 < set(M.read_manifest(path)["files"]):
        raise AssertionError("publish must be metadata-only")
    n_clustered, _w = M.optimize_clustered(
        spark, path, ["o_orderkey"], num_partitions=2
    )
    if n_clustered != 2:
        raise AssertionError(
            f"incremental pass must cluster ONLY the wave, saw {n_clustered}"
        )
    v_before = M.current_version(path)
    M.delete_where(spark, path, "o_orderkey % 10 = 7")
    feed = M.read_changes(spark, path, v_before)
    n_feed_deletes = feed.filter(F.col("_change_type") == "delete").count()
    return (
        M.load_manifest_table(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("price").cast("long").alias("total"),
            F.lit(n_feed_deletes).cast("long").alias("feed_deletes"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "interchange_roundtrip",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice) AS BIGINT) AS cena
      FROM orders
      WHERE o_orderkey % 3 = 0 AND o_orderkey NOT IN (3, 6, 9, 12)
    )
    SELECT o_custkey % 50 AS cust_bucket,
           count(*) AS n,
           CAST(sum(cena) AS BIGINT) AS cena_total,
           CAST(min(o_orderkey) AS BIGINT) AS first_key
    FROM src
    GROUP BY cust_bucket
    ORDER BY cust_bucket
    """,
    tags=("manifest", "interchange", "import", "export", "new-surface"),
    priority=18,
    doc="Two-way interchange escape hatch (manifest.py::export_snapshot +"
    " import_snapshot): a manifest table carrying reader-support features"
    " (a renamed column via the column mapping, pending merge-on-read"
    " delete entries) exports to PLAIN parquet — every feature resolved"
    " into ordinary bytes — and the export is adopted back as a FRESH"
    " manifest table WITHOUT mutating the hand-off directory (asserted:"
    " the export dir's file list is unchanged). Metadata rebuilds on the"
    " lazy plan a 100 TB adoption wants: [min,max] stats once from"
    " footers at import, blooms only as a STANDING policy that the first"
    " maintain() tick backfills (asserted: pointers prune a point lookup"
    " through the sidecars afterwards). The oracle recomputes the"
    " surviving rows from the base table, so a row lost or duplicated"
    " anywhere in the export -> import -> maintain chain fails the hash.",
)
def interchange_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    src = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 3 == 0
    ).select(
        "o_orderkey",
        "o_custkey",
        F.floor("o_totalprice").alias("price"),
    )
    path = _scratch(sf_dir, "interchange_src")
    exp = _scratch(sf_dir, "interchange_export")
    dst = _scratch(sf_dir, "interchange_import")
    for p in (path, exp, dst):
        _shutil.rmtree(p, ignore_errors=True)
    write_range_sorted(src, path, "o_orderkey", num_partitions=4)
    M.manifest_init(path, stat_cols=["o_orderkey"])
    M.rename_column(path, "price", "cena")  # column mapping in play
    M.delete_keys_mor(spark, path, "o_orderkey", [3, 6, 9, 12])
    M.export_snapshot(spark, path, exp, num_partitions=4)
    fs, rel = M.get_fs(exp)
    exp_files0 = sorted(f for f in fs.listdir(rel) if f.endswith(".parquet"))
    M.import_snapshot(
        exp, dst, stat_cols=["o_orderkey"], bloom_cols=["o_custkey"]
    )
    if (M.read_manifest(dst).get("blooms") or {}):
        raise AssertionError("import must NOT build blooms eagerly")
    out = M.maintain(spark, dst, vacuum_min_age_seconds=0)
    if out["blooms_backfilled"] != 1:
        raise AssertionError("first maintain() tick must backfill blooms")
    probe = M.load_manifest_table(spark, dst).select("o_custkey").first()[0]
    may, total = M.prune_files_bloom(
        dst, M.read_manifest(dst), "o_custkey", probe
    )
    if not (0 < len(may) <= total):
        raise AssertionError("sidecar blooms must serve point-lookup pruning")
    exp_files1 = sorted(f for f in fs.listdir(rel) if f.endswith(".parquet"))
    if exp_files0 != exp_files1:
        raise AssertionError("import must leave the hand-off dir untouched")
    return (
        M.load_manifest_table(spark, dst)
        .groupBy((F.col("o_custkey") % 50).alias("cust_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cena").cast("long").alias("cena_total"),
            F.min("o_orderkey").alias("first_key"),
        )
        .orderBy("cust_bucket")
    )


@register(
    "hive_adopt_roundtrip",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_orderpriority AS prio,
             CAST(floor(o_totalprice) AS BIGINT) AS cena
      FROM orders
      WHERE o_orderkey % 5 != 0
    )
    SELECT prio,
           count(*) AS n,
           CAST(sum(cena) AS BIGINT) AS cena_total,
           CAST(min(o_orderkey) AS BIGINT) AS first_key
    FROM src
    GROUP BY prio
    ORDER BY prio
    """,
    tags=("manifest", "convert", "hive", "partition", "new-surface"),
    priority=18,
    doc="In-place adoption of a hive-partitioned directory"
    " (manifest.py::convert_to_manifest — Delta's CONVERT TO DELTA /"
    " Iceberg migrate): orders land as a partitionBy(prio) hive tree,"
    " adoption is METADATA-ONLY (leaf renames + one commit; zero data"
    " IO — asserted: the adopted file set is byte-identical), partition"
    " VALUES read back from directory tokens via the per-file broadcast"
    " fill (asserted: token pruning gives a proper file subset), and a"
    " cross-partition DELETE rewrites through the fill so the oracle's"
    " surviving-row recompute hash-checks the whole"
    " adopt -> read -> prune -> DML chain.",
)
def hive_adopt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M

    path = _scratch(sf_dir, "hive_adopt")
    _shutil.rmtree(path, ignore_errors=True)
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.floor("o_totalprice").alias("cena"),
    ).write.partitionBy("prio").parquet(path)
    # Keyed by (dir, file): partitionBy writers REUSE basenames across
    # partition dirs — the very collision convert_to_manifest renames away.
    sizes0 = {
        (d, f): _os.path.getsize(_os.path.join(path, d, f))
        for d in _os.listdir(path)
        if _os.path.isdir(_os.path.join(path, d)) and not d.startswith("_")
        for f in _os.listdir(_os.path.join(path, d))
        if f.endswith(".parquet")
    }
    M.convert_to_manifest(path)
    m = M.read_manifest(path)
    if sorted(sizes0.values()) != sorted(
        _os.path.getsize(_os.path.join(path, f)) for f in m["files"]
    ):
        raise AssertionError("adoption must be zero-data-IO (renames only)")
    may, total = M.prune_files_partition(m, {"prio": "1-URGENT"})
    if not (0 < len(may) < total):
        raise AssertionError("token pruning must give a proper file subset")
    M.delete_where(spark, path, "o_orderkey % 5 = 0")
    return (
        M.load_manifest_table(spark, path)
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cena").cast("long").alias("cena_total"),
            F.min("o_orderkey").alias("first_key"),
        )
        .orderBy("prio")
    )


@register(
    "manifest_scan_auto",
    oracle="""
    SELECT o_orderkey,
           CAST(floor(o_totalprice) AS BIGINT) AS cena
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderkey BETWEEN 1000 AND 3000
    ORDER BY o_orderkey
    """,
    tags=("manifest", "scan-builder", "pruning", "new-surface", "scale"),
    priority=18,
    doc="The composed scan planner (manifest.py::scan_auto — the"
    " Delta/Iceberg scan-builder contract): the caller states eq+range"
    " predicates and the planner intersects partition TOKENS (the"
    " priority equality, through the hive-adopted identity spec),"
    " per-file [min,max] STATS (the key range, range-sorted layout),"
    " and per-file BLOOMS (the priority again, over the partition-fill"
    " column — the r8 logical-read bloom path), then reads only the"
    " surviving files through the MoR view and applies the exact"
    " filter. Asserted: the planned file set is a PROPER subset of the"
    " table; the oracle recomputes from the base table so any file the"
    " planner wrongly skipped (a bloom/stats/token false negative)"
    " fails the hash.",
)
def manifest_scan_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M

    path = _scratch(sf_dir, "scan_auto_orders")
    _shutil.rmtree(path, ignore_errors=True)
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.floor("o_totalprice").alias("cena"),
    ).sort("o_orderkey").write.partitionBy("prio").parquet(path)
    M.convert_to_manifest(path, stat_cols=["o_orderkey"])
    M.ensure_blooms(spark, path, "prio")
    out = M.scan_auto(
        spark,
        path,
        eq={"prio": "1-URGENT"},
        ranges={"o_orderkey": (1000, 3000)},
    )
    # proper-subset proof: the token prune alone already restricts to
    # one partition's files (scan_auto intersects it with stats+blooms)
    may, total = M.prune_files_partition(
        M.read_manifest(path), {"prio": "1-URGENT"}
    )
    if not (0 < len(may) < total):
        raise AssertionError("planned file set must be a proper subset")
    return out.select("o_orderkey", "cena").orderBy("o_orderkey")


@register(
    "manifest_segmented_lifecycle",
    oracle="""
    WITH survivors AS (
      SELECT o_orderkey, o_custkey
      FROM orders
      WHERE o_orderkey % 97 != 3
    ),
    appended AS (
      SELECT o_orderkey + 20000000 AS o_orderkey, o_custkey
      FROM orders WHERE o_orderkey % 500 = 7
    ),
    u AS (SELECT * FROM survivors UNION ALL SELECT * FROM appended)
    SELECT o_custkey % 20 AS bucket,
           count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_total
    FROM u
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("manifest", "two-level", "segments", "new-surface", "scale"),
    priority=18,
    doc="Two-level manifest lifecycle (manifest.py::_segmentize /"
    " compact_segments — Iceberg's manifest-list design in minimal"
    " form): an 80-file table commits SEGMENTED (asserted: the version"
    " blob holds segment references, no flat file list), an append"
    " reuses every previous segment by name and writes exactly one new"
    " one (asserted — the O(delta) commit contract), a predicate DELETE"
    " dirties only victim segments, and maintain() consolidates the"
    " fragmented name list metadata-only. The oracle recomputes"
    " survivors + appended rows from the base table, so a row lost or"
    " resurrected anywhere in the segment round-trip fails the hash.",
)
def manifest_segmented_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os as _os
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    path = _scratch(sf_dir, "segmented_orders")
    _shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    write_range_sorted(orders, path, "o_orderkey", num_partitions=80)
    M.manifest_init(path, stat_cols=["o_orderkey"])

    def raw(v):
        return _json.loads(
            open(_os.path.join(path, "_manifest", f"{v:08d}.json")).read()
        )

    r1 = raw(M.current_version(path))
    if "segments" not in r1 or "files" in r1:
        raise AssertionError("an 80-file commit must be two-level")
    M.append(
        orders.filter(F.col("o_orderkey") % 500 == 7).select(
            (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
            "o_custkey",
        ).coalesce(1),
        path,
    )
    r2 = raw(M.current_version(path))
    if not (
        set(r1["segments"]) < set(r2["segments"])
        and len(r2["segments"]) == len(r1["segments"]) + 1
    ):
        raise AssertionError(
            "an append must reuse every prior segment and add exactly one"
        )
    M.delete_where(spark, path, "o_orderkey % 97 = 3 AND o_orderkey < 20000000")
    M.maintain(spark, path, vacuum_min_age_seconds=0.0)
    return (
        M.load_manifest_table(spark, path)
        .groupBy((F.col("o_custkey") % 20).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_total"),
        )
        .orderBy("bucket")
    )


@register(
    "manifest_join_auto",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey BETWEEN 1 AND
          (SELECT CAST(floor(max(o_orderkey) * 0.25) AS BIGINT) FROM orders)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("manifest", "cbo", "broadcast", "join", "new-surface", "scale"),
    priority=18,
    doc="Stats-driven join planning (manifest.py::scan_estimate /"
    " join_strategy / join_auto — the DSv2 SupportsReportStatistics"
    " contract as a library): both sides are manifest tables, the"
    " planner sizes each side FROM METADATA (post-pruning footer rows +"
    " one fs stat per kept file, zero Spark actions), and hints"
    " broadcast on the side that proves small — here the customer dim,"
    " against an orders fact pruned by range-sorted [min,max] stats to"
    " a proper file subset. Asserted: the fact prune engaged, a"
    " broadcast side was chosen, and the hint reached Spark's analyzed"
    " plan. The oracle replays the join from the base tables, so a row"
    " lost to wrong pruning or a hint-induced semantics change fails"
    " the hash. At 100 TB this decision is the difference between"
    " shuffling a fact table and shipping a KB-sized dim — made before"
    " Spark ever sees the plan, where a raw directory read would have"
    " sized the UNPRUNED relation.",
)
def manifest_join_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    fact_path = _scratch(sf_dir, "join_auto_orders")
    dim_path = _scratch(sf_dir, "join_auto_customer")
    _shutil.rmtree(fact_path, ignore_errors=True)
    _shutil.rmtree(dim_path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_range_sorted(orders, fact_path, "o_orderkey", num_partitions=6)
    M.manifest_init(fact_path, stat_cols=["o_orderkey"])
    load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    ).coalesce(1).write.parquet(dim_path)
    M.manifest_init(dim_path)

    # Scale-relative range: the first quarter of the key domain (keys
    # are dense at every sf), so the stats prune keeps ~2 of 6 range-
    # sorted files regardless of scale factor. One 1-row agg.
    hi = int(orders.agg(F.max("o_orderkey")).first()[0] * 0.25)
    choice: dict = {}
    joined = M.join_auto(
        spark,
        {"path": fact_path, "ranges": {"o_orderkey": (1, hi)}},
        dim_path,
        on=F.col("o_custkey") == F.col("c_custkey"),
        choice_out=choice,
    )
    if not choice["strategy"].startswith("broadcast"):
        raise AssertionError(f"expected a broadcast pick, got {choice}")
    if not choice["left"]["files_kept"] < choice["left"]["files_total"]:
        raise AssertionError(f"fact prune did not engage: {choice['left']}")
    analyzed = joined._jdf.queryExecution().analyzed().toString()
    if "broadcast" not in analyzed.lower():
        raise AssertionError("broadcast hint missing from analyzed plan")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "manifest_join_auto_pruned",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey BETWEEN 1 AND
          (SELECT CAST(floor(max(c_custkey) * 0.125) AS BIGINT)
           FROM customer)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=(
        "manifest", "cbo", "broadcast", "join", "dpp", "new-surface",
        "scale",
    ),
    priority=18,
    doc="Composed join planning (manifest.py::join_auto with"
    " runtime_prune — the r8 verdict's ask #3): ONE call fuses the"
    " three planners that were separate surfaces — predicate file"
    " pruning (scan_auto), stats-driven broadcast choice"
    " (join_strategy), and dim-driven runtime fact-file pruning"
    " (join_runtime_pruned's dynamic file pruning). The customer dim"
    " is filtered to the first eighth of the key domain; its surviving"
    " keys shrink the custkey-range-sorted orders fact to a proper"
    " file subset BEFORE the scan is built. Asserted in-plan: a"
    " broadcast side was chosen, runtime pruning engaged with"
    " files_kept < files_total, and the hint reached the analyzed"
    " plan. The oracle replays the join from the base tables, so a"
    " fact row lost to over-pruning fails the hash. At 100 TB this is"
    " the star-schema plan: a dim filtered to one region prunes the"
    " fact to the files its keys touch — where Spark's own DPP only"
    " prunes hive partition directories.",
)
def manifest_join_auto_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    fact_path = _scratch(sf_dir, "join_pruned_orders")
    dim_path = _scratch(sf_dir, "join_pruned_customer")
    _shutil.rmtree(fact_path, ignore_errors=True)
    _shutil.rmtree(dim_path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    # Range-sorted on the JOIN key: runtime pruning by dim keys can
    # exclude whole files only when the fact's [min,max] stats carve
    # the key domain.
    write_range_sorted(orders, fact_path, "custkey", num_partitions=6)
    M.manifest_init(fact_path, stat_cols=["custkey"])
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    cust.coalesce(1).write.parquet(dim_path)
    M.manifest_init(dim_path)

    # Scale-relative: first eighth of the (dense) key domain, so the
    # dim survives as a broadcast side and the fact prunes to ~1 of 6
    # range-sorted files at every sf. One 1-row agg.
    hi = int(cust.agg(F.max("custkey")).first()[0] * 0.125)
    choice: dict = {}
    joined = M.join_auto(
        spark,
        fact_path,
        {"path": dim_path, "ranges": {"custkey": (1, hi)}},
        on="custkey",
        choice_out=choice,
    )
    if choice["strategy"] != "broadcast_right":
        raise AssertionError(f"expected broadcast_right, got {choice}")
    rp = choice.get("runtime_prune")
    if not rp or not rp["files_kept"] < rp["files_total"]:
        raise AssertionError(f"runtime file pruning did not engage: {choice}")
    analyzed = joined._jdf.queryExecution().analyzed().toString()
    if "broadcast" not in analyzed.lower():
        raise AssertionError("broadcast hint missing from analyzed plan")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "manifest_join_star",
    oracle="""
    SELECT n_name,
           count(*) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderkey BETWEEN 1 AND
          (SELECT CAST(floor(max(o_orderkey) * 0.125) AS BIGINT)
           FROM orders)
    GROUP BY n_name
    ORDER BY n_name
    """,
    tags=(
        "manifest", "cbo", "broadcast", "join", "star", "new-surface",
        "scale",
    ),
    priority=18,
    doc="Multi-way STAR planning (manifest.py::join_star — the r8"
    " verdict's stretch ask #8): a 4-table q5-shaped star (lineitem"
    " fact x orders/customer/nation arms) planned entirely from"
    " manifest metadata in ONE call — every side sized post-pruning,"
    " dims ordered most-selective-first under snowflake DEPENDENCIES"
    " (customer keys live on orders, nation keys on customer: the"
    " greedy order folds each arm only after its key exists in the"
    " accumulated frame), every qualifying dim broadcast, and the"
    " fact's file list runtime-pruned by the filtered orders arm's"
    " surviving keys. Asserted in-plan: all three arms broadcast, the"
    " fact pruned to a proper file subset, exactly 4 parquet scans"
    " (fact scanned ONCE), and the join order"
    " orderkey->custkey->nationkey. The oracle replays the star from"
    " the base tables. At 100 TB this is the difference between N-1"
    " fact shuffles and one pruned fact scan with KB-sized dims"
    " shipped to executors.",
)
def manifest_join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    fact_path = _scratch(sf_dir, "star_lineitem")
    ord_path = _scratch(sf_dir, "star_orders")
    cust_path = _scratch(sf_dir, "star_customer")
    nat_path = _scratch(sf_dir, "star_nation")
    for p in (fact_path, ord_path, cust_path, nat_path):
        _shutil.rmtree(p, ignore_errors=True)
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    write_range_sorted(li, fact_path, "orderkey", num_partitions=6)
    M.manifest_init(fact_path, stat_cols=["orderkey"])
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
    )
    orders.coalesce(1).write.parquet(ord_path)
    M.manifest_init(ord_path)
    load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"),
    ).coalesce(1).write.parquet(cust_path)
    M.manifest_init(cust_path)
    load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey"), "n_name"
    ).coalesce(1).write.parquet(nat_path)
    M.manifest_init(nat_path)

    # Scale-relative: the filtered orders arm keeps the first eighth of
    # the (dense) orderkey domain, so its surviving keys runtime-prune
    # the orderkey-range-sorted fact to a proper file subset at any sf.
    hi = int(orders.agg(F.max("orderkey")).first()[0] * 0.125)
    choice: dict = {}
    out = M.join_star(
        spark,
        fact_path,
        [
            {"path": ord_path, "on": "orderkey", "ranges": {"orderkey": (1, hi)}},
            {"path": cust_path, "on": "custkey"},
            {"path": nat_path, "on": "nationkey"},
        ],
        choice_out=choice,
    )
    if choice["order"] != ["orderkey", "custkey", "nationkey"]:
        raise AssertionError(f"unexpected star order: {choice['order']}")
    if not all(d["strategy"] == "broadcast_right" for d in choice["dims"]):
        raise AssertionError(f"an arm failed to broadcast: {choice['dims']}")
    pruned = choice["dims"][0]["pruned"]
    if not pruned or not pruned["files_kept"] < pruned["files_before"]:
        raise AssertionError(f"fact runtime pruning did not engage: {choice}")
    if count_file_scans(out) != 4:
        raise AssertionError("expected exactly 4 scans (fact scanned once)")
    return (
        out.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ),
                2,
            ).alias("revenue"),
        )
        .orderBy("n_name")
    )


@register(
    "manifest_join_star_snowflake",
    oracle="""
    WITH m AS (SELECT max(c_custkey) AS mx FROM customer),
    cust AS (
      SELECT c_custkey AS custkey,
             CAST(floor(c_custkey * 5.0 / (mx + 1)) AS BIGINT) AS block
      FROM customer, m
    ),
    bd (block, block_name) AS (
      SELECT * FROM (VALUES (0,'b0'), (1,'b1'), (2,'b2'), (3,'b3'), (4,'b4'))
    )
    SELECT block_name,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN cust   ON o_custkey = custkey
    JOIN bd     ON cust.block = bd.block
    WHERE bd.block BETWEEN 0 AND 1
    GROUP BY block_name
    ORDER BY block_name
    """,
    tags=(
        "manifest", "cbo", "broadcast", "join", "star", "snowflake",
        "new-surface", "scale",
    ),
    priority=18,
    doc="TRANSITIVE snowflake runtime pruning (manifest.py::join_star"
    " pass 1 — the r9 verdict's stretch ask #8): a 3-hop chain"
    " block_dim -> customer -> orders -> lineitem where the ONLY"
    " predicate sits on the LEAF dim (2 of 5 customer blocks). The"
    " planner propagates the cut fact-ward, deepest arm first: the"
    " block keys file-prune the block-clustered customer dim (hop 1,"
    " 5 files -> subset), the surviving customers' custkeys file-prune"
    " the custkey-range-sorted orders dim (hop 2, 6 files -> subset),"
    " and the orders key frame is semi-joined by the surviving"
    " customers before fact pruning (row-level transitive cut)."
    " Asserted in-plan: choice_out shows files_kept < files_before at"
    " BOTH hops, every arm broadcast, join order"
    " orderkey->custkey->block, and exactly 4 scans (fact scanned"
    " once). The oracle replays the chain UNPRUNED from the base"
    " tables, so any row lost to over-pruning fails the hash. At"
    " 100 TB this is the snowflake-schema plan: a filter on a"
    " 5-row leaf dim shrinks the files every table in the chain"
    " reads, before Spark sees the plan.",
)
def manifest_join_star_snowflake(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    fact_path = _scratch(sf_dir, "snow_lineitem")
    ord_path = _scratch(sf_dir, "snow_orders")
    cust_path = _scratch(sf_dir, "snow_customer")
    blk_path = _scratch(sf_dir, "snow_blocks")
    for p in (fact_path, ord_path, cust_path, blk_path):
        _shutil.rmtree(p, ignore_errors=True)
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    write_range_sorted(li, fact_path, "orderkey", num_partitions=6)
    M.manifest_init(fact_path, stat_cols=["orderkey"])
    # orders clustered on CUSTKEY: hop 2 prunes these files by the
    # surviving customers' (contiguous-by-construction) custkeys
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
    )
    write_range_sorted(orders, ord_path, "custkey", num_partitions=6)
    M.manifest_init(ord_path, stat_cols=["custkey"])
    # customer with a derived BLOCK dimension (5 contiguous custkey
    # ranges — a region/date-bucket-shaped snowflake key), clustered on
    # custkey so block boundaries align with file boundaries: hop 1
    # prunes these files by the leaf dim's block keys
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    mx = int(cust.agg(F.max("custkey")).first()[0])
    cust = cust.withColumn(
        "block", F.floor(F.col("custkey") * 5.0 / (mx + 1)).cast("long")
    )
    write_range_sorted(cust, cust_path, "custkey", num_partitions=5)
    M.manifest_init(cust_path, stat_cols=["custkey", "block"])
    spark.range(5).select(
        F.col("id").alias("block"),
        F.concat(F.lit("b"), F.col("id")).alias("block_name"),
    ).coalesce(1).write.parquet(blk_path)
    M.manifest_init(blk_path, stat_cols=["block"])

    choice: dict = {}
    out = M.join_star(
        spark,
        fact_path,
        [
            {"path": ord_path, "on": "orderkey"},
            {"path": cust_path, "on": "custkey"},
            # the ONLY predicate in the star sits on the 5-row leaf
            {"path": blk_path, "on": "block", "ranges": {"block": (0, 1)}},
        ],
        choice_out=choice,
    )
    if choice["order"] != ["orderkey", "custkey", "block"]:
        raise AssertionError(f"unexpected snowflake order: {choice['order']}")
    if not all(d["strategy"] == "broadcast_right" for d in choice["dims"]):
        raise AssertionError(f"an arm failed to broadcast: {choice['dims']}")
    by_key = {d["key"]: d for d in choice["dims"]}
    hop1 = by_key["custkey"]["hop_pruned"]  # block keys -> customer files
    hop2 = by_key["orderkey"]["hop_pruned"]  # custkeys -> orders files
    if not hop1 or not hop1["files_kept"] < hop1["files_before"] == 5:
        raise AssertionError(f"hop 1 (block->customer) did not prune: {choice}")
    if not hop2 or not hop2["files_kept"] < hop2["files_before"] == 6:
        raise AssertionError(f"hop 2 (customer->orders) did not prune: {choice}")
    if count_file_scans(out) != 4:
        raise AssertionError("expected exactly 4 scans (fact scanned once)")
    return (
        out.groupBy("block_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ),
                2,
            ).alias("revenue"),
        )
        .orderBy("block_name")
    )


@register(
    "manifest_agg_pushdown",
    oracle="""
    WITH live AS (
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 7 != 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(o_custkey) AS BIGINT) AS n_cust,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key,
           CAST(max(o_custkey) AS BIGINT) AS max_cust
    FROM live
    """,
    tags=("manifest", "agg-pushdown", "cbo", "new-surface", "scale"),
    priority=18,
    doc="Aggregate pushdown into table metadata (manifest.py::"
    "stats_aggregate — Iceberg's SparkScanBuilder.pushAggregation as a"
    " library call): COUNT(*) / COUNT(col) / MIN / MAX answered from"
    " the manifest JSON alone — zero data IO, no Spark action, the"
    " same answer at 100 TB as at 100 rows. The table first takes a"
    " predicate DELETE so the answer must track DML through the"
    " rewritten stats, and the refusal contract is exercised inline"
    " (a string column's possibly-truncated parquet bounds return"
    " None, never a wrong value). The oracle replays the delete in"
    " SQL and aggregates the survivors — a stale or truncated"
    " metadata answer fails the hash.",
)
def manifest_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    path = _scratch(sf_dir, "agg_pushdown_orders")
    _shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    write_range_sorted(orders, path, "o_orderkey", num_partitions=6)
    M.manifest_init(
        path, stat_cols=["o_orderkey", "o_custkey", "o_orderpriority"]
    )
    M.delete_where(spark, path, "o_orderkey % 7 = 3")
    got = M.stats_aggregate(
        path,
        {
            "n": ("count",),
            "n_cust": ("count", "o_custkey"),
            "min_key": ("min", "o_orderkey"),
            "max_key": ("max", "o_orderkey"),
            "max_cust": ("max", "o_custkey"),
        },
    )
    if got is None:
        raise AssertionError("metadata must answer after a CoW delete")
    # Refusal honesty: string bounds may be truncated by the writer, so
    # MIN over a string column must refuse rather than risk a wrong value.
    if M.stats_aggregate(path, {"x": ("min", "o_orderpriority")}) is not None:
        raise AssertionError("string min/max must refuse, not guess")
    return spark.createDataFrame(
        [tuple(int(got[k]) for k in ("n", "n_cust", "min_key", "max_key", "max_cust"))],
        "n bigint, n_cust bigint, min_key bigint, max_key bigint, max_cust bigint",
    )


@register(
    "manifest_join_runtime_pruned",
    oracle="""
    WITH recent AS (
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE c_custkey >
            (SELECT CAST(floor(max(c_custkey) * 0.9) AS BIGINT) FROM customer)
    )
    SELECT c_mktsegment,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders JOIN recent ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("manifest", "dpp", "runtime-filter", "join", "new-surface", "scale"),
    priority=18,
    doc="Runtime-filter join (manifest.py::join_runtime_pruned — DPP /"
    " Iceberg-Delta runtime min-max filtering as a library): the dim"
    " side ('recently onboarded' customers, the top decile of the key domain) is"
    " planned FIRST and the orders fact — range-sorted on o_custkey —"
    " prunes to the files whose [min,max] key spans any surviving dim"
    " key, before the scan. Asserted: the kept file set is a proper"
    " subset. Driver materialization is bounded by file count at any"
    " dim size (the DML victim planner underneath). The oracle replays"
    " the join from the base tables, so a fact row wrongly skipped by"
    " pruning fails the hash. Spark's own DPP prunes only hive"
    " partition directories; this prunes arbitrary stats-tracked"
    " layouts.",
)
def manifest_join_runtime_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    fact_path = _scratch(sf_dir, "rtp_orders")
    _shutil.rmtree(fact_path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_range_sorted(orders, fact_path, "o_custkey", num_partitions=8)
    M.manifest_init(fact_path, stat_cols=["o_custkey"])
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # Scale-relative window: the top 10% of the key domain (dense keys
    # at every sf), so the dim's key span always prunes a custkey-sorted
    # fact to a proper file subset. One 1-row agg.
    cutoff = int(customer.agg(F.max("c_custkey")).first()[0] * 0.9)
    dim = customer.filter(F.col("c_custkey") > cutoff)
    choice: dict = {}
    j = M.join_runtime_pruned(
        spark,
        fact_path,
        dim,
        fact_key="o_custkey",
        dim_key="c_custkey",
        choice_out=choice,
    )
    if not 0 < choice["files_kept"] < choice["files_total"]:
        raise AssertionError(f"runtime pruning did not engage: {choice}")
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "manifest_mv_incremental_cdf",
    oracle="""
    WITH appended AS (
      SELECT o_orderkey + 20000000 AS o_orderkey, o_orderstatus,
             o_custkey + 7 AS o_custkey
      FROM orders WHERE o_orderkey % 100 = 1
    ),
    u AS (
      SELECT o_orderkey, o_orderstatus, o_custkey FROM orders
      UNION ALL SELECT * FROM appended
    ),
    updated AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'P' THEN o_custkey + 5
                  ELSE o_custkey END AS o_custkey
      FROM u
    ),
    live AS (
      SELECT * FROM updated
      WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
    )
    SELECT o_orderstatus AS grp,
           CAST(sum(o_custkey) AS BIGINT) AS sum_value,
           CAST(count(o_custkey) AS BIGINT) AS cnt,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM live
    GROUP BY grp
    ORDER BY grp
    """,
    tags=("manifest", "mv", "cdf", "incremental", "new-surface", "scale"),
    priority=18,
    doc="Incremental materialized-view maintenance over ARBITRARY DML"
    " (manifest.py::refresh_aggregate_cdf — signed-delta view algebra"
    " on the row-level change feed, where refresh_aggregate requires"
    " append-only): an MV of per-status (sum, count, row-count)"
    " bootstraps from the base, then an append + UPDATE + DELETE wave"
    " lands and ONE incremental refresh folds insert/update_postimage"
    " rows at +1 and delete/update_preimage at -1, MERGEd into the MV"
    " with the refreshed-through version as the txn watermark"
    " (exactly-once; merge_into's txn). Asserted: the second refresh"
    " took the incremental path (watermark present before it ran)."
    " The oracle replays the full DML wave in SQL and re-aggregates"
    " from scratch — any drift between the incrementally-maintained"
    " MV and a recompute fails the hash. At 100 TB the refresh reads"
    " |delta|, never the base or the full MV.",
)
def manifest_mv_incremental_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    base = _scratch(sf_dir, "mv_cdf_orders")
    mv = _scratch(sf_dir, "mv_cdf_agg")
    _shutil.rmtree(base, ignore_errors=True)
    _shutil.rmtree(mv, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_custkey"
    )
    write_range_sorted(orders, base, "o_orderkey", num_partitions=6)
    M.manifest_init(base, stat_cols=["o_orderkey"])
    M.enable_cdf(base)
    M.refresh_aggregate_cdf(spark, base, mv, "o_orderstatus", "o_custkey")
    M.append(
        orders.filter(F.col("o_orderkey") % 100 == 1).select(
            (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
            "o_orderstatus",
            (F.col("o_custkey") + 7).alias("o_custkey"),
        ),
        base,
    )
    M.update_where(
        spark, base, "o_orderstatus = 'P'", {"o_custkey": "o_custkey + 5"}
    )
    M.delete_where(spark, base, "o_orderstatus = 'F' AND o_orderkey % 3 = 0")
    if M.read_manifest(mv)["txns"].get(M.MV_CDF_TXN_APP) is None:
        raise AssertionError("bootstrap refresh must record the watermark")
    M.refresh_aggregate_cdf(spark, base, mv, "o_orderstatus", "o_custkey")
    return (
        M.load_manifest_table(spark, mv)
        .select(
            F.col("o_orderstatus").alias("grp"),
            "sum_value",
            "cnt",
            "n_rows",
        )
        .orderBy("grp")
    )


@register(
    "manifest_partitions_table",
    oracle="""
    SELECT concat('prio=', o_orderpriority) AS partition,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders
    GROUP BY partition
    ORDER BY partition
    """,
    tags=("manifest", "metadata-table", "partitions", "new-surface"),
    priority=18,
    doc="SHOW PARTITIONS as a metadata table (manifest.py::"
    "partitions_table — Iceberg's db.table.partitions in minimal"
    " form): a hive-partitioned orders directory is adopted in place"
    " and the per-partition rollup (file count, row count, bytes) is"
    " built from the manifest + one fs stat per file, zero data IO."
    " The oracle recomputes row counts per partition from the base"
    " table, so a file mis-bucketed during adoption or a stale stored"
    " count fails the hash. Asserted inline: every partition has >= 1"
    " file and no NULL (untracked) bucket exists on a fully-adopted"
    " table. At a million files this answers 'which partitions went"
    " small-file-heavy' without touching the lake.",
)
def manifest_partitions_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M

    path = _scratch(sf_dir, "partitions_table_orders")
    _shutil.rmtree(path, ignore_errors=True)
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("prio")
    ).write.partitionBy("prio").parquet(path)
    M.convert_to_manifest(path, stat_cols=["o_orderkey"])
    pt = M.partitions_table(spark, path)
    rows = pt.collect()
    if any(r["partition"] is None for r in rows):
        raise AssertionError("fully-adopted table must have no NULL bucket")
    if any(r["n_files"] < 1 or r["size_bytes"] <= 0 for r in rows):
        raise AssertionError(f"degenerate partition rollup: {rows}")
    return pt.select("partition", "n_rows").orderBy("partition")


@register(
    "manifest_scan_dnf",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(o_orderkey) AS BIGINT) AS first_key,
           CAST(max(o_orderkey) AS BIGINT) AS last_key
    FROM orders
    WHERE (o_orderkey BETWEEN 500 AND 2500)
       OR (o_orderkey BETWEEN 50000 AND 52000)
       OR o_orderkey = 33000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("manifest", "dnf", "data-skipping", "new-surface", "scale"),
    priority=18,
    doc="Disjunctive data skipping (manifest.py::scan_dnf — the"
    " OR-of-conjunctions shape Delta/Iceberg skipping expressions"
    " evaluate natively, where a conjunction-only planner degrades to"
    " a full scan on the first OR): three disjuncts (two key ranges at"
    " opposite ends of a range-sorted orders table + one point bloom/"
    "stats lookup) each prune independently and the scan reads the"
    " UNION of the kept file sets once. Asserted: the union is a"
    " proper subset of the table's files. The oracle replays the OR"
    " filter from the base table — a file wrongly skipped (a disjunct"
    " whose metadata pass missed it) fails the hash.",
)
def manifest_scan_dnf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    path = _scratch(sf_dir, "scan_dnf_orders")
    _shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    write_range_sorted(orders, path, "o_orderkey", num_partitions=8)
    M.manifest_init(path, stat_cols=["o_orderkey"])
    disjuncts = [
        {"ranges": {"o_orderkey": (500, 2500)}},
        {"ranges": {"o_orderkey": (50_000, 52_000)}},
        {"eq": {"o_orderkey": 33_000}},
    ]
    total = M.scan_estimate(path, with_bytes=False)["files_total"]
    union_est = sum(
        M.scan_estimate(path, d.get("eq"), d.get("ranges"), with_bytes=False)[
            "files_kept"
        ]
        for d in disjuncts
    )
    if not union_est < total:
        raise AssertionError(
            f"DNF pruning did not engage: union~{union_est} of {total}"
        )
    return (
        M.scan_dnf(spark, path, disjuncts)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("first_key"),
            F.max("o_orderkey").alias("last_key"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "manifest_analyze_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_custkey) AS BIGINT) AS cust_total
    FROM orders
    WHERE o_orderkey BETWEEN 1 AND
          (SELECT CAST(floor(max(o_orderkey) * 0.25) AS BIGINT) FROM orders)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("manifest", "analyze", "stats", "ddl", "new-surface"),
    priority=18,
    doc="ANALYZE ... FOR COLUMNS as a metadata commit (manifest.py::"
    "analyze_columns — Delta's dataSkippingStatsColumns / Iceberg"
    " metrics reconfiguration after the fact): an orders table"
    " initialized WITHOUT any skipping stats gets o_orderkey analyzed"
    " retroactively — one footer pass per file, zero data rewrites —"
    " and the same range scan goes from keeping every file to a proper"
    " subset (both asserted inline). The oracle replays the filter"
    " from the base table, so stats that skip a matching file fail the"
    " hash. At a million files this is how a query pattern that"
    " emerges in production gets its pruning column without rewriting"
    " the lake.",
)
def manifest_analyze_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _shutil

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    path = _scratch(sf_dir, "analyze_orders")
    _shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_custkey"
    )
    write_range_sorted(orders, path, "o_orderkey", num_partitions=6)
    M.manifest_init(path)  # deliberately NO stat_cols
    hi = int(orders.agg(F.max("o_orderkey")).first()[0] * 0.25)
    blind = M.scan_estimate(path, ranges={"o_orderkey": (1, hi)})
    if blind["files_kept"] != blind["files_total"]:
        raise AssertionError(f"stat-less table should keep all: {blind}")
    M.analyze_columns(path, ["o_orderkey"])
    sighted = M.scan_estimate(path, ranges={"o_orderkey": (1, hi)})
    if not sighted["files_kept"] < sighted["files_total"]:
        raise AssertionError(f"analyze did not enable pruning: {sighted}")
    return (
        M.scan_auto(spark, path, ranges={"o_orderkey": (1, hi)})
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_custkey").alias("cust_total"),
        )
        .orderBy("o_orderstatus")
    )
