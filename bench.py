"""Headline benchmark over the driver's testdata.

Runs the flagship queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": "...", "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed to full materialization (count of collected rows) on a
warm session; the first query absorbs session/JIT warmup, so a tiny warmup
query runs first and is not reported.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

# Headline set: the five TPC-H-shaped plans + one per pipeline family
# (voting two-phase agg, self-join agreement, dedup, quality, ANN, windows,
# as-of, similarity, PCA). Order: cheap scans first.
HEADLINE = [
    "q6_forecast_revenue",
    "q1_pricing_summary",
    "q5_nation_revenue",
    "q3_top_revenue_orders",
    "q4_priority_with_returns",
    "q7_nation_volume",
    "q10_returned_revenue",
    "q12_shipmode_priority",
    "q14_promo_share",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q13_customer_distribution",
    "q21_waiting_supplier",
    "attendance_rates",
    "loyalty_rebellion_rates",
    "party_pair_agreement",
    "exact_dedup_survivors",
    "doc_quality_scores",
    "ann_bruteforce_top10",
    "events_sessionized",
    "asof_latest_order_before_event",
    "asof_cascade",
    "amendments_merged",
    "mp_vote_similarity",
    "mp_pca_coords",
    "near_dup_jaccard_capped",
    "minhash_lsh_exact_recall",
    "corpus_decontaminate",
    "corpus_pack_sequences",
    "steno_parse_votes",
    "doc_topics_enriched",
    "events_tumbling_1h",
    "media_image_features",
    "unl_roundtrip_nation",
    "doc_bm25_topk",
    "events_funnel",
    "events_retention_cohorts",
    "corpus_remove_boilerplate",
    "corpus_shuffle_order",
    "corpus_temperature_mix",
    "corpus_quality_calibrated",
    "corpus_chunk_windows",
    "doc_lm_perplexity",
    "semantic_dedup_kmeans",
    "doc_duplicate_spans",
    "events_range_join_windows",
    # Round-5 additions.
    "semantic_dedup_farthest",
    "pagerank_suppliers",
    "corpus_dsir_scores",
    "parquet_delete_roundtrip",
    "manifest_delete_roundtrip",
    "doc_gopher_flags",
    "manifest_cdc_roundtrip",
    "embedding_matryoshka_prefix",
    "bloom_prune_orders_building",
    "manifest_schema_evolution",
    "manifest_stats_prune",
    "corpus_unimax_sample",
    "doc_nb_lang_classify",
    "doc_retrieval_eval",
    "embedding_hard_negatives",
    "manifest_zorder_optimize",
    "corpus_weighted_sample_per_lang",
    "events_stream_dedup",
    "bucketed_join_revenue",
    "events_cms_user_counts",
    "events_value_histogram",
    "manifest_history_accounting",
    "events_transition_matrix",
    "corpus_quality_calibrated_by_lang",
    "events_top_user_paths",
    "lineitem_numeric_correlations",
    "manifest_restore_roundtrip",
    "events_value_equidepth",
    # Round-6 additions. The scan pair shares one pre-built table (warmed
    # below): unpruned first, pruned second — the delta is what the
    # manifest's metadata-only file skipping buys on an identical query.
    "manifest_scan_unpruned",
    "manifest_scan_pruned",
    "manifest_cdf_appends",
    "semantic_dedup_salted",
    "ann_ivfpq_top10",
    "manifest_scd2_customer",
    "manifest_mor_delete_roundtrip",
    "manifest_mor_materialized",
    "eval_contamination_stats",
    "corpus_decontaminate_substr",
    "manifest_scan_box_zorder",
    "triangle_suppliers",
    "supplier_hops_bfs",
    "events_anomaly_zscore",
    "doc_term_pmi",
    "doc_inverted_postings",
    "manifest_mv_refresh",
    "near_dup_containment",
    "er_sorted_neighborhood",
    "embedding_knn_graph",
    "ppr_nation0_market",
    "events_stream_mv_refresh",
    "lpa_supplier_communities",
    "events_decayed_value",
    "orders_scd2_asof_segment",
    "manifest_bloom_point_lookup",
    # Round-6 third wave.
    "doc_bigram_perplexity",
    "doc_textrank_keywords",
    "kcore_trade_graph",
    "events_value_trend_ols",
    "manifest_partition_evolution",
    "hits_trade_graph",
    "orders_price_position",
    "corpus_ppl_buckets",
    "corpus_ngram_diversity",
    "events_robust_outliers",
    "manifest_rename_roundtrip",
    "events_stream_view_purchase_outer",
    "events_stream_late_drops",
    "manifest_day_partition_scan",
    "manifest_files_accounting",
    "orc_roundtrip_supplier",
    "manifest_generated_partition",
    "events_manifest_cdf_stream",
    "manifest_dml_roundtrip",
    "manifest_delete_pos_roundtrip",
    "manifest_merge_roundtrip",
    "events_hll_distinct_users",
    "manifest_clone_roundtrip",
    "doc_hybrid_rrf_topk",
    "media_video_mp4_features",
    "link_prediction_suppliers",
    "manifest_null_prune",
    "orders_table_fingerprint",
    "manifest_hilbert_optimize",
    "csv_roundtrip_hostile",
    "events_hourly_resample",
    "pagerank_weighted_suppliers",
    "clone_divergence_buckets",
    "orders_expectations",
    "customer_rfm_segments",
    "events_value_psi",
    "clustering_coeff_suppliers",
    "frequent_part_pairs",
    "part_association_rules",
    "events_weekly_seasonality",
    # Round-7 additions.
    "manifest_merge_full_roundtrip",
    "votes_browser_page",
    "manifest_row_cdf_roundtrip",
    "manifest_replace_where_roundtrip",
    "manifest_row_tracking_roundtrip",
    "manifest_widen_roundtrip",
    "manifest_default_roundtrip",
    "manifest_identity_roundtrip",
    "manifest_drop_readd_roundtrip",
    "manifest_cluster_incremental",
    "manifest_wap_roundtrip",
    "manifest_lakehouse_lifecycle",
    # round-8 additions
    "interchange_roundtrip",
    "hive_adopt_roundtrip",
    "manifest_scan_auto",
    "manifest_segmented_lifecycle",
    "manifest_join_auto",
    "manifest_join_auto_pruned",
    "manifest_join_star",
    "manifest_agg_pushdown",
    "manifest_join_runtime_pruned",
    "manifest_mv_incremental_cdf",
    "manifest_partitions_table",
    "manifest_scan_dnf",
    "manifest_analyze_roundtrip",
    # round-10 additions
    "manifest_join_star_snowflake",
]


# Row-per-input queries: output cardinality is O(input rows) (pair lists,
# enriched-event lists), so `.collect()` measures CPython driver
# materialization, not the plan — at 100x scale mp_vote_similarity spent
# 431 s collecting vs 65.5 s sink-writing the SAME plan (SCALING.md r9
# addendum). On a cluster these queries terminate in a sink, so the bench
# ALSO times a `write.parquet` termination for them and reports both
# columns (collect stays the headline number for cross-round continuity).
# SPARK_GRAFT_BENCH_SINK=0 disables the extra sink pass.
SINK_QUERIES = {
    "mp_vote_similarity",
    "asof_latest_order_before_event",
    "asof_cascade",
    "steno_parse_votes",
    "events_range_join_windows",
    "minhash_lsh_exact_recall",
    "events_sessionized",
}


# Expected per-query drift bands at sf0.1 (r10 verdict ask #5): the graph
# family is the bench top-5 and its plans are byte-stable, yet fixed-
# iteration multi-action queries on this box swing with host state (r10
# measured a 35% same-plan spread for pagerank_suppliers WITHIN one
# session: 9.65-12.99 s) while single-pass queries hold within ~2%
# (triangle 7.22-7.41 across r8-r10). Bands = below/above every driver
# reading r8-r10 plus the isolated best-of-3 spreads recorded in PLANS.md
# ("pagerank_suppliers r8->r9 drift, pinned"). A reading OUTSIDE its band
# is flagged in bench output (detail `band_violations` + the stdout JSON
# line) so a future drift is detected by the artifact, not by per-round
# forensics; a violation with a non-empty plan-path `git diff` is a real
# regression, one with an empty diff is a new host-noise record and the
# band should be re-derived.
BANDS = {
    # name: (lo_sec, hi_sec) — r12 recalibration (VERDICT r11 ask #6):
    # derived from DRIVER-BOX readings ONLY (PERF_r8..r11 / BENCH_r8..r11
    # top-10 seconds), never from this builder host's own runs — a band
    # the measured party widens after its own reading trips it is not an
    # alarm (the r11 lesson). Rule: lo = 0.5x the minimum driver reading,
    # hi = 1.5x the maximum driver reading, rounded to 0.5 s. The builder
    # host floors iterative queries ~40% above the driver box, so LOCAL
    # full-bench runs may flag hi-edge violations; those are informational
    # (the bench does not fail), and only a DRIVER-run violation paired
    # with a non-empty plan-path git diff is a regression signal.
    "pagerank_suppliers": (3.5, 16.5),  # driver r8-r11: 8.93/11.01/9.52/6.99
    "pagerank_weighted_suppliers": (4.0, 16.5),  # 11.01/10.74/10.70/7.84
    "ppr_nation0_market": (3.0, 17.5),  # 11.56/11.00/9.84/6.34
    "clustering_coeff_suppliers": (4.5, 17.0),  # 11.12/9.63/9.04/9.62
    "hits_trade_graph": (3.0, 13.0),  # 8.53/7.34/6.47/6.22
    "lpa_supplier_communities": (2.5, 10.0),  # 6.32/6.43/6.15; r11 <=5.52 (left top-10)
    "triangle_suppliers": (3.5, 13.0),  # 7.33/7.41/7.22/8.53
    # New top-10 entrants (driver r10/r11 readings; VERDICT r11 ask #6).
    "ann_ivfpq_top10": (3.0, 12.5),  # driver r10 6.38, r11 8.28
    "events_manifest_cdf_stream": (3.0, 10.5),  # driver r11 7.01
    "events_stream_view_purchase_outer": (2.5, 9.0),  # driver r11 5.81
    "mp_pca_coords": (2.0, 8.5),  # driver r11 5.52
}


# Per-FAMILY seconds rollup for the stdout JSON (VERDICT r11 ask #2): the
# driver scrapes a ~2 KB stdout tail, so per-query detail beyond the
# top-10 slowest cannot ride the one-line contract — but ~16 stable
# family sums can, making round-over-round drift in the 150+-query tail
# attributable from driver artifacts alone instead of only from
# bench_detail.json (a builder-box file). Families are assigned by name,
# deterministically; every headline query maps to exactly one.
_GRAPH_QUERIES = {
    "pagerank_suppliers", "pagerank_weighted_suppliers",
    "ppr_nation0_market", "hits_trade_graph", "lpa_supplier_communities",
    "clustering_coeff_suppliers", "triangle_suppliers", "kcore_trade_graph",
    "supplier_hops_bfs", "link_prediction_suppliers",
}
_VOTING_QUERIES = {
    "attendance_rates", "loyalty_rebellion_rates", "party_pair_agreement",
    "amendments_merged", "votes_browser_page", "steno_parse_votes",
    "law_refs_extracted", "laws_listing_page",
}
_DML_TOKENS = (
    "delete", "merge", "dml", "cdc", "mor_", "scd2", "replace", "row_",
    "cluster_incremental", "clone", "wap", "lifecycle", "restore",
)


def _family(name: str) -> str:
    if len(name) > 1 and name[0] == "q" and name[1].isdigit():
        return "tpch"
    if name.startswith("events_stream") or name == "events_manifest_cdf_stream":
        return "stream"
    if name.startswith("events_"):
        return "events"
    if name.startswith("corpus_"):
        return "corpus"
    if name.startswith("doc_") or name.startswith("docs_"):
        return "doc"
    if name.startswith("mp_"):
        return "mp"
    if name.startswith("media_"):
        return "media"
    if name.startswith("asof_") or name == "latest_order_per_customer":
        return "asof"
    if name.startswith(("ann_", "embedding_", "eval_contamination")):
        return "ann"
    if name.startswith(
        ("exact_dedup", "near_dup", "minhash", "semantic_dedup", "er_sorted")
    ):
        return "dedup"
    if name in _GRAPH_QUERIES:
        return "graph"
    if name in _VOTING_QUERIES:
        return "voting"
    if name.startswith(
        ("parquet_", "orc_", "csv_", "unl_", "interchange_", "hive_adopt",
         "incremental_agg")
    ):
        return "io"
    if name in ("orders_scd2_asof_segment", "clone_divergence_buckets"):
        return "dml"
    if name.startswith("manifest_"):
        return "dml" if any(t in name for t in _DML_TOKENS) else "meta"
    return "rel"


# Round-6 lesson: 141 queries in ONE long-lived session regressed the
# 61-query r5 cohort ~28% UNIFORMLY (pure metadata ops included) with
# "allocation exceeds 95% of heap" MemoryManager warnings — accumulated
# session state, not plan changes. Two defenses: (1) cap the status-store
# state that grows per query (AppStatusListener retains 1000 executions /
# 100k task infos by default — tens of MB of old-gen debris by query 100),
# and (2) recycle the SparkSession every RECYCLE queries so listener/block
# state restarts from zero while the JVM (and its JIT) stays warm.
_BENCH_CONFS = {
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.ui.retainedExecutions": "5",
    "spark.ui.retainedJobs": "50",
    "spark.ui.retainedStages": "50",
    "spark.ui.retainedTasks": "500",
    "spark.appStatusStore.diskStoreDir.maxUsage": "0",
}


def _fresh_session(sf_dir: str):
    """Build a bench session and run the untimed warmup: touch every
    table (scan/JIT), materialize parse fixtures, and spawn the Python
    UDF workers once so mapInPandas rows time the parse, not
    interpreter startup."""
    import __spark_entry__  # noqa: F401 — keeps registry import order
    from pspcz_analyzer_spark.session import get_spark

    spark = get_spark(app_name="bench", extra_confs=_BENCH_CONFS)
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
        from pspcz_analyzer_spark.plans.ingest import _ensure_scan_table

        _ensure_scan_table(spark, sf_dir)
        spark.range(spark.sparkContext.defaultParallelism).repartition(
            spark.sparkContext.defaultParallelism
        ).mapInPandas(lambda it: it, "id long").collect()
    except Exception:
        pass
    return spark


def _heap_mb(spark) -> float:
    """Used JVM heap in MiB (post-GC reading — callers GC first)."""
    try:
        rt = spark.sparkContext._jvm.Runtime.getRuntime()
        return round((rt.totalMemory() - rt.freeMemory()) / (1024 * 1024), 1)
    except Exception:
        return -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Spark's Python workers start from a fresh interpreter that does not
    # inherit this process's sys.path: queries whose UDFs import this
    # package need the repo root on PYTHONPATH before the JVM (and so the
    # workers) start, or a run from another directory fails them.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (_REPO, os.environ.get("PYTHONPATH")) if p
    )

    import __spark_entry__ as E

    spark = _fresh_session(sf_dir)
    qs = E.queries()

    # Best-of-N timing (timeit practice): this box's host-level drift moves
    # SAME-CODE totals by +/-40-50% between runs (measured, SCALING.md
    # "Measurement noise"); the minimum of two back-to-back runs measures
    # the ENGINE rather than whichever run caught a host stall. Plans are
    # rebuilt per run (caches cleared below), so run 2 re-executes the full
    # query, not a cached result.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    # Session recycle cadence (queries per session). ~1-2 s rebuild cost
    # each, bounded accumulated listener/block state in between.
    recycle = int(os.environ.get("SPARK_GRAFT_BENCH_RECYCLE", "35"))
    # Resume-stateful queries time their FIRST pass only: a second pass
    # would measure the (intentionally cheap) resume path, not the work.
    single_run = {"doc_topics_enriched"}
    sink_on = os.environ.get("SPARK_GRAFT_BENCH_SINK", "1") != "0"
    sink_dir = None
    if sink_on:
        import tempfile

        sink_dir = tempfile.mkdtemp(prefix="bench_sink_")
    timings: dict[str, float] = {}
    sink_timings: dict[str, float] = {}
    # First-run timings reported alongside best-of-N so cross-round deltas
    # can compare matching methodology (r03 and earlier were single-run).
    run1: dict[str, float] = {}
    # Post-query used-heap trace: the r6 diagnosis tool. A healthy run
    # stays flat; a climb across unrelated queries = session pressure.
    heap_trace: dict[str, float] = {}
    only = {
        s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s
    }
    names = [n for n in HEADLINE if n in qs and (not only or n in only)]
    # INTERLEAVED passes (suite twice, best per query across passes), not
    # back-to-back per-query runs: this box's host-level stalls come in
    # multi-minute WINDOWS (r7 measured: a contiguous 15-query span 2-4x
    # slow in BOTH back-to-back runs while best-of-two across passes put
    # the same cohort at 1.02x its r5 total). Back-to-back attempts share
    # any such window; attempts a full pass apart do not. Inputs stay OS-
    # page-cached across a pass at bench scale, so pass 2 is still warm.
    n_timed = 0
    for pass_i in range(max(1, runs)):
        for name in names:
            if pass_i > 0 and (name in single_run or timings.get(name) == -1.0):
                # Resume-stateful queries time their first pass only;
                # broken queries stay broken.
                continue
            if recycle > 0 and n_timed and n_timed % recycle == 0:
                try:
                    spark.stop()
                except Exception:
                    pass
                spark = _fresh_session(sf_dir)
            n_timed += 1
            t0 = time.time()
            try:
                qs[name](spark, sf_dir).collect()
                dt = round(time.time() - t0, 3)
            except Exception as e:  # keep benching; broken reports -1
                print(f"bench error in {name}: {e}", file=sys.stderr)
                dt = -1.0
            if pass_i == 0:
                run1[name] = dt
            prev = timings.get(name)
            timings[name] = (
                dt
                if dt < 0 or prev is None or prev < 0
                else min(prev, dt)
            )
            if sink_on and name in SINK_QUERIES and dt >= 0:
                # Same plan, sink-terminated: what a cluster run would
                # pay (the collect column above adds driver-side row
                # materialization on top of the identical plan). Cache
                # cleared FIRST: plans persist shared subtrees, and a
                # sink run satisfied from the collect run's still-live
                # cache would understate the very cost this column
                # exists to compare.
                spark.catalog.clearCache()
                t0 = time.time()
                try:
                    qs[name](spark, sf_dir).write.mode("overwrite").parquet(
                        os.path.join(sink_dir, name)
                    )
                    st = round(time.time() - t0, 3)
                except Exception as e:
                    print(f"bench sink error in {name}: {e}", file=sys.stderr)
                    st = -1.0
                sprev = sink_timings.get(name)
                sink_timings[name] = (
                    st
                    if st < 0 or sprev is None or sprev < 0
                    else min(sprev, st)
                )
            # A query's persisted intermediates are dead once collected
            # (plans persist shared subtrees and rely on eviction);
            # dropping them between timings keeps the storage fraction
            # from squeezing later queries' execution memory.
            spark.catalog.clearCache()
            # Python refs pin JVM-side plans/broadcasts through py4j until
            # the Python GC runs, and the JVM only reclaims them under
            # pressure — measured: +2-8 s on late similarity queries in a
            # 36-query session. Collect both heaps between timings
            # (harness-only hygiene, outside every timed window).
            import gc

            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            heap_trace[name] = _heap_mb(spark)
    timings = {n: timings[n] for n in names if n in timings}
    # Drift-band check (bands are sf0.1-calibrated; other SFs skip it).
    band_violations = {}
    if sf == "0.1":
        for n, (lo, hi) in BANDS.items():
            v = timings.get(n, -1.0)
            if v >= 0 and not (lo <= v <= hi):
                band_violations[n] = {"sec": v, "band": [lo, hi]}
    total = round(sum(v for v in timings.values() if v >= 0), 3)
    total_run1 = round(sum(v for v in run1.values() if v >= 0), 3)
    # Family rollup (sums of the same best-of-N seconds as `value`; -1
    # error sentinels excluded so a broken query cannot deflate its
    # family). Keys are stable across rounds; new queries join their
    # family without changing the key set.
    families: dict[str, float] = {}
    for n, v in timings.items():
        if v >= 0:
            fam = _family(n)
            families[fam] = families.get(fam, 0.0) + v
    families = {k: round(v, 1) for k, v in sorted(families.items())}
    # The driver scrapes a ~2 KB stdout TAIL for the JSON line; at 76+
    # headline queries the full per-query dicts outgrew it and round 5's
    # official record came back `parsed: null`. Keep the stdout line
    # compact (top-10 slowest only) and route the complete per-query
    # detail to a side file + stderr, where it stays diffable.
    detail_path = os.path.join(_REPO, "bench_detail.json")
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "run1": run1,
        "run1_total": total_run1,
        "families": families,
        "sink": sink_timings,
        "band_violations": band_violations,
        "heap_mb": heap_trace,
        "recycle_every": recycle,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except Exception as e:
        print(f"bench: could not write {detail_path}: {e}", file=sys.stderr)
    print("bench detail: " + json.dumps(detail), file=sys.stderr)
    slowest = dict(
        sorted(
            ((k, v) for k, v in timings.items() if v >= 0),
            key=lambda kv: -kv[1],
        )[:10]
    )
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": slowest,
            "n_queries": len(timings),
            "n_errors": sum(1 for v in timings.values() if v < 0),
            "run1_total": total_run1,
            "families": families,
            "sink": sink_timings,
            "band_violations": band_violations,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "detail": "bench_detail.json",
        }
    )
    if sink_dir:
        import shutil

        shutil.rmtree(sink_dir, ignore_errors=True)
    # The driver scrapes the output TAIL for the JSON line, so teardown
    # noise must land BEFORE it: stop Spark first (py4j/executor shutdown
    # chatter happens here), then print the line as the process's final
    # act and exit without running interpreter-shutdown hooks, whose py4j
    # socket teardown has printed stack-trace fragments after the result.
    try:
        spark.stop()
    except Exception:
        pass
    sys.stdout.flush()
    sys.stderr.flush()
    print(line, flush=True)
    os._exit(0)


if __name__ == "__main__":
    main()
