"""bench.py's per-family seconds rollup: every headline query lands in the
family it was meant for. Spark-free — it only calls ``bench._family``."""

from __future__ import annotations

import bench

# Headline queries that match no family rule and so fall to the
# relational catch-all. A new headline query that no rule claims lands
# here too, and fails this set until it is given its family.
REL = {
    "bloom_prune_orders_building",
    "bucketed_join_revenue",
    "customer_rfm_segments",
    "frequent_part_pairs",
    "lineitem_numeric_correlations",
    "orders_expectations",
    "orders_price_position",
    "orders_table_fingerprint",
    "part_association_rules",
}

# One query per family rule, with the family it is meant to reach.
RULE_EXAMPLES = {
    "q19_disjunctive_revenue": "tpch",
    "events_manifest_cdf_stream": "stream",
    "events_sessionized": "events",
    "corpus_pack_sequences": "corpus",
    "doc_quality_scores": "doc",
    "mp_pca_coords": "mp",
    "media_image_features": "media",
    "asof_cascade": "asof",
    "ann_bruteforce_top10": "ann",
    "near_dup_jaccard_capped": "dedup",
    "pagerank_suppliers": "graph",
    "amendments_merged": "voting",
    "hive_adopt_roundtrip": "io",
    "orders_scd2_asof_segment": "dml",
    "manifest_scan_auto": "meta",
}


def test_headline_queries_map_to_their_families():
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    fam = {n: bench._family(n) for n in bench.HEADLINE}
    assert {n for n, f in fam.items() if f == "rel"} == REL
    for name, family in RULE_EXAMPLES.items():
        assert name in fam, name
        assert fam[name] == family, (name, fam[name])
    # every rule above is exercised by at least one headline query
    assert set(RULE_EXAMPLES.values()) | {"rel"} == set(fam.values())

