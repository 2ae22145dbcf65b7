"""Round-6 scaling measurements: manifest scan pruning + salted SemDeDup.

1. manifest_scan_pruned vs manifest_scan_unpruned at sf0.1 and the 10x
   replica (tools/build_scale10.py output), best-of-two on a warm session
   with the shared scan table pre-built — isolates the READ paths. Also
   records the kept/total file counts from prune_files_multi (the metadata-only
   decision itself).
2. semantic_dedup on a deliberately skewed clustering (80% of vectors in
   one cell) with and without salt_cells, plus a balanced-cells baseline
   — the mega-cluster straggler recovery.

Usage: python tools/measure_r06.py [sf_dir] [scale10_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from pspcz_analyzer_spark.session import ensure_runtime_confs, get_spark  # noqa: E402


def best2(fn):
    vals = []
    for _ in range(2):
        t0 = time.time()
        fn()
        vals.append(round(time.time() - t0, 2))
    return min(vals)


def measure_scan(spark, sf_dir: str, tag: str) -> None:
    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.plans.ingest import (
        _ensure_scan_table,
        manifest_scan_pruned,
        manifest_scan_unpruned,
    )

    path = _ensure_scan_table(spark, sf_dir)
    kept, total = M.prune_files_multi(
        M.read_manifest(path), {"user_id": (10, 16)}
    )
    up = best2(lambda: manifest_scan_unpruned(spark, sf_dir).collect())
    pr = best2(lambda: manifest_scan_pruned(spark, sf_dir).collect())
    print(
        f"[scan {tag}] unpruned={up}s pruned={pr}s "
        f"files_kept={len(kept)}/{total} speedup={up / pr:.1f}x"
    )


def measure_salted(spark, sf_dir: str) -> None:
    from pspcz_analyzer_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    # Deliberate skew: ~80% of vectors in cell 0, the rest over 9 cells.
    skewed = emb.withColumn(
        "cell",
        F.when(F.col("vec_id") % 5 != 0, F.lit(0)).otherwise(
            (F.col("vec_id") % 9 + 1).cast("int")
        ),
    )
    # Balanced control: same corpus spread over 10 equal cells.
    balanced = emb.withColumn("cell", (F.col("vec_id") % 10).cast("int"))
    skewed.persist().count()
    balanced.persist().count()

    def run(df, **kw):
        return best2(
            lambda: semantic_dedup(
                df, cluster_col="cell", threshold=0.9, **kw
            ).collect()
        )

    t_bal = run(balanced)
    t_skew = run(skewed)
    t_salt = run(skewed, salt_cells=16)
    print(
        f"[semdedup skew n={n}] balanced={t_bal}s skewed={t_skew}s "
        f"skewed+salt16={t_salt}s recovery={(t_skew - t_salt) / max(t_skew - t_bal, 1e-9):.0%}"
    )
    skewed.unpersist()
    balanced.unpersist()


def measure_mor(spark, sf_dir: str, tag: str, n_files: int) -> None:
    """Copy-on-write vs merge-on-read delete on the same table layout:
    delete wall-clock, post-delete read, and materialization."""
    import shutil
    import tempfile

    from pspcz_analyzer_spark import manifest as M
    from pspcz_analyzer_spark.jobs import write_range_sorted

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "user_id", "event_type", "value"
    )

    def fresh(name, sort_col):
        path = os.path.join(tempfile.gettempdir(), f"mor_bench_{tag}_{name}")
        shutil.rmtree(path, ignore_errors=True)
        write_range_sorted(events, path, sort_col, num_partitions=n_files)
        M.manifest_init(path, stat_cols=[sort_col])
        return path

    for case, sort_col in (("clustered", "user_id"), ("scattered", "event_id")):
        # clustered: victims share one range-sorted file (CoW's best case);
        # scattered: the delete key is NOT the layout key, every file may
        # contain victims — CoW rewrites the whole table, MOR stays O(keys).
        p_cow = fresh("cow", sort_col)
        t0 = time.time()
        nfc, _ = M.delete_keys(spark, p_cow, "user_id", [7, 8])
        t_cow = round(time.time() - t0, 2)
        p_mor = fresh("mor", sort_col)
        t0 = time.time()
        M.delete_keys_mor(spark, p_mor, "user_id", [7, 8])
        t_mor = round(time.time() - t0, 2)
        r_cow = best2(lambda: M.load_manifest_table(spark, p_cow).count())
        r_mor = best2(lambda: M.load_manifest_table(spark, p_mor).count())
        t0 = time.time()
        nf, ne = M.materialize_deletes(spark, p_mor)
        t_mat = round(time.time() - t0, 2)
        print(
            f"[mor {tag} {case} files={n_files}] delete_cow={t_cow}s "
            f"(rewrote {nfc}) delete_mor={t_mor}s read_cow={r_cow}s "
            f"read_mor={r_mor}s materialize={t_mat}s (rewrote {nf})"
        )
        for p in (p_cow, p_mor):
            shutil.rmtree(p, ignore_errors=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    s10 = sys.argv[2] if len(sys.argv) > 2 else "/tmp/pspcz_scale10"
    spark = get_spark(app_name="measure_r06")
    ensure_runtime_confs(spark)
    which = sys.argv[3] if len(sys.argv) > 3 else "all"
    if which in ("all", "scan"):
        measure_scan(spark, sf_dir, "1x")
        if os.path.isdir(s10):
            measure_scan(spark, s10, "10x")
    if which in ("all", "salted"):
        measure_salted(spark, sf_dir)
    if which in ("all", "mor"):
        measure_mor(spark, sf_dir, "1x", 16)
        if os.path.isdir(s10):
            measure_mor(spark, s10, "10x", 160)
    spark.stop()


if __name__ == "__main__":
    main()
