"""Manifest-committed table layout (pspcz_analyzer_spark.manifest): the
object-store-safe commit path — additive data files, create-exclusive
version commit, optimistic concurrency, time travel, vacuum."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from pspcz_analyzer_spark import manifest as M
from pspcz_analyzer_spark.jobs import write_range_sorted


@pytest.fixture()
def table(spark, tmp_path):
    df = spark.range(4_000).select(
        F.col("id").alias("event_id"), (F.col("id") % 100).alias("user_id")
    )
    path = str(tmp_path / "mtab")
    write_range_sorted(df, path, "user_id", num_partitions=6)
    M.manifest_init(path)
    return path


class TestManifestBasics:
    def test_init_adopts_existing_files_and_is_idempotent(self, spark, table):
        assert M.current_version(table) == 1
        assert M.manifest_init(table) == 1  # no-op second init
        m = M.read_manifest(table)
        assert len(m["files"]) == 6
        assert M.load_manifest_table(spark, table).count() == 4_000

    def test_plain_spark_read_still_works(self, spark, table):
        # _manifest/ is underscore-prefixed: invisible to a vanilla scan.
        assert spark.read.parquet(table).count() == 4_000

    def test_append_commits_batch_atomically(self, spark, table):
        batch = spark.range(4_000, 4_500).select(
            F.col("id").alias("event_id"), (F.col("id") % 100).alias("user_id")
        )
        v = M.append(batch, table)
        assert v == 2
        assert M.load_manifest_table(spark, table).count() == 4_500
        # Version 1 still serves the pre-append snapshot.
        assert M.load_manifest_table(spark, table, version=1).count() == 4_000


class TestCreateTable:
    """CREATE TABLE: an empty governed table before any data exists."""

    def test_empty_create_then_governed_appends(self, spark, tmp_path):
        path = str(tmp_path / "created")
        v = M.create_table(
            path, "k bigint, g bigint",
            partition_spec=["bucket(4, k)"],
            stat_cols=["k"],
            props={"cdf": True},
        )
        assert v == 1
        t = M.load_manifest_table(spark, path)
        assert t.columns == ["k", "g"] and t.count() == 0
        # first append is already schema-enforced and partition-laid
        with pytest.raises(M.SchemaMismatch):
            M.append(spark.range(2).select(F.col("id").alias("zzz")), path)
        M.append(
            spark.range(10).select(
                F.col("id").alias("k"), (F.col("id") % 3).alias("g")
            ),
            path,
        )
        m = M.read_manifest(path)
        assert m.get("partitions")  # laid out under the spec from row one
        assert m.get("props") == {"cdf": True}
        assert M.load_manifest_table(spark, path).count() == 10
        # change feed live from the first commit
        assert M.read_changes(spark, path, 1).count() == 10
        with pytest.raises(ValueError, match="already a manifest table"):
            M.create_table(path, "k bigint")

    def test_create_rejects_bad_spec(self, tmp_path):
        with pytest.raises(ValueError, match="unknown column"):
            M.create_table(
                str(tmp_path / "bad"), "k bigint",
                partition_spec=["day(nope)"],
            )

    def test_identity_and_constraints_on_empty_table(self, spark, tmp_path):
        path = str(tmp_path / "gov")
        M.create_table(path, [["k", "bigint"], ["v", "double"]])
        M.set_constraint(spark, path, "v_pos", "v >= 0")
        M.add_identity_column(path, "uid")
        bad = spark.range(1).select(
            F.col("id").alias("k"), F.lit(-1.0).alias("v")
        )
        with pytest.raises(M.ConstraintViolation):
            M.append(bad, path)
        M.append(
            spark.range(3).select(
                F.col("id").alias("k"), F.lit(1.0).alias("v")
            ),
            path,
        )
        t = M.load_manifest_table(spark, path)
        assert sorted(r["uid"] for r in t.collect()) == [1, 2, 3]


class TestExportSnapshot:
    def test_export_resolves_every_feature_into_plain_parquet(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "exp_src")
        spark.range(20).select(
            F.col("id").cast("int").alias("k"), (F.col("id") % 4).alias("g")
        ).coalesce(2).write.parquet(path)
        M.manifest_init(path)
        M.widen_column_type(path, "k", "bigint")
        M.add_column(path, "src", "string", initial_default="'old'")
        M.add_identity_column(path, "uid")
        M.delete_keys_mor(spark, path, "g", [3])  # pending MoR entry
        M.rename_column(path, "g", "grp")
        dst = str(tmp_path / "exp_dst")
        n = M.export_snapshot(spark, path, dst, num_partitions=1)
        plain = spark.read.parquet(dst)  # NO manifest machinery
        assert n == plain.count() == 15  # MoR delete resolved
        assert dict(plain.dtypes) == {
            "k": "bigint", "grp": "bigint", "src": "string", "uid": "bigint"
        }
        assert plain.filter(F.col("src") == "old").count() == 15
        assert plain.select("uid").distinct().count() == 15
        assert plain.filter(F.col("grp") == 3).count() == 0
        # exact row parity with the manifest view
        want = {
            tuple(r) for r in M.load_manifest_table(spark, path).collect()
        }
        assert {tuple(r) for r in plain.select(
            *M.load_manifest_table(spark, path).columns
        ).collect()} == want

    def test_export_pins_a_version(self, spark, tmp_path):
        path = str(tmp_path / "exp_v")
        spark.range(5).select(F.col("id").alias("k")).coalesce(
            1
        ).write.parquet(path)
        M.manifest_init(path)
        v1 = M.current_version(path)
        M.append(spark.range(5, 9).select(F.col("id").alias("k")), path)
        dst = str(tmp_path / "exp_v_dst")
        assert M.export_snapshot(spark, path, dst, version=v1) == 5

    def test_import_adopts_without_mutating_source(self, spark, tmp_path):
        """Round-8: the import half of the escape hatch — a plain parquet
        hand-off directory becomes a fresh manifest table, the source
        dir stays byte-identical, and the new table is fully live
        (DML, maintain, time travel from its own v1)."""
        src = str(tmp_path / "imp_src")
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") % 10).alias("g")
        ).repartition(3).write.parquet(src)
        before = sorted(os.listdir(src))
        dst = str(tmp_path / "imp_dst")
        v = M.import_snapshot(src, dst, stat_cols=["k"], bloom_cols=["g"])
        assert v == 1
        assert sorted(os.listdir(src)) == before  # source untouched
        t = M.load_manifest_table(spark, dst)
        assert t.count() == 100
        # stats built eagerly (footer pass), blooms only as standing policy
        m = M.read_manifest(dst)
        assert m.get("stats") and not m.get("blooms")
        assert m["props"]["bloom_cols"] == "g"
        out = M.maintain(spark, dst, vacuum_min_age_seconds=0)
        assert out["blooms_backfilled"] == 1
        may, total = M.prune_files_bloom(dst, M.read_manifest(dst), "g", 3)
        assert 0 < len(may) <= total
        # the import is a live table: DML works and never touches src
        M.delete_where(spark, dst, "k < 10")
        assert M.load_manifest_table(spark, dst).count() == 90
        assert sorted(os.listdir(src)) == before
        assert spark.read.parquet(src).count() == 100

    def test_import_by_reference_shares_bytes(self, spark, tmp_path):
        src = str(tmp_path / "impref_src")
        spark.range(50).select(F.col("id").alias("k")).coalesce(
            2
        ).write.parquet(src)
        dst = str(tmp_path / "impref_dst")
        M.import_snapshot(src, dst, copy=False)
        # zero data files inside dst — absolute references into src
        assert not [f for f in os.listdir(dst) if f.endswith(".parquet")]
        assert M.load_manifest_table(spark, dst).count() == 50
        assert all(os.path.isabs(f) for f in M.read_manifest(dst)["files"])

    def test_import_refuses_existing_table_and_empty_dir(
        self, spark, tmp_path
    ):
        src = str(tmp_path / "impbad_src")
        spark.range(5).selectExpr("id AS k").coalesce(1).write.parquet(src)
        dst = str(tmp_path / "impbad_dst")
        M.import_snapshot(src, dst)
        with pytest.raises(ValueError, match="already a manifest table"):
            M.import_snapshot(src, dst)
        empty = str(tmp_path / "impbad_empty")
        os.makedirs(empty)
        with pytest.raises(FileNotFoundError, match="no parquet files"):
            M.import_snapshot(empty, str(tmp_path / "impbad_dst2"))


class TestTableProperties:
    def test_set_unset_and_reserved(self, spark, tmp_path):
        path = str(tmp_path / "props")
        M.create_table(path, "k bigint")
        v = M.set_table_properties(path, owner="ingest-team", retention_days=30)
        assert M.read_manifest(path)["props"] == {
            "owner": "ingest-team", "retention_days": 30
        }
        # no-op: same values commit nothing
        assert M.set_table_properties(path, owner="ingest-team") == v
        # unset via None
        M.set_table_properties(path, retention_days=None)
        assert M.read_manifest(path)["props"] == {"owner": "ingest-team"}
        # feature-bearing keys are routed, not set
        with pytest.raises(ValueError, match="enable_row_tracking"):
            M.set_table_properties(path, row_tracking=True)
        with pytest.raises(ValueError, match="optimize_clustered"):
            M.set_table_properties(path, cluster_by="k")
        # custom props survive a real feature enablement
        M.enable_cdf(path)
        assert M.read_manifest(path)["props"] == {
            "owner": "ingest-team", "cdf": True
        }


class TestManifestDelete:
    def test_delete_commits_new_version_and_preserves_old(self, spark, table):
        nf, deleted = M.delete_keys(spark, table, "user_id", [7, 8])
        assert deleted == 80 and nf >= 1
        assert M.current_version(table) == 2
        now = M.load_manifest_table(spark, table)
        assert now.count() == 3_920
        assert now.filter(F.col("user_id").isin(7, 8)).count() == 0
        # Time travel: version 1 still serves the pre-delete snapshot.
        before = M.load_manifest_table(spark, table, version=1)
        assert before.count() == 4_000

    def test_crash_before_commit_leaves_version_intact(
        self, spark, table, monkeypatch
    ):
        """Everything before the create-exclusive is additive; a crash
        there must leave the current version's file list and rows exactly
        as they were (new files are unreferenced garbage for vacuum)."""
        files_before = sorted(M.read_manifest(table)["files"])

        def boom(*args, **kwargs):
            raise RuntimeError("injected crash at commit")

        monkeypatch.setattr(M, "_commit", boom)
        with pytest.raises(RuntimeError):
            M.delete_keys(spark, table, "user_id", [7])
        monkeypatch.undo()
        assert M.current_version(table) == 1
        assert sorted(M.read_manifest(table)["files"]) == files_before
        assert M.load_manifest_table(spark, table).count() == 4_000
        # Recovery: re-run commits fully; vacuum sweeps the orphans.
        _, deleted = M.delete_keys(spark, table, "user_id", [7])
        assert deleted == 40
        removed = M.vacuum(table, retain_versions=1, min_age_seconds=0)
        assert removed >= 1  # the orphaned crash-run rewrites went away
        assert M.load_manifest_table(spark, table).count() == 3_960

    def test_upsert_single_version_merge(self, spark, table):
        """Batch rows win, unmatched existing rows survive, and the whole
        merge is ONE committed version (no observable delete-then-append
        intermediate)."""
        batch = spark.createDataFrame(
            [(9_991, 7), (9_992, 7), (9_993, 999)], "event_id long, user_id long"
        )
        v = M.upsert(spark, batch, table, "event_id")
        assert v == 2  # exactly one version past init
        now = M.load_manifest_table(spark, table)
        assert now.count() == 4_003  # 3 new keys, none overlapped
        # Overwriting upsert: replace an existing key's row.
        batch2 = spark.createDataFrame([(100, 555)], "event_id long, user_id long")
        assert M.upsert(spark, batch2, table, "event_id") == 3
        now = M.load_manifest_table(spark, table)
        assert now.count() == 4_003
        [r] = now.filter(F.col("event_id") == 100).collect()
        assert r["user_id"] == 555

    def test_concurrent_commit_conflict(self, spark, table):
        """Two writers planning against the same version: exactly one
        create-exclusive wins, the loser gets CommitConflict."""
        m = M.read_manifest(table)
        M._commit(table, m)  # writer A wins v2
        with pytest.raises(M.CommitConflict):
            M._commit(table, m)  # writer B loses


class TestManifestCompact:
    def test_compact_merges_and_row_counts_survive(self, spark, tmp_path):
        df = spark.range(8_000).select(F.col("id").alias("k"))
        path = str(tmp_path / "mcomp")
        df.repartition(8).write.parquet(path)
        M.manifest_init(path)
        merged, written = M.compact_small_files(spark, path, target_bytes=10**9)
        assert merged == 8 and written == 1
        assert M.current_version(path) == 2
        assert M.load_manifest_table(spark, path).count() == 8_000
        # Idempotent: nothing left below threshold.
        assert M.compact_small_files(spark, path, target_bytes=10**9) == (0, 0)

    def test_vacuum_respects_retention(self, spark, tmp_path):
        df = spark.range(1_000).select(F.col("id").alias("k"))
        path = str(tmp_path / "mvac")
        df.repartition(4).write.parquet(path)
        M.manifest_init(path)
        M.compact_small_files(spark, path, target_bytes=10**9)
        # retain 2 versions: both readable, nothing to remove (v1 files
        # still referenced by the retained v1 manifest).
        assert M.vacuum(path, retain_versions=2, min_age_seconds=0) == 0
        assert M.load_manifest_table(spark, path, version=1).count() == 1_000
        # retain 1: v1's small files go, v1 manifest pruned.
        removed = M.vacuum(path, retain_versions=1, min_age_seconds=0)
        assert removed == 4
        with pytest.raises(FileNotFoundError):
            M.read_manifest(path, version=1)
        assert M.load_manifest_table(spark, path).count() == 1_000
        with pytest.raises(ValueError):
            M.vacuum(path, retain_versions=0)


def test_vacuum_dry_run_reports_without_touching(spark, tmp_path):
    import os

    path = str(tmp_path / "dryrun")
    spark.range(20).select(F.col("id").alias("k")).coalesce(
        2
    ).write.parquet(path)
    M.manifest_init(path)
    M.delete_keys(spark, path, "k", list(range(10)))  # rewrites: v1 garbage
    files_on_disk = set(os.listdir(path))
    would = M.vacuum(path, retain_versions=1, min_age_seconds=0, dry_run=True)
    assert isinstance(would, list) and len(would) >= 1
    # nothing moved: files, manifests, and reads all intact
    assert set(os.listdir(path)) == files_on_disk
    assert M.load_manifest_table(spark, path, version=1).count() == 20
    # the real pass removes exactly the reported set
    removed = M.vacuum(path, retain_versions=1, min_age_seconds=0)
    assert removed == len(would)
    assert not (set(would) & set(os.listdir(path)))


class TestTxnIdempotence:
    """The Delta-style txn protocol: per-app batch watermarks commit with
    the files, so at-least-once callers converge to exactly-once."""

    def test_replayed_batch_is_skipped(self, spark, tmp_path):
        df = spark.range(100).select(F.col("id").alias("k"))
        path = str(tmp_path / "txn_tab")
        df.write.parquet(path)
        M.manifest_init(path)
        batch = spark.range(100, 150).select(F.col("id").alias("k"))
        v1 = M.append(batch, path, txn=("app", 0))
        assert v1 == 2
        # Replay of batch 0: no new version, no duplicate rows.
        assert M.append(batch, path, txn=("app", 0)) == 2
        assert M.load_manifest_table(spark, path).count() == 150
        # Next batch advances; another app has its own watermark.
        assert M.append(batch, path, txn=("app", 1)) == 3
        assert M.append(batch, path, txn=("other", 0)) == 4
        assert M.load_manifest_table(spark, path).count() == 250

    def test_watermark_survives_maintenance_ops(self, spark, tmp_path):
        df = spark.range(1_000).select(F.col("id").alias("k"))
        path = str(tmp_path / "txn_maint")
        df.repartition(4).write.parquet(path)
        M.manifest_init(path)
        batch = spark.range(1_000, 1_100).select(F.col("id").alias("k"))
        M.append(batch, path, txn=("app", 7))
        M.compact_small_files(spark, path, target_bytes=10**9)
        M.delete_keys(spark, path, "k", [5])
        # The compact/delete commits must carry the watermark forward:
        # replaying batch 7 after maintenance is still a no-op.
        v = M.current_version(path)
        assert M.append(batch, path, txn=("app", 7)) == v
        assert M.load_manifest_table(spark, path).count() == 1_099

    def test_streaming_sink_exactly_once(self, spark, tmp_path):
        """availableNow drain lands every batch once; a second run over
        the same checkpoint appends nothing; a FRESH checkpoint (replay
        of already-committed batch ids) is absorbed by the txn watermark."""
        from pspcz_analyzer_spark.streaming.lake import stream_append_manifest

        landing = str(tmp_path / "landing")
        table = str(tmp_path / "stream_tab")
        ck1 = str(tmp_path / "ck1")
        spark.range(0).select(F.col("id").alias("k")).write.parquet(table)
        M.manifest_init(table)
        spark.range(200).select(F.col("id").alias("k")).write.parquet(landing)

        res = stream_append_manifest(
            spark, landing, table, ck1, schema="k long", app_id="ingest"
        )
        assert len(res) >= 1
        assert M.load_manifest_table(spark, table).count() == 200
        # Same checkpoint: nothing new to process.
        res2 = stream_append_manifest(
            spark, landing, table, ck1, schema="k long", app_id="ingest"
        )
        assert M.load_manifest_table(spark, table).count() == 200
        # Fresh checkpoint = full replay with the SAME batch ids: the
        # watermark rejects every one (version unchanged, no duplicates).
        ck2 = str(tmp_path / "ck2")
        v = M.current_version(table)
        stream_append_manifest(
            spark, landing, table, ck2, schema="k long", app_id="ingest"
        )
        assert M.current_version(table) == v
        assert M.load_manifest_table(spark, table).count() == 200


class TestSchemaEvolution:
    """Write-time enforcement, additive evolution, metadata-only DDL, and
    versioned schemas under time travel."""

    def _extra(self, spark):
        return spark.range(5).select(
            (F.col("id") + 90_000).alias("event_id"),
            (F.col("id") % 3).alias("user_id"),
            F.lit("b2").alias("src"),
        )

    def test_append_enforces_schema_by_default(self, spark, table):
        with pytest.raises(M.SchemaMismatch, match="adds column 'src'"):
            M.append(self._extra(spark), table)
        assert M.current_version(table) == 1  # nothing committed

    def test_type_change_always_rejected(self, spark, table):
        bad = spark.range(3).select(
            F.col("id").alias("event_id"), F.lit("x").alias("user_id")
        )
        with pytest.raises(M.SchemaMismatch, match="table has bigint"):
            M.append(bad, table, merge_schema=True)

    def test_merge_schema_appends_column_and_null_fills(self, spark, table):
        M.append(self._extra(spark), table, merge_schema=True)
        t = M.load_manifest_table(spark, table)
        assert t.columns == ["event_id", "user_id", "src"]
        assert t.filter(F.col("src").isNull()).count() == 4_000
        assert t.filter(F.col("src") == "b2").count() == 5

    def test_subset_append_null_fills_missing_column(self, spark, table):
        M.append(self._extra(spark), table, merge_schema=True)
        subset = spark.range(2).select(
            (F.col("id") + 95_000).alias("event_id"),
            (F.col("id") % 3).alias("user_id"),
        )
        M.append(subset, table)  # src missing: allowed, reads as null
        t = M.load_manifest_table(spark, table)
        assert t.filter(F.col("event_id") >= 95_000).count() == 2
        assert (
            t.filter((F.col("event_id") >= 95_000) & F.col("src").isNull()).count()
            == 2
        )

    def test_add_column_is_metadata_only(self, spark, table):
        files_before = set(M.read_manifest(table)["files"])
        v = M.add_column(table, "flag", "int")
        m = M.read_manifest(table)
        assert m["version"] == v
        assert set(m["files"]) == files_before  # zero data IO
        t = M.load_manifest_table(spark, table)
        assert t.schema["flag"].dataType.simpleString() == "int"
        assert t.filter(F.col("flag").isNull()).count() == t.count()
        with pytest.raises(M.SchemaMismatch, match="already exists"):
            M.add_column(table, "flag", "int")

    def test_schema_is_versioned_with_time_travel(self, spark, table):
        M.append(self._extra(spark), table, merge_schema=True)
        M.add_column(table, "flag", "int")
        assert M.load_manifest_table(spark, table, version=1).columns == [
            "event_id",
            "user_id",
        ]
        assert M.load_manifest_table(spark, table, version=2).columns == [
            "event_id",
            "user_id",
            "src",
        ]
        assert M.load_manifest_table(spark, table).columns == [
            "event_id",
            "user_id",
            "src",
            "flag",
        ]

    def test_maintenance_ops_preserve_schema(self, spark, table):
        M.append(self._extra(spark), table, merge_schema=True)
        M.delete_keys(spark, table, "user_id", [1])
        assert [n for n, _ in M.read_manifest(table)["schema"]] == [
            "event_id",
            "user_id",
            "src",
        ]
        M.compact_small_files(spark, table, target_bytes=1 << 20)
        t = M.load_manifest_table(spark, table)
        assert t.columns == ["event_id", "user_id", "src"]
        assert t.filter(F.col("user_id") == 1).count() == 0


class TestTypeWidening:
    """ALTER COLUMN TYPE widening (Delta 3.x type widening in minimal
    form): the declared type moves up a lossless lattice in one
    metadata-only commit; old files keep their narrow physical type and
    the requested-schema read upcasts them per file."""

    @pytest.fixture()
    def narrow(self, spark, tmp_path):
        df = spark.range(100).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") % 7).cast("float").alias("x"),
        )
        path = str(tmp_path / "wtab")
        df.coalesce(2).write.parquet(path)
        M.manifest_init(path)
        return path

    def test_widen_is_metadata_only_and_upcasts_reads(self, spark, narrow):
        files_before = set(M.read_manifest(narrow)["files"])
        M.widen_column_type(narrow, "k", "bigint")
        M.widen_column_type(narrow, "x", "double")
        m = M.read_manifest(narrow)
        assert set(m["files"]) == files_before  # zero data IO
        assert dict(m["schema"]) == {"k": "bigint", "x": "double"}
        t = M.load_manifest_table(spark, narrow)
        assert dict(t.dtypes) == {"k": "bigint", "x": "double"}
        assert t.agg(F.sum("k")).first()[0] == sum(range(100))

    def test_wide_append_after_widen_and_mixed_read(self, spark, narrow):
        M.widen_column_type(narrow, "k", "bigint")
        big = 5_000_000_000  # > int32 range: needs the wide type
        wide = spark.range(1).select(
            F.lit(big).alias("k"), F.lit(1.5).cast("float").alias("x")
        )
        M.append(wide, narrow)
        t = M.load_manifest_table(spark, narrow)
        assert t.count() == 101
        assert t.filter(F.col("k") == big).count() == 1
        # mixed narrow/wide physical files aggregate exactly
        assert t.agg(F.sum("k")).first()[0] == sum(range(100)) + big

    def test_narrow_batch_still_writes_under_widened_type(self, spark, narrow):
        M.widen_column_type(narrow, "k", "bigint")
        nb = spark.range(3).select(
            (F.col("id") + 1_000).cast("int").alias("k"),
            F.lit(0.0).cast("float").alias("x"),
        )
        M.append(nb, narrow)  # narrow batch accepted, upcast at read
        t = M.load_manifest_table(spark, narrow)
        assert t.filter(F.col("k") >= 1_000).count() == 3
        assert dict(t.dtypes)["k"] == "bigint"

    def test_narrowing_and_cross_family_rejected(self, spark, narrow):
        with pytest.raises(M.SchemaMismatch, match="lossless widening"):
            M.widen_column_type(narrow, "k", "smallint")
        with pytest.raises(M.SchemaMismatch, match="lossless widening"):
            M.widen_column_type(narrow, "x", "string")
        with pytest.raises(M.SchemaMismatch, match="no such column"):
            M.widen_column_type(narrow, "zz", "bigint")

    def test_widen_date_to_timestamp_ntz(self, spark, tmp_path):
        path = str(tmp_path / "dwtab")
        spark.range(3).select(
            F.col("id").alias("k"),
            F.date_add(
                F.lit("2026-01-01").cast("date"), F.col("id").cast("int")
            ).alias("d"),
        ).coalesce(1).write.parquet(path)
        M.manifest_init(path)
        M.widen_column_type(path, "d", "timestamp_ntz")
        t = M.load_manifest_table(spark, path)
        assert dict(t.dtypes)["d"] == "timestamp_ntz"
        got = sorted(r["d"].isoformat() for r in t.collect())
        assert got[0] == "2026-01-01T00:00:00"  # midnight semantics

    def test_time_travel_reads_old_narrow_schema(self, spark, narrow):
        v1 = M.current_version(narrow)
        M.widen_column_type(narrow, "k", "bigint")
        old = M.load_manifest_table(spark, narrow, version=v1)
        assert dict(old.dtypes)["k"] == "int"
        assert M.load_manifest_table(spark, narrow).dtypes != old.dtypes

    def test_widen_survives_rewrite(self, spark, narrow):
        M.widen_column_type(narrow, "k", "bigint")
        M.delete_where(spark, narrow, "k < 10")
        t = M.load_manifest_table(spark, narrow)
        assert dict(t.dtypes)["k"] == "bigint"
        assert t.count() == 90
        assert t.agg(F.min("k")).first()[0] == 10


class TestColumnDefaults:
    """ADD COLUMN ... DEFAULT (Iceberg v3 initial/write defaults in
    minimal form): initial defaults fill pre-existing rows metadata-only
    (exactly the files whose seq predates the column); write defaults
    fill omitted columns at write time."""

    @pytest.fixture()
    def dtab(self, spark, tmp_path):
        df = spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g")
        )
        path = str(tmp_path / "dtab")
        df.coalesce(2).write.parquet(path)
        M.manifest_init(path)
        return path

    def test_initial_default_fills_old_rows_only(self, spark, dtab):
        files0 = set(M.read_manifest(dtab)["files"])
        M.add_column(dtab, "tier", "string", initial_default="'legacy'")
        assert set(M.read_manifest(dtab)["files"]) == files0  # zero IO
        t = M.load_manifest_table(spark, dtab)
        assert t.filter(F.col("tier") == "legacy").count() == 10
        # a LATER batch writing an explicit NULL stays NULL
        batch = spark.range(2).select(
            (F.col("id") + 100).alias("k"),
            F.lit(0).cast("bigint").alias("g"),
            F.lit(None).cast("string").alias("tier"),
        )
        M.append(batch, dtab)
        t = M.load_manifest_table(spark, dtab)
        assert t.filter(F.col("tier").isNull()).count() == 2
        assert t.filter(F.col("tier") == "legacy").count() == 10

    def test_write_default_fills_omitted_column(self, spark, dtab):
        M.add_column(
            dtab, "src", "string",
            initial_default="'old'", write_default="'live'",
        )
        batch = spark.range(3).select(
            (F.col("id") + 200).alias("k"), F.lit(0).cast("bigint").alias("g")
        )
        M.append(batch, dtab)  # omits src -> write default materializes
        t = M.load_manifest_table(spark, dtab)
        assert t.filter(F.col("src") == "live").count() == 3
        assert t.filter(F.col("src") == "old").count() == 10

    def test_default_survives_rewrite_and_restore_drops_it(self, spark, dtab):
        M.add_column(dtab, "w", "double", initial_default="1.5")
        v_with = M.current_version(dtab)
        M.delete_where(spark, dtab, "k >= 8")  # rewrites -> materializes
        t = M.load_manifest_table(spark, dtab)
        assert t.count() == 8
        assert t.filter(F.col("w") == 1.5).count() == 8
        # restore to BEFORE the column: default (and column) must vanish
        M.restore(dtab, v_with - 1)
        m = M.read_manifest(dtab)
        assert "w" not in {n for n, _ in m["schema"]}
        assert not m.get("defaults")
        # re-adding later works and re-fills from the new `since`
        M.add_column(dtab, "w", "double", initial_default="2.5")
        t = M.load_manifest_table(spark, dtab)
        assert t.filter(F.col("w") == 2.5).count() == 10

    def test_rename_keeps_default(self, spark, dtab):
        M.add_column(dtab, "tag", "string", initial_default="'x'")
        M.rename_column(dtab, "tag", "label")
        t = M.load_manifest_table(spark, dtab)
        assert t.filter(F.col("label") == "x").count() == 10
        assert "label" in M.read_manifest(dtab)["defaults"]

    def test_clone_carries_default_on_shifted_seq(self, spark, dtab, tmp_path):
        M.add_column(dtab, "tier", "string", initial_default="'legacy'")
        dst = str(tmp_path / "dclone")
        M.clone_table(dtab, dst, shallow=False)
        t = M.load_manifest_table(spark, dst)
        assert t.filter(F.col("tier") == "legacy").count() == 10
        # the CLONE's own appends are never default-filled
        batch = spark.range(1).select(
            F.lit(999).cast("bigint").alias("k"),
            F.lit(0).cast("bigint").alias("g"),
            F.lit(None).cast("string").alias("tier"),
        )
        M.append(batch, dst)
        t = M.load_manifest_table(spark, dst)
        assert t.filter(F.col("tier").isNull()).count() == 1

    def test_initial_default_bumps_reader_version(self, dtab):
        M.add_column(dtab, "tier", "string", initial_default="'legacy'")
        assert M.read_manifest(dtab)["protocol"]["reader"] == 2

    def test_write_only_default_keeps_reader_v1(self, dtab):
        M.add_column(dtab, "src", "string", write_default="'live'")
        assert M.read_manifest(dtab)["protocol"]["reader"] == 1


class TestIdentityColumns:
    """GENERATED ALWAYS AS IDENTITY (Delta identity columns in minimal
    form): per-file ordinal bases make backfill and appends zero-storage,
    the optimistic commit is the counter, rewrites materialize survivors'
    values so DML preserves identity."""

    @pytest.fixture()
    def itab(self, spark, tmp_path):
        df = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("g")
        )
        path = str(tmp_path / "itab")
        df.coalesce(3).write.parquet(path)
        M.manifest_init(path)
        return path

    def test_backfill_is_metadata_only_and_contiguous(self, spark, itab):
        files0 = set(M.read_manifest(itab)["files"])
        M.add_identity_column(itab, "uid", start=10, step=5)
        m = M.read_manifest(itab)
        assert set(m["files"]) == files0  # zero data IO
        t = M.load_manifest_table(spark, itab)
        got = sorted(r[0] for r in t.select("uid").collect())
        assert got == [10 + 5 * i for i in range(100)]

    def test_append_extends_sequence(self, spark, itab):
        M.add_identity_column(itab, "uid")
        batch = spark.range(7).select(
            (F.col("id") + 500).alias("k"), F.lit(0).cast("bigint").alias("g")
        )
        M.append(batch, itab)
        t = M.load_manifest_table(spark, itab)
        got = sorted(r[0] for r in t.select("uid").collect())
        assert got == [1 + i for i in range(107)]  # start=1, step=1
        new_ids = {
            r[0] for r in t.filter(F.col("k") >= 500).select("uid").collect()
        }
        assert new_ids == {101 + i for i in range(7)}

    def test_supplying_or_updating_identity_rejected(self, spark, itab):
        M.add_identity_column(itab, "uid")
        bad = spark.range(1).select(
            F.lit(999).cast("bigint").alias("k"),
            F.lit(0).cast("bigint").alias("g"),
            F.lit(123).cast("bigint").alias("uid"),
        )
        with pytest.raises(M.SchemaMismatch, match="GENERATED ALWAYS"):
            M.append(bad, itab)
        with pytest.raises(M.SchemaMismatch, match="GENERATED ALWAYS"):
            M.update_where(spark, itab, "k = 1", {"uid": "0"})
        with pytest.raises(M.SchemaMismatch, match="GENERATED ALWAYS"):
            M.update_where_pos(spark, itab, "k = 1", {"uid": "0"})

    def test_dml_rewrite_preserves_identity(self, spark, itab):
        M.add_identity_column(itab, "uid")
        before = {
            r["k"]: r["uid"]
            for r in M.load_manifest_table(spark, itab).collect()
        }
        M.delete_where(spark, itab, "k % 10 = 3")
        M.update_where(spark, itab, "k % 10 = 4", {"g": "g + 100"})
        t = M.load_manifest_table(spark, itab)
        after = {r["k"]: r["uid"] for r in t.collect()}
        assert len(after) == 90
        assert all(before[k] == uid for k, uid in after.items())
        assert t.select("uid").distinct().count() == 90

    def test_time_travel_and_restore(self, spark, itab):
        v0 = M.current_version(itab)
        M.add_identity_column(itab, "uid")
        assert "uid" not in M.load_manifest_table(spark, itab, version=v0).columns
        M.restore(itab, v0)
        m = M.read_manifest(itab)
        assert "uid" not in {n for n, _ in m["schema"]}
        assert not m.get("identity")

    def test_rename_keeps_values(self, spark, itab):
        M.add_identity_column(itab, "uid", start=100)
        M.rename_column(itab, "uid", "row_no")
        t = M.load_manifest_table(spark, itab)
        got = sorted(r[0] for r in t.select("row_no").collect())
        assert got == [100 + i for i in range(100)]
        assert "row_no" in M.read_manifest(itab)["identity"]

    def test_clone_carries_values_and_continues(self, spark, itab, tmp_path):
        M.add_identity_column(itab, "uid")
        src_ids = sorted(
            r[0]
            for r in M.load_manifest_table(spark, itab).select("uid").collect()
        )
        dst = str(tmp_path / "iclone")
        M.clone_table(itab, dst, shallow=False)
        t = M.load_manifest_table(spark, dst)
        assert sorted(r[0] for r in t.select("uid").collect()) == src_ids
        batch = spark.range(3).select(
            (F.col("id") + 900).alias("k"), F.lit(0).cast("bigint").alias("g")
        )
        M.append(batch, dst)
        t = M.load_manifest_table(spark, dst)
        assert t.select("uid").distinct().count() == 103  # no collisions

    def test_identity_bumps_reader_version(self, itab):
        M.add_identity_column(itab, "uid")
        assert M.read_manifest(itab)["protocol"]["reader"] == 2

    def test_upsert_and_merge_respect_identity(self, spark, itab):
        M.add_identity_column(itab, "uid")
        bad = spark.range(1).select(
            F.lit(5).cast("bigint").alias("k"),
            F.lit(0).cast("bigint").alias("g"),
            F.lit(1).cast("bigint").alias("uid"),
        )
        with pytest.raises(M.SchemaMismatch, match="GENERATED ALWAYS"):
            M.upsert(spark, bad, itab, "k")
        with pytest.raises(M.SchemaMismatch, match="GENERATED ALWAYS"):
            M.merge_into(spark, itab, bad, "k")
        with pytest.raises(M.SchemaMismatch, match="GENERATED ALWAYS"):
            M.merge_into(
                spark, itab, bad.drop("uid"), "k",
                when_matched_update={"uid": "0"},
                when_not_matched_insert=False,
            )
        # MERGE INSERT omitting the column allocates fresh unique ids.
        src = spark.range(2).select(
            (F.col("id") + 700).alias("k"), F.lit(0).cast("bigint").alias("g")
        )
        M.merge_into(spark, itab, src, "k")
        t = M.load_manifest_table(spark, itab)
        assert t.count() == 102
        assert t.select("uid").distinct().count() == 102

    def test_upsert_inserts_get_write_default_and_identity(self, spark, itab):
        M.add_identity_column(itab, "uid")
        M.add_column(
            itab, "src", "string",
            initial_default="'old'", write_default="'up'",
        )
        batch = spark.range(2).select(
            (F.col("id") + 800).alias("k"), F.lit(0).cast("bigint").alias("g")
        )
        M.upsert(spark, batch, itab, "k")
        t = M.load_manifest_table(spark, itab)
        assert t.filter(F.col("src") == "up").count() == 2
        assert t.filter(F.col("src") == "old").count() == 100
        assert t.select("uid").distinct().count() == 102


class TestDropColumn:
    """Metadata-only DROP COLUMN: zero rewrites, versioned like all DDL,
    with a monotone dropped-physical-names ledger that keeps a later
    re-add from resurrecting stale bytes."""

    @pytest.fixture()
    def ptab(self, spark, tmp_path):
        df = spark.range(50).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("g"),
            (F.col("id") * 2.0).alias("price"),
        )
        path = str(tmp_path / "ptab")
        df.coalesce(2).write.parquet(path)
        M.manifest_init(path, stat_cols=["k", "price"])
        return path

    def test_drop_is_metadata_only_and_versioned(self, spark, ptab):
        files0 = set(M.read_manifest(ptab)["files"])
        v0 = M.current_version(ptab)
        M.drop_column(ptab, "price")
        m = M.read_manifest(ptab)
        assert set(m["files"]) == files0  # zero data IO
        assert "price" not in {n for n, _ in m["schema"]}
        assert m["dropped"] == ["price"]
        t = M.load_manifest_table(spark, ptab)
        assert t.columns == ["k", "g"]
        # time travel still reads the dropped column
        old = M.load_manifest_table(spark, ptab, version=v0)
        assert "price" in old.columns
        assert old.agg(F.sum("price")).first()[0] == sum(2.0 * i for i in range(50))

    def test_readd_reads_null_not_stale_bytes(self, spark, ptab):
        M.drop_column(ptab, "price")
        M.add_column(ptab, "price", "double")
        m = M.read_manifest(ptab)
        assert m["colmap"]["price"].startswith("price__v")  # fresh binding
        t = M.load_manifest_table(spark, ptab)
        assert t.filter(F.col("price").isNotNull()).count() == 0
        batch = spark.range(2).select(
            (F.col("id") + 100).alias("k"),
            F.lit(0).cast("bigint").alias("g"),
            F.lit(9.5).alias("price"),
        )
        M.append(batch, ptab)
        t = M.load_manifest_table(spark, ptab)
        assert t.filter(F.col("price") == 9.5).count() == 2
        assert t.filter(F.col("price").isNull()).count() == 50

    def test_merge_schema_cannot_rebind_dropped_name(self, spark, ptab):
        M.drop_column(ptab, "price")
        batch = spark.range(1).select(
            F.lit(200).cast("bigint").alias("k"),
            F.lit(0).cast("bigint").alias("g"),
            F.lit(1.0).alias("price"),
        )
        with pytest.raises(M.SchemaMismatch, match="DROPPED or renamed-away"):
            M.append(batch, ptab, merge_schema=True)

    def test_merge_schema_cannot_rebind_renamed_away_physical(
        self, spark, ptab
    ):
        """ADVICE r07: after rename_column('price','cost') the physical
        'price' still holds cost's data in every existing file — a
        merge-schema batch introducing a NEW column named 'price' would
        bind to it and resurrect those bytes (duplicate physical fields
        in the requested schema). Same guard as the dropped ledger."""
        M.rename_column(ptab, "price", "cost")
        batch = spark.range(1).select(
            F.lit(200).cast("bigint").alias("k"),
            F.lit(0).cast("bigint").alias("g"),
            F.lit(1.0).alias("cost"),
            F.lit(7.0).alias("price"),  # new logical col = old physical
        )
        with pytest.raises(M.SchemaMismatch, match="DROPPED or renamed-away"):
            M.append(batch, ptab, merge_schema=True)
        # the sanctioned route still works: add_column binds fresh physical
        M.add_column(ptab, "price", "double")
        m = M.read_manifest(ptab)
        assert m["colmap"]["price"].startswith("price__v")
        M.append(batch, ptab)
        t = M.load_manifest_table(spark, ptab)
        row = t.filter(F.col("k") == 200).first()
        assert row["price"] == 7.0 and row["cost"] == 1.0
        # old rows: cost reads the original bytes, price reads NULL
        assert t.filter(F.col("price").isNotNull()).count() == 1
        assert t.filter(F.col("cost").isNotNull()).count() == 51

    def test_blockers_raise(self, spark, ptab):
        M.set_constraint(spark, ptab, "pos_price", "price >= 0")
        with pytest.raises(ValueError, match="CHECK constraint"):
            M.drop_column(ptab, "price")
        M.drop_constraint(ptab, "pos_price")
        M.delete_keys_mor(spark, ptab, "k", [1])
        with pytest.raises(ValueError, match="equality-delete"):
            M.drop_column(ptab, "k")
        M.drop_column(ptab, "price")  # price has no delete entry: fine
        with pytest.raises(M.SchemaMismatch, match="does not exist"):
            M.drop_column(ptab, "nope")

    def test_drop_generated_and_identity_columns(self, spark, ptab):
        M.add_generated_column(spark, ptab, "g2", "bigint", "g * 2")
        M.add_identity_column(ptab, "uid")
        M.drop_column(ptab, "g2")
        M.drop_column(ptab, "uid")
        m = M.read_manifest(ptab)
        assert not m.get("generated")
        assert not m.get("identity")
        batch = spark.range(1).select(
            F.lit(300).cast("bigint").alias("k"),
            F.lit(0).cast("bigint").alias("g"),
            F.lit(1.0).alias("price"),
        )
        M.append(batch, ptab)  # no generated/identity machinery fires
        assert M.load_manifest_table(spark, ptab).count() == 51

    def test_stats_pruning_survives_stat_col_drop(self, spark, ptab):
        M.drop_column(ptab, "price")
        m = M.read_manifest(ptab)
        assert m["stat_cols"] == ["k"]
        assert all("price" not in per for per in m["stats"].values())
        batch = spark.range(3).select(
            (F.col("id") + 400).alias("k"), F.lit(0).cast("bigint").alias("g")
        )
        M.append(batch, ptab)  # stats refresh must not look for price
        hits = M.scan_auto(spark, ptab, ranges={"k": (400, 500)})
        assert hits.count() == 3

    def test_dropped_ledger_survives_restore(self, spark, ptab):
        v0 = M.current_version(ptab)
        M.drop_column(ptab, "price")
        M.restore(ptab, v0)
        m = M.read_manifest(ptab)
        assert "price" in {n for n, _ in m["schema"]}  # column is back
        assert m["dropped"] == ["price"]  # ledger is monotone


class TestDeleteConflictCommute:
    """WriteSerializable conflict resolution for DELETE WHERE (Delta's
    rule): a concurrent APPEND does not abort the DELETE — the staged
    rewrites re-publish over the new file list (the delete serializes
    first); a concurrent rewrite of the delete's own victims aborts."""

    @pytest.fixture()
    def ctab(self, spark, tmp_path):
        df = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") % 10).alias("g")
        )
        path = str(tmp_path / "ctab")
        write_range_sorted(df, path, "k", num_partitions=4)
        M.manifest_init(path, stat_cols=["k"])
        return path

    def test_concurrent_append_commutes(self, spark, ctab, monkeypatch):
        orig = M._commit
        state = {"raced": False}
        wave = spark.range(2).select(
            (F.col("id") + 900).alias("k"), F.lit(0).cast("bigint").alias("g")
        )

        def racing(path, m, files=None, **kw):
            if not state["raced"] and any(
                n.startswith("delw-") for n in files
            ):
                state["raced"] = True
                M.append(wave, ctab)  # interloper wins the version race
            return orig(path, m, files, **kw)

        monkeypatch.setattr(M, "_commit", racing)
        # predicate cuts WITHIN files so survivors rewrite (staged delw-)
        nfiles, ndel = M.delete_where(spark, ctab, "k % 2 = 0")
        assert state["raced"] and ndel == 50
        t = M.load_manifest_table(spark, ctab)
        # survivors + the concurrently appended rows both present
        assert t.count() == 52
        assert t.filter(F.col("k") >= 900).count() == 2
        assert t.filter((F.col("k") < 900) & (F.col("k") % 2 == 0)).count() == 0

    def test_update_commutes_with_append(self, spark, ctab, monkeypatch):
        orig = M._commit
        state = {"raced": False}
        wave = spark.range(1).select(
            F.lit(950).cast("bigint").alias("k"),
            F.lit(7).cast("bigint").alias("g"),
        )

        def racing(path, m, files=None, **kw):
            if not state["raced"] and any(
                n.startswith("updw-") for n in files
            ):
                state["raced"] = True
                M.append(wave, ctab)
            return orig(path, m, files, **kw)

        monkeypatch.setattr(M, "_commit", racing)
        nfiles, nupd = M.update_where(
            spark, ctab, "k % 2 = 0", {"g": "g + 100"}
        )
        assert state["raced"] and nupd == 50
        t = M.load_manifest_table(spark, ctab)
        assert t.count() == 101
        assert t.filter(F.col("k") == 950).count() == 1
        assert (
            t.filter((F.col("k") < 900) & (F.col("k") % 2 == 0))
            .filter(F.col("g") < 100)
            .count()
            == 0
        )

    def test_compaction_commutes_with_append(self, spark, ctab, monkeypatch):
        orig = M._commit
        state = {"raced": False}
        wave = spark.range(1).select(
            F.lit(960).cast("bigint").alias("k"),
            F.lit(0).cast("bigint").alias("g"),
        )

        def racing(path, m, files=None, **kw):
            if not state["raced"] and any(
                n.startswith("compact-") for n in files
            ):
                state["raced"] = True
                M.append(wave, ctab)
            return orig(path, m, files, **kw)

        monkeypatch.setattr(M, "_commit", racing)
        merged, written = M.compact_small_files(
            spark, ctab, target_bytes=1 << 20
        )
        assert state["raced"] and merged >= 2
        t = M.load_manifest_table(spark, ctab)
        assert t.count() == 101
        assert t.filter(F.col("k") == 960).count() == 1

    def test_victim_rewrite_aborts_and_cleans(self, spark, ctab, monkeypatch):
        import os as _os

        orig = M._commit
        state = {"raced": False}

        def racing(path, m, files=None, **kw):
            if not state["raced"] and any(
                n.startswith("delw-") for n in files
            ):
                state["raced"] = True
                # Interloper rewrites the SAME region the delete read:
                # retrying blind would resurrect its effect.
                M.delete_keys(spark, ctab, "k", [10])
            return orig(path, m, files, **kw)

        monkeypatch.setattr(M, "_commit", racing)
        with pytest.raises(M.CommitConflict):
            M.delete_where(spark, ctab, "k % 2 = 0")
        # interloper's state intact, no staged delete debris
        t = M.load_manifest_table(spark, ctab)
        assert t.count() == 99
        assert not [
            f for f in _os.listdir(ctab) if f.startswith("delw-")
        ]


class TestTwoWriterRaceMatrix:
    """r9 verdict ask #4: systematic two-writer interleaving matrix over
    {append, DELETE WHERE, compact_segments, WAP publish, MoR delete,
    CDF append} x {interloper append, interloper targeted DML}. The
    interloper commits first at the version the primary expected; the
    primary then either COMMUTES (both effects land, nothing lost) or
    raises CommitConflict with ZERO visible effect — and in every cell
    the post-race table survives a retain-1 vacuum intact (which fails
    loudly on any referenced-but-missing blob) with no winner row lost."""

    def _mk(self, spark, tmp_path, name):
        df = spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") % 10).alias("g")
        )
        path = str(tmp_path / name)
        write_range_sorted(df, path, "k", num_partitions=4)
        M.manifest_init(path, stat_cols=["k"])
        return path

    def _race(self, spark, monkeypatch, interloper):
        """Patch M._commit so the FIRST commit attempt is preceded by the
        interloper winning the version race; returns the raced flag."""
        orig = M._commit
        state = {"raced": False}

        def racing(path, m, files=None, **kw):
            if not state["raced"]:
                state["raced"] = True
                interloper()
            return orig(path, m, files, **kw)

        monkeypatch.setattr(M, "_commit", racing)
        return state

    def _interlopers(self, spark, path):
        wave = spark.range(3).select(
            (F.col("id") + 900).alias("k"),
            F.lit(0).cast("bigint").alias("g"),
        )
        return {
            # +3 rows
            "append": (lambda: M.append(wave, path), 3),
            # -1 row (rewrites the file holding k=150: disjoint from
            # every primary's victim region below)
            "dml": (lambda: M.delete_keys(spark, path, "k", [150]), -1),
        }

    def _settle(self, spark, path, expect_rows):
        """The matrix invariant: exact surviving rows, then a retain-1
        vacuum after which the table still reads exactly the same —
        lost updates, orphaned references, and missing blobs all fail
        here."""
        t = M.load_manifest_table(spark, path)
        assert t.count() == expect_rows
        M.vacuum(path, retain_versions=1, min_age_seconds=0)
        assert M.load_manifest_table(spark, path).count() == expect_rows

    @pytest.mark.parametrize("interloper", ["append", "dml"])
    def test_append_commutes(self, spark, tmp_path, monkeypatch, interloper):
        path = self._mk(spark, tmp_path, f"race_app_{interloper}")
        fn, delta = self._interlopers(spark, path)[interloper]
        state = self._race(spark, monkeypatch, fn)
        batch = spark.range(5).select(
            (F.col("id") + 800).alias("k"),
            F.lit(1).cast("bigint").alias("g"),
        )
        M.append(batch, path, max_commit_retries=2)
        assert state["raced"]
        self._settle(spark, path, 200 + delta + 5)
        t = M.load_manifest_table(spark, path)
        assert t.filter(F.col("k").between(800, 804)).count() == 5
        if interloper == "dml":
            assert t.filter(F.col("k") == 150).count() == 0
        else:
            assert t.filter(F.col("k") >= 900).count() == 3

    @pytest.mark.parametrize("interloper", ["append", "dml"])
    def test_delete_where_commutes(
        self, spark, tmp_path, monkeypatch, interloper
    ):
        # victims = the k<50 file only; the dml interloper rewrites the
        # k=150 file — disjoint, so the delete serializes first
        path = self._mk(spark, tmp_path, f"race_delw_{interloper}")
        fn, delta = self._interlopers(spark, path)[interloper]
        state = self._race(spark, monkeypatch, fn)
        _nf, ndel = M.delete_where(spark, path, "k < 30")
        assert state["raced"] and ndel == 30
        self._settle(spark, path, 200 + delta - 30)
        t = M.load_manifest_table(spark, path)
        assert t.filter(F.col("k") < 30).count() == 0

    @pytest.mark.parametrize("interloper", ["append", "dml"])
    def test_compact_segments_conflicts_cleanly(
        self, spark, tmp_path, monkeypatch, interloper
    ):
        monkeypatch.setattr(M, "MANIFEST_SEGMENT_THRESHOLD", 4)
        monkeypatch.setattr(M, "SEGMENT_TARGET_FILES", 3)
        path = self._mk(spark, tmp_path, f"race_cseg_{interloper}")
        # fragment: three 1-file appends leave 3 extra tiny segments
        for i in range(3):
            M.append(
                spark.range(1).select(
                    (F.col("id") + 500 + i).alias("k"),
                    F.lit(0).cast("bigint").alias("g"),
                ),
                path,
            )
        fn, delta = self._interlopers(spark, path)[interloper]
        state = self._race(spark, monkeypatch, fn)
        with pytest.raises(M.CommitConflict):
            M.compact_segments(path)
        assert state["raced"]
        # loser left no orphan blobs: everything under _manifest/segments
        # is referenced by some retained version
        segdir = os.path.join(path, "_manifest", "segments")
        refd: set = set()
        for v in M._versions(path):
            import json as _json

            raw = _json.loads(
                open(os.path.join(path, "_manifest", f"{v:08d}.json")).read()
            )
            refd.update(os.path.basename(s) for s in raw.get("segments") or [])
        assert set(os.listdir(segdir)) == refd
        self._settle(spark, path, 203 + delta)
        # ...and a re-run (no race) still compacts
        assert M.compact_segments(path) > 0
        assert M.load_manifest_table(spark, path).count() == 203 + delta

    @pytest.mark.parametrize("interloper", ["append", "dml"])
    def test_publish_staged_conflicts_then_retries(
        self, spark, tmp_path, monkeypatch, interloper
    ):
        path = self._mk(spark, tmp_path, f"race_wap_{interloper}")
        batch = spark.range(5).select(
            (F.col("id") + 800).alias("k"),
            F.lit(1).cast("bigint").alias("g"),
        )
        M.stage_append(batch, path, "audit1")
        fn, delta = self._interlopers(spark, path)[interloper]
        state = self._race(spark, monkeypatch, fn)
        with pytest.raises(M.CommitConflict):
            M.publish_staged(spark, path, "audit1")
        assert state["raced"]
        # loser had zero effect; the ref is STILL staged and retryable
        assert M.load_manifest_table(spark, path).count() == 200 + delta
        M.publish_staged(spark, path, "audit1")
        t = M.load_manifest_table(spark, path)
        assert t.count() == 200 + delta + 5
        # exactly once: no double-publish of the staged files
        assert t.filter(F.col("k").between(800, 804)).count() == 5
        self._settle(spark, path, 200 + delta + 5)

    @pytest.mark.parametrize("interloper", ["append", "dml"])
    def test_mor_delete_conflicts_then_retries(
        self, spark, tmp_path, monkeypatch, interloper
    ):
        path = self._mk(spark, tmp_path, f"race_mor_{interloper}")
        fn, delta = self._interlopers(spark, path)[interloper]
        state = self._race(spark, monkeypatch, fn)
        with pytest.raises(M.CommitConflict):
            M.delete_keys_mor(spark, path, "k", [40])
        assert state["raced"]
        # zero effect: k=40 still present, interloper's commit intact
        t = M.load_manifest_table(spark, path)
        assert t.count() == 200 + delta
        assert t.filter(F.col("k") == 40).count() == 1
        # a clean retry applies the MoR delete over the new version
        M.delete_keys_mor(spark, path, "k", [40])
        self._settle(spark, path, 200 + delta - 1)
        assert (
            M.load_manifest_table(spark, path)
            .filter(F.col("k") == 40)
            .count()
            == 0
        )

    @pytest.mark.parametrize("interloper", ["append", "dml"])
    def test_update_where_commutes(
        self, spark, tmp_path, monkeypatch, interloper
    ):
        path = self._mk(spark, tmp_path, f"race_updw_{interloper}")
        fn, delta = self._interlopers(spark, path)[interloper]
        state = self._race(spark, monkeypatch, fn)
        _nf, nupd = M.update_where(spark, path, "k < 30", {"g": "g + 100"})
        assert state["raced"] and nupd == 30
        self._settle(spark, path, 200 + delta)
        t = M.load_manifest_table(spark, path)
        assert t.filter((F.col("k") < 30) & (F.col("g") < 100)).count() == 0

    @pytest.mark.parametrize("interloper", ["append", "dml"])
    def test_upsert_conflicts_then_retries(
        self, spark, tmp_path, monkeypatch, interloper
    ):
        # upsert has no staged-once retry BY DESIGN: its victim planning
        # is key-addressed, so a conflicting commit may move victims —
        # the loser re-plans from scratch
        path = self._mk(spark, tmp_path, f"race_ups_{interloper}")
        fn, delta = self._interlopers(spark, path)[interloper]
        state = self._race(spark, monkeypatch, fn)
        batch = spark.createDataFrame(
            [(10, 777), (11, 777), (999, 777)], "k long, g long"
        )
        with pytest.raises(M.CommitConflict):
            M.upsert(spark, batch, path, "k")
        assert state["raced"]
        # zero effect: keys untouched, interloper intact
        t = M.load_manifest_table(spark, path)
        assert t.count() == 200 + delta
        assert t.filter((F.col("k") == 10) & (F.col("g") == 777)).count() == 0
        # a clean re-plan applies over the new version
        M.upsert(spark, batch, path, "k")
        self._settle(spark, path, 200 + delta + 1)
        t = M.load_manifest_table(spark, path)
        assert (
            t.filter(F.col("k").isin(10, 11, 999))
            .filter(F.col("g") == 777)
            .count()
            == 3
        )

    @pytest.mark.parametrize("interloper", ["append", "dml"])
    def test_cdf_append_commutes_exactly_once(
        self, spark, tmp_path, monkeypatch, interloper
    ):
        path = self._mk(spark, tmp_path, f"race_cdf_{interloper}")
        M.enable_cdf(path)
        v0 = M.current_version(path)
        fn, delta = self._interlopers(spark, path)[interloper]
        state = self._race(spark, monkeypatch, fn)
        batch = spark.range(5).select(
            (F.col("id") + 800).alias("k"),
            F.lit(1).cast("bigint").alias("g"),
        )
        M.append(batch, path, max_commit_retries=2)
        assert state["raced"]
        # CDF sees the primary batch EXACTLY once (the WAP-publish
        # double-append bug class, raced instead of crashed) — checked
        # BEFORE _settle, whose retain-1 vacuum prunes the old manifests
        ch = M.read_changes(spark, path, v0).filter(
            F.col("k").between(800, 804)
        )
        assert ch.filter(F.col("_change_type") == "insert").count() == 5
        self._settle(spark, path, 200 + delta + 5)


class TestScopedCompaction:
    """OPTIMIZE ... WHERE (partition-scoped compaction): only the named
    partition's small files are examined or touched."""

    def test_where_scopes_the_pass(self, spark, tmp_path):
        path = str(tmp_path / "sctab")
        # Build a partitioned table via appends under a spec.
        df = spark.range(40).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("g")
        )
        df.coalesce(1).write.parquet(path)
        M.manifest_init(path)
        M.set_partition_spec(path, ["g"])
        for i in range(3):  # three small appends per partition value
            M.append(
                spark.range(40 + i * 4, 44 + i * 4).select(
                    F.col("id").alias("k"), (F.col("id") % 2).alias("g")
                ),
                path,
            )
        m0 = M.read_manifest(path)
        parts = m0.get("partitions") or {}
        g0_before = [f for f, p in parts.items() if p.get("g") == "0"]
        g1_before = [f for f, p in parts.items() if p.get("g") == "1"]
        assert len(g0_before) >= 2 and len(g1_before) >= 2
        merged, written = M.compact_small_files(
            spark, path, target_bytes=1 << 20, where={"g": "0"}
        )
        assert merged >= 2 and written >= 1
        m1 = M.read_manifest(path)
        parts1 = m1.get("partitions") or {}
        # partition g=1 files untouched; g=0 small files merged
        assert set(g1_before) <= set(m1["files"])
        assert not (set(g0_before) & set(m1["files"]))
        t = M.load_manifest_table(spark, path)
        assert t.count() == 52
        # merged outputs inherit the partition tuple (pruning survives)
        new_files = set(m1["files"]) - set(m0["files"])
        assert all(parts1.get(f, {}).get("g") == "0" for f in new_files)


class TestIncrementalClustering:
    """optimize_clustered: liquid clustering's core move — cluster only
    the files added since the watermark; outputs never re-cluster and
    cost tracks ingest, not table size."""

    @pytest.fixture()
    def ltab(self, spark, tmp_path):
        # deliberately scrambled on v so clustering has work to do
        df = spark.range(1_000).select(
            F.col("id").alias("k"),
            ((F.col("id") * 7919) % 1000).alias("v"),
        )
        path = str(tmp_path / "ltab")
        df.repartition(4).write.parquet(path)
        M.manifest_init(path, stat_cols=["v"])
        return path

    def test_second_pass_touches_only_new_files(self, spark, ltab):
        n1, w1 = M.optimize_clustered(spark, ltab, ["v"], num_partitions=3)
        assert n1 >= 4 and w1 == 3
        clustered1 = set(M.read_manifest(ltab)["files"])
        M.append(
            spark.range(1_000, 1_200).select(
                F.col("id").alias("k"), ((F.col("id") * 7919) % 1000).alias("v")
            ).coalesce(1),
            ltab,
        )
        M.append(
            spark.range(1_200, 1_400).select(
                F.col("id").alias("k"), ((F.col("id") * 7919) % 1000).alias("v")
            ).coalesce(1),
            ltab,
        )
        n2, w2 = M.optimize_clustered(spark, ltab, ["v"], num_partitions=2)
        assert n2 == 2 and w2 >= 1  # ONLY the two appended files
        m = M.read_manifest(ltab)
        # every first-pass output survived untouched
        assert clustered1 <= set(m["files"]) | set()
        t = M.load_manifest_table(spark, ltab)
        assert t.count() == 1_400
        # clustering actually helps: depth on v stays small
        assert M.clustering_depth(ltab, "v") <= 3

    def test_outputs_not_reclustered_and_min_files(self, spark, ltab):
        M.optimize_clustered(spark, ltab, ["v"])
        assert M.optimize_clustered(spark, ltab, ["v"]) == (0, 0)  # no pending
        M.append(
            spark.range(5_000, 5_010).select(
                F.col("id").alias("k"), (F.col("id") % 3).alias("v")
            ).coalesce(1),
            ltab,
        )
        # one straggler file < min_files: no version churn
        v0 = M.current_version(ltab)
        assert M.optimize_clustered(spark, ltab, ["v"], min_files=2) == (0, 0)
        assert M.current_version(ltab) == v0

    def test_column_set_is_sticky(self, spark, ltab):
        M.optimize_clustered(spark, ltab, ["v"])
        with pytest.raises(ValueError, match="clustered by"):
            M.optimize_clustered(spark, ltab, ["k"])

    def test_full_relay_resets_spec_and_watermark(self, spark, ltab):
        M.optimize_clustered(spark, ltab, ["v"])
        # Full re-lay on a DIFFERENT column = ALTER CLUSTER BY: the spec
        # switches and the watermark resets, so the next incremental pass
        # clusters only post-re-lay arrivals (never the whole table).
        M.optimize_zorder(spark, ltab, ["k"])
        props = M.read_manifest(ltab)["props"]
        assert props["cluster_by"] == "k"
        assert M.optimize_clustered(spark, ltab, ["k"]) == (0, 0)  # nothing pending
        M.append(
            spark.range(9_000, 9_100).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("v")
            ).repartition(2),
            ltab,
        )
        n, _w = M.optimize_clustered(spark, ltab, ["k"])
        assert n == 2  # only the arrivals

    def test_drop_clustering_column_blocked(self, spark, ltab):
        M.optimize_clustered(spark, ltab, ["v"])
        with pytest.raises(ValueError, match="clustering column"):
            M.drop_column(ltab, "v")

    def test_row_ids_survive_clustering(self, spark, tmp_path):
        path = str(tmp_path / "lrt")
        spark.range(100).select(
            F.col("id").alias("k"), ((F.col("id") * 31) % 100).alias("v")
        ).repartition(3).write.parquet(path)
        M.manifest_init(path)
        M.enable_row_tracking(path)
        before = {
            r["k"]: r["_row_id"]
            for r in M.load_manifest_table(
                spark, path, with_row_ids=True
            ).collect()
        }
        M.optimize_clustered(spark, path, ["v"])
        after = {
            r["k"]: r["_row_id"]
            for r in M.load_manifest_table(
                spark, path, with_row_ids=True
            ).collect()
        }
        assert after == before


class TestWriteAuditPublish:
    """WAP (Iceberg write-audit-publish in minimal form): stage a batch
    outside the version chain, audit it against the would-be table,
    publish metadata-only or drop without the table ever seeing it."""

    @pytest.fixture()
    def wtab(self, spark, tmp_path):
        path = str(tmp_path / "waptab")
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") % 10).alias("g")
        ).coalesce(2).write.parquet(path)
        M.manifest_init(path)
        return path

    def _batch(self, spark, lo=1000, n=5):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("k"), F.lit(0).cast("bigint").alias("g")
        )

    def test_staged_invisible_until_publish(self, spark, wtab):
        v0 = M.current_version(wtab)
        n = M.stage_append(self._batch(spark), wtab, "nightly")
        assert n >= 1
        assert M.list_staged(wtab) == {"nightly": n}
        assert M.current_version(wtab) == v0  # no version committed
        assert M.load_manifest_table(spark, wtab).count() == 100
        # audit view = table + staged batch
        assert M.load_staged(spark, wtab, "nightly").count() == 105
        files0 = set(M.read_manifest(wtab)["files"])
        v1 = M.publish_staged(spark, wtab, "nightly")
        assert v1 == v0 + 1
        m = M.read_manifest(wtab)
        assert files0 < set(m["files"])  # pure metadata: old files + staged
        assert M.load_manifest_table(spark, wtab).count() == 105
        assert M.list_staged(wtab) == {}

    def test_drop_discards_without_a_version(self, spark, wtab):
        import os as _os

        M.stage_append(self._batch(spark), wtab, "exp1")
        v0 = M.current_version(wtab)
        n = M.drop_staged(wtab, "exp1")
        assert n >= 1
        assert M.current_version(wtab) == v0
        assert M.list_staged(wtab) == {}
        assert not [f for f in _os.listdir(wtab) if f.startswith("wap-exp1")]

    def test_duplicate_ref_rejected_and_cleaned(self, spark, wtab):
        import os as _os

        M.stage_append(self._batch(spark), wtab, "r1")
        before = [f for f in _os.listdir(wtab) if f.startswith("wap-r1")]
        with pytest.raises(ValueError, match="already exists"):
            M.stage_append(self._batch(spark, 2000), wtab, "r1")
        after = [f for f in _os.listdir(wtab) if f.startswith("wap-r1")]
        assert sorted(after) == sorted(before)  # loser's files cleaned

    def test_publish_revalidates_against_current_rules(self, spark, wtab):
        M.stage_append(self._batch(spark), wtab, "audit")
        # a rule added AFTER staging must still gate the publish
        M.set_constraint(spark, wtab, "k_small", "k < 500")
        with pytest.raises(M.ConstraintViolation):
            M.publish_staged(spark, wtab, "audit")
        assert M.list_staged(wtab) == {"audit": M.list_staged(wtab)["audit"]}
        M.drop_constraint(wtab, "k_small")
        M.publish_staged(spark, wtab, "audit")
        assert M.load_manifest_table(spark, wtab).count() == 105

    def test_stage_validates_like_append(self, spark, wtab):
        M.set_constraint(spark, wtab, "g_small", "g < 100")
        bad = spark.range(1).select(
            F.lit(1).cast("bigint").alias("k"),
            F.lit(999).cast("bigint").alias("g"),
        )
        with pytest.raises(M.ConstraintViolation):
            M.stage_append(bad, wtab, "badref")
        assert M.list_staged(wtab) == {}

    def test_vacuum_spares_staged_files(self, spark, wtab):
        import os as _os

        M.stage_append(self._batch(spark), wtab, "keepme")
        M.append(self._batch(spark, 5000), wtab)  # a version to retain
        M.vacuum(wtab, retain_versions=1, min_age_seconds=0)
        assert [f for f in _os.listdir(wtab) if f.startswith("wap-keepme")]
        M.publish_staged(spark, wtab, "keepme")
        assert M.load_manifest_table(spark, wtab).count() == 110

    def test_vacuum_age_guard_spares_inflight_writer(self, spark, wtab):
        """The min_age_seconds concurrent-writer guard: a plain (non-WAP)
        append stages its data files into the table dir BEFORE its
        commit, so an unreferenced file younger than the threshold may
        be an in-flight writer — vacuum must leave it, and the writer's
        later commit must read back intact. min_age=0 (the
        single-writer maintenance setting) collects the same file."""
        from pspcz_analyzer_spark.manifest import _stage_rewrites

        m = M.read_manifest(wtab)
        staged = _stage_rewrites(self._batch(spark, 7000), wtab, "append")
        # a concurrent maintenance vacuum with the default-style guard
        M.vacuum(wtab, retain_versions=1, min_age_seconds=3600)
        fs, rel = M.get_fs(wtab)
        assert all(fs.exists(os.path.join(rel, n)) for n in staged)
        # the in-flight writer now publishes exactly as it planned
        M._commit(wtab, m, m["files"] + staged)
        assert M.load_manifest_table(spark, wtab).count() == 105
        # and the trade documented on the knob: age 0 means "no writer
        # can be concurrent" — the same unpublished file IS collected
        staged2 = _stage_rewrites(self._batch(spark, 8000), wtab, "append")
        M.vacuum(wtab, retain_versions=1, min_age_seconds=0)
        assert not any(fs.exists(os.path.join(rel, n)) for n in staged2)


class TestManifestStats:
    """Manifest-stored file stats: metadata-only scan pruning that stays
    exact, with stats refreshed by every commit."""

    @pytest.fixture()
    def stats_table(self, spark, tmp_path):
        df = spark.range(10_000).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("g"),
            (F.col("id") * 1.5).alias("v"),
        )
        path = str(tmp_path / "stab")
        write_range_sorted(df, path, "k", num_partitions=10)
        M.manifest_init(path, stat_cols=["k"])
        return path

    def test_prune_skips_files_and_scan_is_exact(self, spark, stats_table):
        kept, total = M.prune_files_multi(
            M.read_manifest(stats_table), {"k": (2000, 2999)}
        )
        assert total == 10 and 1 <= len(kept) < total  # real skipping
        got = M.scan_auto(spark, stats_table, ranges={"k": (2000, 2999)})
        assert got.count() == 1000
        assert got.agg(F.min("k"), F.max("k")).collect()[0] == (2000, 2999)

    def test_untracked_column_never_prunes(self, spark, stats_table):
        kept, total = M.prune_files_multi(
            M.read_manifest(stats_table), {"g": (3, 3)}
        )
        assert len(kept) == total  # no stats -> conservative keep
        assert (
            M.scan_auto(spark, stats_table, ranges={"g": (3, 3)}).count()
            == 10_000 // 7 + 1
        )

    def test_stats_refresh_across_commits(self, spark, stats_table):
        M.delete_keys(spark, stats_table, "k", [2500])
        got = M.scan_auto(spark, stats_table, ranges={"k": (2000, 2999)})
        assert got.count() == 999
        b2 = spark.range(90_000, 90_100).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("g"),
            (F.col("id") * 1.5).alias("v"),
        )
        M.append(b2, stats_table)
        m = M.read_manifest(stats_table)
        assert set(m["stats"]) == set(m["files"])  # every live file covered
        kept, total = M.prune_files_multi(
            M.read_manifest(stats_table), {"k": (90_000, 99_999)}
        )
        assert len(kept) < total
        assert (
            M.scan_auto(
                spark, stats_table, ranges={"k": (90_000, 99_999)}
            ).count()
            == 100
        )
        # old version's stats stay pinned with it (time travel)
        kept_v1, _ = M.prune_files_multi(
            M.read_manifest(stats_table, 1), {"k": (90_000, 99_999)}
        )
        assert kept_v1 == []

    def test_empty_prune_returns_empty_frame(self, spark, stats_table):
        got = M.scan_auto(spark, stats_table, ranges={"k": (10**9, 2 * 10**9)})
        assert got.count() == 0
        assert got.columns == ["k", "g", "v"]


class TestOptimizeZorder:
    def test_zorder_improves_secondary_dimension_prune(self, spark, tmp_path):
        df = spark.range(20_000).select(
            F.col("id").alias("k"),
            ((F.col("id") * 7919) % 1000).alias("v"),  # uncorrelated with k
        )
        path = str(tmp_path / "ztab")
        write_range_sorted(df, path, "k", num_partitions=10)
        M.manifest_init(path, stat_cols=["k", "v"])
        # k-sorted layout: every file spans v's full range -> no v-skipping.
        kept_before, total_before = M.prune_files_multi(
            M.read_manifest(path), {"v": (100, 199)}
        )
        assert len(kept_before) == total_before
        v = M.optimize_zorder(spark, path, ["k", "v"], num_partitions=10)
        assert v == 2
        kept_after, total_after = M.prune_files_multi(
            M.read_manifest(path), {"v": (100, 199)}
        )
        assert len(kept_after) < total_after  # the re-layout bought skipping
        # One-version commit, exact results, time travel intact.
        got = M.scan_auto(spark, path, ranges={"v": (100, 199)})
        assert got.count() == 2_000
        assert M.load_manifest_table(spark, path, version=1).count() == 20_000
        # Stats recomputed in the same commit cover every live file.
        m = M.read_manifest(path)
        assert set(m["stats"]) == set(m["files"])

    def test_zorder_on_empty_manifest_is_noop(self, spark, tmp_path):
        path = str(tmp_path / "zempty")
        spark.range(5).select(F.col("id").alias("k"), F.col("id").alias("v")).write.parquet(path)
        M.manifest_init(path)
        M.delete_keys(spark, path, "k", [0, 1, 2, 3, 4])
        ver = M.current_version(path)
        assert M.optimize_zorder(spark, path, ["k"]) >= ver  # no crash


class TestCheckConstraints:
    """Delta-style CHECK constraints: existing-data validation at ADD,
    batch rejection pre-stage, metadata-only lifecycle, NULL = violation."""

    def test_add_validates_existing_and_append_enforces(self, spark, table):
        M.set_constraint(spark, table, "uid_range", "user_id BETWEEN 0 AND 99")
        with pytest.raises(M.ConstraintViolation, match="uid_range.*2 rows"):
            M.append(
                spark.createDataFrame(
                    [(90_001, 500), (90_002, -1), (90_003, 7)],
                    "event_id long, user_id long",
                ),
                table,
            )
        # Nothing committed, no stranded data files referenced.
        v = M.current_version(table)
        assert M.load_manifest_table(spark, table).count() == 4_000
        good = spark.createDataFrame([(90_004, 7)], "event_id long, user_id long")
        assert M.append(good, table) == v + 1

    def test_add_rejected_when_existing_rows_violate(self, spark, table):
        with pytest.raises(M.ConstraintViolation, match="existing rows violate"):
            M.set_constraint(spark, table, "tiny", "user_id < 50")
        assert "constraints" not in (M.read_manifest(table).get("constraints") or {})

    def test_null_result_counts_as_violation(self, spark, table):
        M.set_constraint(spark, table, "uid_notnull_pos", "user_id >= 0")
        bad = spark.createDataFrame(
            [(1, None)], "event_id long, user_id long"
        )
        with pytest.raises(M.ConstraintViolation, match="uid_notnull_pos"):
            M.append(bad, table)

    def test_constraints_survive_maintenance_and_drop_is_metadata(
        self, spark, table
    ):
        M.set_constraint(spark, table, "uid_range", "user_id BETWEEN 0 AND 99")
        M.delete_keys(spark, table, "user_id", [5])
        M.compact_small_files(spark, table, target_bytes=1 << 20)
        assert "uid_range" in M.read_manifest(table)["constraints"]
        with pytest.raises(M.ConstraintViolation):
            M.append(
                spark.createDataFrame([(1, 500)], "event_id long, user_id long"),
                table,
            )
        files = set(M.read_manifest(table)["files"])
        M.drop_constraint(table, "uid_range")
        m = M.read_manifest(table)
        assert m["constraints"] == {} and set(m["files"]) == files
        M.append(
            spark.createDataFrame([(1, 500)], "event_id long, user_id long"),
            table,
        )  # now allowed
        with pytest.raises(KeyError):
            M.drop_constraint(table, "uid_range")

    def test_upsert_enforces_too(self, spark, table):
        M.set_constraint(spark, table, "uid_range", "user_id BETWEEN 0 AND 99")
        with pytest.raises(M.ConstraintViolation):
            M.upsert(
                spark,
                spark.createDataFrame([(7, 500)], "event_id long, user_id long"),
                table,
                "event_id",
            )


class TestHistory:
    def test_per_version_accounting(self, spark, table):
        b2 = spark.range(90_000, 90_050).select(
            F.col("id").alias("event_id"), (F.col("id") % 100).alias("user_id")
        )
        M.append(b2, table)
        M.delete_keys(spark, table, "user_id", [1])
        h = M.history(table)
        assert [x["version"] for x in h] == [1, 2, 3]
        assert h[0]["n_rows"] == 4_000
        assert h[1]["n_rows"] == 4_050
        assert h[1]["rows_added"] == 50 and h[1]["files_removed"] == 0
        deleted = 40 + 1  # user_id==1: 40 base rows + 1 appended (90001)
        assert h[2]["n_rows"] == 4_050 - deleted
        # Net change from the delete version's add/remove accounting.
        assert h[2]["rows_removed"] - h[2]["rows_added"] == deleted
        # Metadata-only commits change nothing in the accounting.
        M.add_column(table, "flag", "int")
        h2 = M.history(table)
        assert h2[-1]["n_rows"] == h[2]["n_rows"]
        assert h2[-1]["rows_added"] == 0 and h2[-1]["rows_removed"] == 0

    def test_compact_preserves_total(self, spark, table):
        M.compact_small_files(spark, table, target_bytes=1 << 20)
        h = M.history(table)
        assert h[-1]["n_rows"] == h[0]["n_rows"]
        assert h[-1]["n_files"] < h[0]["n_files"]


class TestRestore:
    def test_restore_rolls_back_as_new_version(self, spark, table):
        M.delete_keys(spark, table, "user_id", [1, 2])
        assert M.load_manifest_table(spark, table).count() < 4_000
        v = M.restore(table, 1)
        assert v == M.current_version(table) and v == 3
        t = M.load_manifest_table(spark, table)
        assert t.count() == 4_000  # the delete is undone...
        assert M.load_manifest_table(spark, table, version=2).count() < 4_000
        # ...and the rollback shows up in history as its own version.
        h = M.history(table)
        assert h[-1]["version"] == 3 and h[-1]["n_rows"] == 4_000

    def test_restore_keeps_txn_watermarks(self, spark, table):
        b = spark.range(90_000, 90_005).select(
            F.col("id").alias("event_id"), (F.col("id") % 100).alias("user_id")
        )
        M.append(b, table, txn=("app1", 7))
        M.restore(table, 1)
        # Watermarks travel with the CURRENT manifest, not the target:
        # a replay of batch 7 after the rollback must still be skipped
        # (exactly-once holds across restores).
        v = M.current_version(table)
        assert M.append(b, table, txn=("app1", 7)) == v  # skipped
        assert M.load_manifest_table(spark, table).count() == 4_000

    def test_restore_to_vacuumed_version_refuses(self, spark, table):
        M.delete_keys(spark, table, "user_id", [1])
        M.vacuum(table, retain_versions=1, min_age_seconds=0)
        # Vacuum prunes the old manifest with its files, so the refusal
        # surfaces at the manifest lookup; the restore-specific "vacuumed"
        # message covers the defensive case of missing data files under a
        # still-present manifest.
        with pytest.raises(FileNotFoundError, match="not in|vacuumed"):
            M.restore(table, 1)


def test_string_column_stats_prune(spark, tmp_path):
    """String-typed manifest stats prune correctly (and conservatively)."""
    df = spark.range(4_000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("cat_"), (F.col("id") % 4).cast("string")).alias("c"),
    )
    path = str(tmp_path / "stab")
    from pspcz_analyzer_spark.jobs import write_range_sorted

    write_range_sorted(df.withColumn("s", F.col("c")), path, "c", num_partitions=4)
    M.manifest_init(path, stat_cols=["c"])
    kept, total = M.prune_files_multi(
        M.read_manifest(path), {"c": ("cat_1", "cat_1")}
    )
    assert 1 <= len(kept) < total
    got = M.scan_auto(spark, path, ranges={"c": ("cat_1", "cat_1")})
    assert got.count() == 1_000
    assert got.select("c").distinct().collect()[0][0] == "cat_1"


class TestVacuumWriterSafety:
    """The Delta-style retention guard: vacuum must never collect an
    in-flight writer's staged-but-uncommitted data files (they're renamed
    into the table dir BEFORE the commit), nor a live writer's .stage_*
    scratch — only provably abandoned files older than min_age_seconds."""

    def test_vacuum_spares_inflight_staged_files(self, spark, table):
        m = M.read_manifest(table)
        batch = spark.range(9_000, 9_100).select(
            F.col("id").alias("event_id"), (F.col("id") % 100).alias("user_id")
        )
        # Interleave: the writer stages (what append does pre-commit)...
        new_names = M._stage_rewrites(batch, table, "append")
        # ...and a concurrent vacuum runs with the default age window.
        removed = M.vacuum(table, retain_versions=1)
        assert removed == 0
        for n in new_names:
            assert os.path.exists(os.path.join(table, n))
        # The writer then publishes cleanly and the table serves old+new.
        M._commit(table, m, m["files"] + new_names)
        assert M.load_manifest_table(spark, table).count() == 4_100

    def test_vacuum_collects_files_past_the_age_window(self, table):
        orphan = os.path.join(table, "orphan-000.parquet")
        with open(orphan, "wb") as fh:
            fh.write(b"not referenced")
        old = os.path.getmtime(orphan) - 7_200
        os.utime(orphan, (old, old))
        assert M.vacuum(table, retain_versions=1, min_age_seconds=3600) == 1
        assert not os.path.exists(orphan)

    def test_vacuum_sweeps_stale_stage_dirs_only(self, table):
        stale = os.path.join(table, ".stage_deadbeef")
        os.makedirs(stale)
        with open(os.path.join(stale, "part-0.parquet"), "wb") as fh:
            fh.write(b"crash debris")
        old = os.path.getmtime(stale) - 7_200
        os.utime(stale, (old, old))
        live = os.path.join(table, ".stage_12345678")
        os.makedirs(live)
        M.vacuum(table, retain_versions=1, min_age_seconds=3600)
        assert not os.path.exists(stale)  # abandoned: collected
        assert os.path.exists(live)  # in-flight: spared


class TestMetadataOnlyVictims:
    def test_delete_opens_no_original_footers_when_stats_tracked(
        self, spark, tmp_path, monkeypatch
    ):
        """With stats + row counts tracked in the manifest, victim finding
        and row accounting for the ORIGINAL files are metadata-only: the
        only pyarrow footer opens are the freshly staged rewrites (their
        stats/rows enter the next manifest)."""
        df = spark.range(4_000).select(
            F.col("id").alias("event_id"), (F.col("id") % 100).alias("user_id")
        )
        path = str(tmp_path / "mstats_del")
        write_range_sorted(df, path, "user_id", num_partitions=6)
        M.manifest_init(path, stat_cols=["user_id"])
        originals = set(M.read_manifest(path)["files"])

        from pspcz_analyzer_spark import fs as FS

        opened: list[str] = []
        real = FS.LocalFS.parquet_file

        def spy(self, p):
            opened.append(os.path.basename(p))
            return real(self, p)

        monkeypatch.setattr(FS.LocalFS, "parquet_file", spy)
        nf, deleted = M.delete_keys(spark, path, "user_id", [7, 8])
        assert deleted == 80 and nf >= 1
        assert not (set(opened) & originals), (
            "footer opened on pre-existing files despite tracked stats"
        )
        assert M.load_manifest_table(spark, path).count() == 3_920

    def test_upsert_uses_manifest_stats_for_victims(
        self, spark, tmp_path, monkeypatch
    ):
        df = spark.range(2_000).select(
            F.col("id").alias("event_id"), (F.col("id") % 50).alias("user_id")
        )
        path = str(tmp_path / "mstats_up")
        write_range_sorted(df, path, "event_id", num_partitions=4)
        M.manifest_init(path, stat_cols=["event_id"])
        originals = set(M.read_manifest(path)["files"])

        from pspcz_analyzer_spark import fs as FS

        opened: list[str] = []
        real = FS.LocalFS.parquet_file

        def spy(self, p):
            opened.append(os.path.basename(p))
            return real(self, p)

        monkeypatch.setattr(FS.LocalFS, "parquet_file", spy)
        batch = spark.createDataFrame(
            [(10, 999), (2_500, 999)], "event_id long, user_id long"
        )
        M.upsert(spark, batch, path, "event_id")
        assert not (set(opened) & originals)
        now = M.load_manifest_table(spark, path)
        assert now.count() == 2_001
        assert now.filter(F.col("user_id") == 999).count() == 2


class TestStatAwareCompaction:
    def test_compaction_preserves_range_pruning(self, spark, tmp_path):
        """Small files binned by stored min-stat (not uuid name order):
        merged outputs cover contiguous disjoint key ranges, so the
        manifest's own stats pruning survives compaction."""
        import shutil as _shutil
        import uuid as _uuid

        path = str(tmp_path / "mcomp_stats")
        os.makedirs(path)
        # 8 range-disjoint files under RANDOM names (so name order is
        # unrelated to key order — the regression the binning rule fixes).
        for i in range(8):
            part = spark.range(i * 100, (i + 1) * 100).select(F.col("id").alias("k"))
            tmp = str(tmp_path / f"one_{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            os.rename(
                os.path.join(tmp, src),
                os.path.join(path, f"{_uuid.uuid4().hex}.parquet"),
            )
            _shutil.rmtree(tmp)
        M.manifest_init(path, stat_cols=["k"])
        kept_pre, total_pre = M.prune_files_multi(
            M.read_manifest(path), {"k": (250, 349)}
        )
        skip_pre = 1 - len(kept_pre) / total_pre
        sizes = [
            os.path.getsize(os.path.join(path, f))
            for f in M.read_manifest(path)["files"]
        ]
        # Bins of ~2 files each -> 4 outputs.
        merged, written = M.compact_small_files(
            spark, path, target_bytes=int(max(sizes) * 2.2)
        )
        assert merged == 8 and written == 4
        kept_post, total_post = M.prune_files_multi(
            M.read_manifest(path), {"k": (250, 349)}
        )
        skip_post = 1 - len(kept_post) / total_post
        assert skip_post >= skip_pre - 1e-9
        # A narrow query inside ONE original file's range hits exactly
        # one merged output (ranges stayed disjoint).
        kept_narrow, _ = M.prune_files_multi(
            M.read_manifest(path), {"k": (110, 120)}
        )
        assert len(kept_narrow) == 1
        assert M.load_manifest_table(spark, path).count() == 800


class TestSchemaPreservingRewrites:
    """ADVICE r05 (high): rewrites of an affected set with heterogeneous
    schemas (post merge_schema evolution) must read mergeSchema + project
    to the manifest schema — a plain read infers from one file and
    silently nulls the evolved columns."""

    def _evolved_table(self, spark, tmp_path, name):
        base = spark.range(100).select(
            F.col("id").alias("event_id"), (F.col("id") % 10).alias("user_id")
        )
        path = str(tmp_path / name)
        base.coalesce(1).write.parquet(path)
        M.manifest_init(path)
        evolved = spark.createDataFrame(
            [(1_000, 5, "ev0"), (1_001, 6, "ev1")],
            "event_id long, user_id long, src string",
        )
        M.append(evolved, path, merge_schema=True)
        return path

    def test_delete_preserves_evolved_column(self, spark, tmp_path):
        path = self._evolved_table(spark, tmp_path, "evo_del")
        # Victims include BOTH the pre-evolution file and the evolved one.
        M.delete_keys(spark, path, "user_id", [5])
        now = M.load_manifest_table(spark, path)
        assert now.count() == 100 + 2 - 10 - 1
        [r] = now.filter(F.col("event_id") == 1_001).collect()
        assert r["src"] == "ev1", "evolved column nulled by the rewrite"

    def test_upsert_preserves_evolved_column(self, spark, tmp_path):
        path = self._evolved_table(spark, tmp_path, "evo_up")
        batch = spark.createDataFrame(
            [(1_001, 60, "ev1b")], "event_id long, user_id long, src string"
        )
        M.upsert(spark, batch, path, "event_id")
        now = M.load_manifest_table(spark, path)
        assert now.count() == 102
        got = {r["event_id"]: r["src"] for r in now.filter(F.col("src").isNotNull()).collect()}
        assert got == {1_000: "ev0", 1_001: "ev1b"}

    def test_compact_preserves_evolved_column(self, spark, tmp_path):
        path = self._evolved_table(spark, tmp_path, "evo_comp")
        merged, written = M.compact_small_files(spark, path, target_bytes=10**9)
        assert merged >= 2 and written == 1
        now = M.load_manifest_table(spark, path)
        assert now.count() == 102
        assert now.filter(F.col("src").isNotNull()).count() == 2


class TestAppendCommitRetry:
    """append(max_commit_retries=N): the batch stages ONCE; a conflict
    retries only the metadata publish against the re-read manifest."""

    def _race(self, monkeypatch, table, extra_txns=None):
        """Make a racer commit a competing version right after our append
        stages its files (the conflict window)."""
        real_stage = M._stage_rewrites
        staged: dict = {}

        def stage_and_race(df, path, prefix, *snapshot):
            names = real_stage(df, path, prefix, *snapshot)
            staged["names"] = list(names)
            staged.setdefault("calls", 0)
            staged["calls"] += 1
            mm = M.read_manifest(path)
            txns = dict(mm.get("txns") or {})
            txns.update(extra_txns or {})
            M._commit(path, mm, txns=txns)
            return names

        monkeypatch.setattr(M, "_stage_rewrites", stage_and_race)
        return staged

    def test_retry_reuses_staged_files(self, spark, table, monkeypatch):
        staged = self._race(monkeypatch, table)
        batch = spark.range(4_000, 4_200).select(
            F.col("id").alias("event_id"), (F.col("id") % 100).alias("user_id")
        )
        v = M.append(batch, table, max_commit_retries=2)
        assert v == 3  # init=1, racer=2, ours=3
        assert staged["calls"] == 1, "retry re-staged the batch"
        m = M.read_manifest(table)
        for n in staged["names"]:
            assert n in m["files"]
        assert M.load_manifest_table(spark, table).count() == 4_200
        # No orphans: every parquet in the dir is referenced.
        on_disk = {f for f in os.listdir(table) if f.endswith(".parquet")}
        assert on_disk == set(m["files"])

    def test_no_retries_still_raises(self, spark, table, monkeypatch):
        self._race(monkeypatch, table)
        batch = spark.range(4_000, 4_010).select(
            F.col("id").alias("event_id"), (F.col("id") % 100).alias("user_id")
        )
        with pytest.raises(M.CommitConflict):
            M.append(batch, table)

    def test_replay_detected_on_retry_cleans_staged(self, spark, table, monkeypatch):
        """If the racing commit carries OUR txn watermark (another worker
        applied the same batch), the retry detects the replay, drops the
        staged files, and returns the racer's version."""
        staged = self._race(monkeypatch, table, extra_txns={"app": 7})
        batch = spark.range(4_000, 4_010).select(
            F.col("id").alias("event_id"), (F.col("id") % 100).alias("user_id")
        )
        v = M.append(batch, table, txn=("app", 7), max_commit_retries=2)
        assert v == 2  # the racer's version; nothing new committed
        for n in staged["names"]:
            assert not os.path.exists(os.path.join(table, n))
        assert M.load_manifest_table(spark, table).count() == 4_000


class TestReadVersionDelta:
    def test_plans_only_added_files(self, spark, table):
        batch = spark.range(10_000, 10_500).select(
            F.col("id").alias("event_id"), (F.col("id") % 100).alias("user_id")
        )
        M.append(batch, table)
        delta = M.read_version_delta(spark, table, 1, 2)
        assert delta.count() == 500
        assert delta.filter(F.col("event_id") >= 10_000).count() == 500
        m1 = set(M.read_manifest(table, 1)["files"])
        added = [f for f in M.read_manifest(table, 2)["files"] if f not in m1]
        scanned = sorted(os.path.basename(f) for f in delta.inputFiles())
        assert scanned == sorted(added), "delta scan read non-delta files"

    def test_empty_delta_and_latest_default(self, spark, table):
        assert M.read_version_delta(spark, table, 1, 1).count() == 0
        batch = spark.range(10_000, 10_100).select(
            F.col("id").alias("event_id"), (F.col("id") % 100).alias("user_id")
        )
        M.append(batch, table)
        assert M.read_version_delta(spark, table, 1).count() == 100

    def test_delta_projects_to_target_schema(self, spark, table):
        evolved = spark.createDataFrame(
            [(20_000, 1, "s")], "event_id long, user_id long, src string"
        )
        M.append(evolved, table, merge_schema=True)
        delta = M.read_version_delta(spark, table, 1, 2)
        assert delta.columns == ["event_id", "user_id", "src"]
        [r] = delta.collect()
        assert r["src"] == "s"


class TestScd2Merge:
    """SCD Type-2 MERGE: close-and-insert in one version, restatements
    are no-ops, history rows immutable, one current row per key always."""

    def _dim(self, spark, tmp_path):
        batch = spark.createDataFrame(
            [(1, "A", "2020-01-01"), (2, "B", "2020-01-01"), (3, "A", "2020-01-01")],
            "k long, seg string, eff string",
        ).withColumn("eff", F.col("eff").cast("date"))
        path = str(tmp_path / "scd2")
        M.scd2_init(spark, batch, path, "k", "eff")
        return path

    def test_change_closes_and_inserts_one_version(self, spark, tmp_path):
        path = self._dim(spark, tmp_path)
        w = spark.createDataFrame(
            [(1, "Z", "2021-06-01")], "k long, seg string, eff string"
        ).withColumn("eff", F.col("eff").cast("date"))
        changed, new = M.scd2_merge(spark, w, path, "k", ["seg"], "eff")
        assert (changed, new) == (1, 0)
        assert M.current_version(path) == 2  # ONE version for close+insert
        t = M.load_manifest_table(spark, path)
        rows = {(r["k"], r["seg"]): r for r in t.collect()}
        closed = rows[(1, "A")]
        assert str(closed["valid_to"]) == "2021-06-01" and not closed["is_current"]
        cur = rows[(1, "Z")]
        assert str(cur["valid_from"]) == "2021-06-01" and cur["is_current"]
        assert cur["valid_to"] is None
        # Exactly one current row per key, always.
        per_key = (
            t.filter(F.col("is_current")).groupBy("k").count().collect()
        )
        assert all(r["count"] == 1 for r in per_key) and len(per_key) == 3

    def test_restatement_is_noop(self, spark, tmp_path):
        path = self._dim(spark, tmp_path)
        w = spark.createDataFrame(
            [(2, "B", "2021-06-01")], "k long, seg string, eff string"
        ).withColumn("eff", F.col("eff").cast("date"))
        assert M.scd2_merge(spark, w, path, "k", ["seg"], "eff") == (0, 0)
        assert M.current_version(path) == 1  # nothing committed
        assert M.load_manifest_table(spark, path).count() == 3

    def test_new_key_inserts_current(self, spark, tmp_path):
        path = self._dim(spark, tmp_path)
        w = spark.createDataFrame(
            [(9, "Q", "2021-06-01")], "k long, seg string, eff string"
        ).withColumn("eff", F.col("eff").cast("date"))
        assert M.scd2_merge(spark, w, path, "k", ["seg"], "eff") == (0, 1)
        t = M.load_manifest_table(spark, path)
        assert t.count() == 4
        [r] = t.filter(F.col("k") == 9).collect()
        assert r["is_current"] and r["valid_to"] is None

    def test_multi_row_per_key_batch_rejected(self, spark, tmp_path):
        path = self._dim(spark, tmp_path)
        w = spark.createDataFrame(
            [(1, "X", "2021-01-01"), (1, "Y", "2021-02-01")],
            "k long, seg string, eff string",
        ).withColumn("eff", F.col("eff").cast("date"))
        with pytest.raises(ValueError, match="more than once"):
            M.scd2_merge(spark, w, path, "k", ["seg"], "eff")
        assert M.current_version(path) == 1

    def test_null_key_batch_rejected_with_accurate_error(
        self, spark, tmp_path
    ):
        """r11 self-review: a NULL business key would become a forever-
        current row no later wave can close (key equi-joins skip NULLs),
        so scd2_merge refuses it — and names the real problem instead of
        the misleading duplicate-key message count_distinct's
        NULL-skipping used to produce."""
        path = self._dim(spark, tmp_path)
        w = spark.createDataFrame(
            [(None, "X", "2021-01-01"), (77, "Y", "2021-01-01")],
            "k long, seg string, eff string",
        ).withColumn("eff", F.col("eff").cast("date"))
        with pytest.raises(ValueError, match="NULL 'k'"):
            M.scd2_merge(spark, w, path, "k", ["seg"], "eff")
        assert M.current_version(path) == 1

    def test_history_rows_survive_later_waves(self, spark, tmp_path):
        path = self._dim(spark, tmp_path)
        for i, (seg, eff) in enumerate([("Z", "2021-01-01"), ("W", "2022-01-01")]):
            w = spark.createDataFrame(
                [(1, seg, eff)], "k long, seg string, eff string"
            ).withColumn("eff", F.col("eff").cast("date"))
            M.scd2_merge(spark, w, path, "k", ["seg"], "eff")
        t = M.load_manifest_table(spark, path).filter(F.col("k") == 1)
        hist = sorted(
            (str(r["valid_from"]), str(r["valid_to"]), r["seg"], r["is_current"])
            for r in t.collect()
        )
        assert hist == [
            ("2020-01-01", "2021-01-01", "A", False),
            ("2021-01-01", "2022-01-01", "Z", False),
            ("2022-01-01", "None", "W", True),
        ]
        # Time travel still serves the pre-merge snapshot.
        v1 = M.load_manifest_table(spark, path, version=1)
        assert v1.filter(F.col("is_current")).count() == 3


class TestStreamUpsert:
    def test_streaming_upsert_exactly_once_last_writer_wins(self, spark, tmp_path):
        """CDC-shaped drain: the batch's keys replace existing rows, one
        committed version per batch; a fresh-checkpoint replay of the
        same batch ids is absorbed by the txn watermark."""
        from pspcz_analyzer_spark.streaming.lake import stream_upsert_manifest

        landing = str(tmp_path / "cdc_landing")
        table = str(tmp_path / "cdc_tab")
        ck1 = str(tmp_path / "cdc_ck1")
        spark.createDataFrame(
            [(i, 0) for i in range(100)], "k long, v long"
        ).write.parquet(table)
        M.manifest_init(table)
        # One landing file: keys 50..149 arrive with v=1 (50 updates,
        # 50 inserts).
        spark.createDataFrame(
            [(i, 1) for i in range(50, 150)], "k long, v long"
        ).coalesce(1).write.parquet(landing)

        res = stream_upsert_manifest(
            spark, landing, table, ck1, schema="k long, v long",
            key_col="k", app_id="cdc",
        )
        assert len(res) >= 1
        t = M.load_manifest_table(spark, table)
        assert t.count() == 150
        assert t.filter(F.col("v") == 1).count() == 100
        assert t.filter((F.col("k") < 50) & (F.col("v") == 0)).count() == 50
        # Fresh checkpoint = replay of the same batch ids: watermark
        # rejects, version and rows unchanged.
        v = M.current_version(table)
        ck2 = str(tmp_path / "cdc_ck2")
        stream_upsert_manifest(
            spark, landing, table, ck2, schema="k long, v long",
            key_col="k", app_id="cdc",
        )
        assert M.current_version(table) == v
        assert M.load_manifest_table(spark, table).count() == 150

    def test_upsert_txn_replay_skips_before_staging(self, spark, tmp_path):
        df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
        path = str(tmp_path / "up_txn")
        df.write.parquet(path)
        M.manifest_init(path)
        batch = spark.createDataFrame([(2, "B2")], "k long, s string")
        v = M.upsert(spark, batch, path, "k", txn=("u", 3))
        assert v == 2
        files_after = sorted(M.read_manifest(path)["files"])
        # Replay: same (app, batch) -> version unchanged, no new files.
        assert M.upsert(spark, batch, path, "k", txn=("u", 3)) == 2
        assert sorted(M.read_manifest(path)["files"]) == files_after
        [r] = M.load_manifest_table(spark, path).filter(F.col("k") == 2).collect()
        assert r["s"] == "B2"


class TestMergeOnReadDeletes:
    """Equality-delete files (Iceberg v2 merge-on-read): O(keys) deletes,
    reader-side anti-join, sequence-scoped applicability, materialize."""

    def test_mor_delete_filters_reads_without_rewrites(self, spark, table):
        files_before = sorted(M.read_manifest(table)["files"])
        v = M.delete_keys_mor(spark, table, "user_id", [7, 8])
        assert v == 2
        m = M.read_manifest(table)
        assert sorted(m["files"]) == files_before  # ZERO data rewrites
        assert len(m["deletes"]) == 1
        t = M.load_manifest_table(spark, table)
        assert t.count() == 3_920
        assert t.filter(F.col("user_id").isin(7, 8)).count() == 0
        # Time travel: version 1 still serves everything.
        assert M.load_manifest_table(spark, table, version=1).count() == 4_000

    def test_later_append_reinserts_deleted_key(self, spark, table):
        M.delete_keys_mor(spark, table, "user_id", [7])
        fresh = spark.createDataFrame(
            [(99_001, 7)], "event_id long, user_id long"
        )
        M.append(fresh, table)
        t = M.load_manifest_table(spark, table)
        # The old user-7 rows stay deleted; the NEW row (higher sequence
        # than the delete) lives — Iceberg's sequence rule.
        assert t.filter(F.col("user_id") == 7).count() == 1
        assert t.count() == 4_000 - 40 + 1

    def test_multiple_entries_accumulate(self, spark, table):
        M.delete_keys_mor(spark, table, "user_id", [7])
        M.delete_keys_mor(spark, table, "event_id", [3_000, 3_001])
        t = M.load_manifest_table(spark, table)
        assert t.filter(F.col("user_id") == 7).count() == 0
        assert t.filter(F.col("event_id").isin(3_000, 3_001)).count() == 0
        assert t.count() == 4_000 - 40 - 2
        assert len(M.read_manifest(table)["deletes"]) == 2

    def test_delete_keys_bills_only_alive_rows(self, spark, tmp_path):
        """ADVICE r07: with pending merge-on-read delete entries,
        delete_keys' rows_deleted must count only rows ALIVE — raw footer
        counts would also bill rows the MoR entries already killed (the
        same overcount delete_where fixed in r7)."""
        df = spark.range(10).select(F.col("id").alias("k"))
        path = str(tmp_path / "dk_alive")
        df.coalesce(1).write.parquet(path)
        M.manifest_init(path)
        M.delete_keys_mor(spark, path, "k", [1, 2])  # 2 rows now MoR-dead
        files, rows_deleted = M.delete_keys(spark, path, "k", [1, 2, 3])
        # only k=3 was still alive; footer math would have said 3
        assert files == 1 and rows_deleted == 1
        t = M.load_manifest_table(spark, path)
        assert t.count() == 7
        assert t.filter(F.col("k").isin(1, 2, 3)).count() == 0

    def test_materialize_folds_and_drops_entries(self, spark, table):
        M.delete_keys_mor(spark, table, "user_id", [7, 8])
        nf, ne = M.materialize_deletes(spark, table)
        assert ne == 1 and nf >= 1
        m = M.read_manifest(table)
        assert "deletes" not in m or not m["deletes"]
        t = M.load_manifest_table(spark, table)
        assert t.count() == 3_920
        assert t.filter(F.col("user_id").isin(7, 8)).count() == 0
        # Idempotent; and the key file is vacuum garbage now.
        assert M.materialize_deletes(spark, table) == (0, 0)
        removed = M.vacuum(table, retain_versions=1, min_age_seconds=0)
        assert removed >= 1

    def test_materialize_prunes_by_stats(self, spark, tmp_path, monkeypatch):
        """With tracked stats, files provably missing every delete key
        carry over untouched (no footer opens on them either)."""
        df = spark.range(4_000).select(
            F.col("id").alias("event_id"), (F.col("id") % 100).alias("user_id")
        )
        path = str(tmp_path / "mor_stats")
        write_range_sorted(df, path, "event_id", num_partitions=8)
        M.manifest_init(path, stat_cols=["event_id"])
        files_before = sorted(M.read_manifest(path)["files"])
        M.delete_keys_mor(spark, path, "event_id", [10, 11])
        nf, ne = M.materialize_deletes(spark, path)
        assert ne == 1 and nf == 1  # keys cluster in ONE range-sorted file
        m = M.read_manifest(path)
        untouched = set(files_before) & set(m["files"])
        assert len(untouched) == 7
        assert M.load_manifest_table(spark, path).count() == 3_998

    def test_vacuum_retains_referenced_delete_files(self, spark, table):
        M.delete_keys_mor(spark, table, "user_id", [7])
        [entry] = M.read_manifest(table)["deletes"]
        removed = M.vacuum(table, retain_versions=1, min_age_seconds=0)
        assert os.path.exists(os.path.join(table, entry["file"]))
        t = M.load_manifest_table(spark, table)
        assert t.filter(F.col("user_id") == 7).count() == 0

    def test_restore_preserves_mor_semantics(self, spark, table):
        M.delete_keys_mor(spark, table, "user_id", [7])  # v2
        M.append(
            spark.createDataFrame([(99_001, 7)], "event_id long, user_id long"),
            table,
        )  # v3
        M.restore(table, 2)  # back to: delete pending, no re-insert
        t = M.load_manifest_table(spark, table)
        assert t.count() == 3_960
        assert t.filter(F.col("user_id") == 7).count() == 0

    def test_rewrite_ops_do_not_resurrect(self, spark, tmp_path):
        """Compaction rewrites victims with pending deletes APPLIED and
        stamps them a new sequence — the entries stop covering them, and
        the deleted rows must not come back."""
        df = spark.range(2_000).select(
            F.col("id").alias("k"), (F.col("id") % 40).alias("g")
        )
        path = str(tmp_path / "mor_compact")
        df.repartition(8).write.parquet(path)
        M.manifest_init(path)
        M.delete_keys_mor(spark, path, "g", [5])
        assert M.load_manifest_table(spark, path).count() == 1_950
        merged, written = M.compact_small_files(spark, path, target_bytes=10**9)
        assert merged == 8 and written == 1
        t = M.load_manifest_table(spark, path)
        assert t.count() == 1_950
        assert t.filter(F.col("g") == 5).count() == 0


def test_box_prune_beats_single_dimensions(spark, tmp_path):
    """On a Z-ordered layout the 2-dim box prune keeps at most as many
    files as either single-dimension prune, and the scan result equals
    the unpruned filter."""
    df = spark.range(20_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 100).alias("a"),
        ((F.col("id") * 7) % 100).alias("b"),
    )
    path = str(tmp_path / "boxtab")
    df.repartition(8).write.parquet(path)
    M.manifest_init(path, stat_cols=["a", "b"])
    M.optimize_zorder(spark, path, ["a", "b"], num_partitions=16)
    box = {"a": (10, 25), "b": (10, 25)}
    kept_box, total = M.prune_files_multi(M.read_manifest(path), box)
    kept_a, _ = M.prune_files_multi(M.read_manifest(path), {"a": (10, 25)})
    kept_b, _ = M.prune_files_multi(M.read_manifest(path), {"b": (10, 25)})
    assert len(kept_box) <= min(len(kept_a), len(kept_b))
    assert len(kept_box) < total  # actually skipped something
    got = M.scan_auto(spark, path, ranges=box)
    want = (
        M.load_manifest_table(spark, path)
        .filter(F.col("a").between(10, 25) & F.col("b").between(10, 25))
    )
    assert got.count() == want.count()
    assert got.agg(F.sum("k")).collect()[0][0] == want.agg(F.sum("k")).collect()[0][0]


def test_maintain_runs_policy_steps(spark, tmp_path):
    """maintain() = materialize-if-piled + compact-if-fragmented +
    vacuum-behind-retention, each the ordinary committed op."""
    df = spark.range(4_000).select(
        F.col("id").alias("k"), (F.col("id") % 50).alias("g")
    )
    path = str(tmp_path / "maint")
    df.repartition(20).write.parquet(path)
    M.manifest_init(path)
    for g in range(3):  # entries under the threshold: stay merge-on-read
        M.delete_keys_mor(spark, path, "g", [g])
    out = M.maintain(
        spark, path, max_small_files=4, max_delete_entries=4,
        retain_versions=1, vacuum_min_age_seconds=0,
    )
    # Compaction ran (20 fragments), deletes stayed pending (3 <= 4),
    # and the merge applied them at read so nothing resurrects.
    assert out["materialized"] == 0 and out["compacted"] == 20
    assert out["vacuumed"] >= 1
    assert len(M.read_manifest(path).get("deletes") or []) == 3
    t = M.load_manifest_table(spark, path)
    assert t.count() == 4_000 - 3 * 80
    assert t.filter(F.col("g") < 3).count() == 0
    # Tighter delete budget: the second pass materializes. The compacted
    # file already has the deletes applied (its sequence postdates the
    # entries), so zero rewrites are needed — entries just drop.
    out2 = M.maintain(
        spark, path, max_small_files=4, max_delete_entries=2,
        retain_versions=1, vacuum_min_age_seconds=0,
    )
    assert out2["materialized"] == 3 and out2["compacted"] == 0
    assert not M.read_manifest(path).get("deletes")
    assert M.load_manifest_table(spark, path).count() == 4_000 - 240


def test_maintain_expires_abandoned_staged_refs(spark, tmp_path):
    import os

    path = str(tmp_path / "maint_wap")
    spark.range(10).select(F.col("id").alias("k")).coalesce(
        1
    ).write.parquet(path)
    M.manifest_init(path)
    M.stage_append(spark.range(10, 12).select(F.col("id").alias("k")), path, "old")
    M.stage_append(spark.range(12, 14).select(F.col("id").alias("k")), path, "fresh")
    # age the 'old' ref's doc past the window
    os.utime(
        os.path.join(path, "_manifest", "staged", "old.json"), (1000, 1000)
    )
    # default: policy OFF — nothing expires
    out0 = M.maintain(spark, path, vacuum_min_age_seconds=0)
    assert out0["staged_expired"] == 0
    out = M.maintain(
        spark, path, vacuum_min_age_seconds=0, max_staged_age_seconds=3600
    )
    assert out["staged_expired"] == 1
    assert set(M.list_staged(path)) == {"fresh"}
    assert not [f for f in os.listdir(path) if f.startswith("wap-old")]
    M.publish_staged(spark, path, "fresh")
    assert M.load_manifest_table(spark, path).count() == 12


def test_maintain_backfills_blooms_for_new_files(spark, tmp_path):
    path = str(tmp_path / "maint_bloom")
    spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 9).alias("g")
    ).coalesce(2).write.parquet(path)
    M.manifest_init(path)
    M.ensure_blooms(spark, path, "g")  # records the standing column
    M.append(
        spark.range(100, 150).select(
            F.col("id").alias("k"), (F.col("id") % 9).alias("g")
        ).coalesce(1),
        path,
    )
    m = M.read_manifest(path)
    new_f = [f for f in m["files"] if "g" not in (m.get("blooms") or {}).get(f, {})]
    assert new_f, "the appended file has no bloom yet"
    out = M.maintain(spark, path, vacuum_min_age_seconds=0)
    assert out["blooms_backfilled"] == 1
    m2 = M.read_manifest(path)
    assert all("g" in (m2["blooms"].get(f) or {}) for f in m2["files"])
    # next tick: nothing missing, no churn
    out2 = M.maintain(spark, path, vacuum_min_age_seconds=0)
    assert out2["blooms_backfilled"] == 0
    # pruning works through the backfilled blooms
    may, total = M.prune_files_bloom(path, M.read_manifest(path), "g", 3)
    assert 0 < len(may) <= total


def test_maintain_runs_incremental_clustering_policy(spark, tmp_path):
    """A table with a recorded clustering column set gets its new
    arrivals clustered on every maintenance tick (liquid's standing
    policy); tables without one skip the step entirely."""
    path = str(tmp_path / "maint_liq")
    spark.range(500).select(
        F.col("id").alias("k"), ((F.col("id") * 31) % 500).alias("v")
    ).repartition(3).write.parquet(path)
    M.manifest_init(path, stat_cols=["v"])
    out0 = M.maintain(spark, path, vacuum_min_age_seconds=0)
    assert out0["clustered_incremental"] == 0  # no cluster_by recorded
    M.optimize_clustered(spark, path, ["v"])  # records the column set
    M.append(
        spark.range(500, 700).select(
            F.col("id").alias("k"), ((F.col("id") * 31) % 500).alias("v")
        ).repartition(2),
        path,
    )
    out = M.maintain(spark, path, vacuum_min_age_seconds=0)
    assert out["clustered_incremental"] == 2  # exactly the new files
    assert M.load_manifest_table(spark, path).count() == 700
    # next tick: nothing pending, no churn
    out2 = M.maintain(spark, path, vacuum_min_age_seconds=0)
    assert out2["clustered_incremental"] == 0


class TestRandomizedLifecycle:
    """Model-based check: a random interleaving of append / MOR-delete /
    upsert / materialize / compact / vacuum must always read back equal
    to a driver-side dict model — the whole-layer invariant (visibility
    == model) under op orderings no single scenario test covers."""

    @pytest.mark.parametrize("seed", [11, 23])
    def test_random_op_interleaving_matches_model(self, spark, tmp_path, seed):
        import random

        rng = random.Random(seed)
        path = str(tmp_path / f"life_{seed}")
        init = {k: k * 10 for k in range(40)}
        spark.createDataFrame(
            list(init.items()), "k long, v long"
        ).coalesce(2).write.parquet(path)
        M.manifest_init(path, stat_cols=["k"])
        model = dict(init)
        next_key = 1000

        def check(step):
            got = {
                r["k"]: r["v"]
                for r in M.load_manifest_table(spark, path).collect()
            }
            assert got == model, f"divergence after step {step} (seed {seed})"

        for step in range(12):
            op = rng.choice(["append", "mor_delete", "upsert", "materialize",
                             "compact", "vacuum"])
            if op == "append":
                rows = [(next_key + i, (next_key + i) * 10) for i in range(3)]
                # Occasionally resurrect a previously deleted key.
                dead = [k for k in range(40) if k not in model]
                if dead and rng.random() < 0.5:
                    k = rng.choice(dead)
                    rows.append((k, k * 7))
                next_key += 3
                M.append(
                    spark.createDataFrame(rows, "k long, v long"), path
                )
                model.update(dict(rows))
            elif op == "mor_delete":
                victims = rng.sample(sorted(model), min(4, len(model)))
                M.delete_keys_mor(spark, path, "k", victims)
                for k in victims:
                    model.pop(k, None)
            elif op == "upsert":
                keys = rng.sample(sorted(model), min(2, len(model)))
                rows = [(k, k * 100 + step) for k in keys] + [
                    (next_key, next_key * 100 + step)
                ]
                next_key += 1
                M.upsert(
                    spark, spark.createDataFrame(rows, "k long, v long"),
                    path, "k",
                )
                model.update(dict(rows))
            elif op == "materialize":
                M.materialize_deletes(spark, path)
            elif op == "compact":
                M.compact_small_files(spark, path, target_bytes=1 << 30)
            elif op == "vacuum":
                M.vacuum(path, retain_versions=1, min_age_seconds=0)
            check(f"{step}:{op}")


class TestRandomizedDdlLifecycle:
    """Model-based check over the round-7 DDL features: random
    interleavings of append / DELETE WHERE / upsert / compact / vacuum
    with type widening, defaulted ADD COLUMN, DROP COLUMN + re-add,
    identity, and incremental clustering must always read back equal to
    a driver-side model — plus identity stability (a surviving row's
    uid never drifts; an upsert-reinserted row legitimately gets a
    fresh one) and global uid uniqueness at every step."""

    @pytest.mark.parametrize("seed", [7, 31])
    def test_ddl_interleaving_matches_model(self, spark, tmp_path, seed):
        import random

        rng = random.Random(seed)
        path = str(tmp_path / f"ddl_{seed}")
        init = {k: k * 10 for k in range(30)}
        spark.createDataFrame(
            [(k, v) for k, v in init.items()], "k int, v long"
        ).coalesce(2).write.parquet(path)
        M.manifest_init(path, stat_cols=["k"])
        model = {k: {"v": v} for k, v in init.items()}
        cols = {"v"}
        ddl = {"widened": False, "default_col": None, "identity": False,
               "dropped_ever": 0}
        uid_pin: dict = {}
        staged: dict = {}  # ref -> {k: row} pending publish/drop
        next_key = 1000

        def check(step):
            rows = M.load_manifest_table(spark, path).collect()
            got = {}
            for r in rows:
                d = r.asDict()
                k = d.pop("k")
                d.pop("uid", None)
                got[k] = {c: d.get(c) for c in cols}
            want = {
                k: {c: row.get(c) for c in cols} for k, row in model.items()
            }
            assert got == want, f"divergence after {step} (seed {seed})"
            if ddl["identity"]:
                uids = {r["k"]: r["uid"] for r in rows}
                assert len(set(uids.values())) == len(uids), step
                for k, u in list(uid_pin.items()):
                    if k in uids:
                        assert uids[k] == u, f"uid drift for {k} at {step}"
                uid_pin.update(uids)

        def key_type():
            return "bigint" if ddl["widened"] else "int"

        for step in range(16):
            op = rng.choice([
                "append", "delete_where", "upsert", "compact", "vacuum",
                "widen", "add_default", "drop_default", "identity",
                "cluster", "wap_stage", "wap_settle",
            ])
            if op == "append":
                ks = [next_key, next_key + 1]
                next_key += 2
                M.append(
                    spark.createDataFrame(
                        [(k, k * 10) for k in ks], f"k {key_type()}, v long"
                    ),
                    path,
                )
                for k in ks:
                    row = {c: None for c in cols}
                    row["v"] = k * 10
                    if ddl["default_col"]:
                        name, _ini, wr = ddl["default_col"]
                        row[name] = wr
                    model[k] = row
            elif op == "delete_where":
                r = step % 5
                M.delete_where(spark, path, f"k % 5 = {r}")
                gone = [k for k in model if k % 5 == r]
                for k in gone:
                    model.pop(k)
                    uid_pin.pop(k, None)
            elif op == "upsert":
                keys = rng.sample(sorted(model), min(2, len(model)))
                rows = [(k, k * 100 + step) for k in keys] + [
                    (next_key, next_key * 100 + step)
                ]
                next_key += 1
                M.upsert(
                    spark,
                    spark.createDataFrame(rows, f"k {key_type()}, v long"),
                    path, "k",
                )
                for k, v in rows:
                    row = {c: None for c in cols}
                    row["v"] = v
                    if ddl["default_col"]:
                        name, _ini, wr = ddl["default_col"]
                        row[name] = wr
                    model[k] = row
                    uid_pin.pop(k, None)  # reinsert: fresh identity is legal
            elif op == "compact":
                M.compact_small_files(spark, path, target_bytes=1 << 30)
            elif op == "vacuum":
                M.vacuum(path, retain_versions=1, min_age_seconds=0)
            elif op == "widen":
                if not ddl["widened"]:
                    M.widen_column_type(path, "k", "bigint")
                    ddl["widened"] = True
            elif op == "add_default":
                if ddl["default_col"] is None:
                    n = ddl["dropped_ever"]
                    name = f"c{n}"
                    M.add_column(
                        path, name, "string",
                        initial_default=f"'d{n}'", write_default=f"'w{n}'",
                    )
                    cols.add(name)
                    ddl["default_col"] = (name, f"d{n}", f"w{n}")
                    for row in model.values():
                        row[name] = f"d{n}"
            elif op == "drop_default":
                if ddl["default_col"]:
                    name, _i, _w = ddl["default_col"]
                    M.drop_column(path, name)
                    cols.discard(name)
                    for row in model.values():
                        row.pop(name, None)
                    ddl["default_col"] = None
                    ddl["dropped_ever"] += 1
            elif op == "identity":
                if not ddl["identity"]:
                    M.add_identity_column(path, "uid")
                    ddl["identity"] = True
            elif op == "cluster":
                M.optimize_clustered(spark, path, ["k"], min_files=2)
            elif op == "wap_stage":
                if len(staged) < 2:
                    ref = f"ref{step}"
                    ks = [next_key, next_key + 1]
                    next_key += 2
                    M.stage_append(
                        spark.createDataFrame(
                            [(k, k * 10) for k in ks],
                            f"k {key_type()}, v long",
                        ),
                        path, ref,
                    )
                    pend = {}
                    for k in ks:
                        row = {c: None for c in cols}
                        row["v"] = k * 10
                        if ddl["default_col"]:
                            name, _ini, wr = ddl["default_col"]
                            row[name] = wr
                        pend[k] = row
                    staged[ref] = pend
            elif op == "wap_settle":
                if staged:
                    ref = rng.choice(sorted(staged))
                    pend = staged.pop(ref)
                    if rng.random() < 0.6:
                        M.publish_staged(spark, path, ref)
                        # a column DROPPED between stage and publish is
                        # projected away at read; one ADDED defaults per
                        # its own rules (write default only fills at
                        # STAGE time) — model the current column set.
                        for k, row in pend.items():
                            model[k] = {c: row.get(c) for c in cols}
                    else:
                        M.drop_staged(path, ref)
            check(f"{step}:{op}")


class TestRefreshAggregate:
    @staticmethod
    def _mk_base(spark, tmp_path, n=1000):
        df = spark.range(n).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 7).alias("user_id"),
            (F.col("id") * 1.5).alias("value"),
        )
        path = str(tmp_path / "mv_base")
        write_range_sorted(df, path, "event_id", num_partitions=4)
        M.manifest_init(path)
        return path

    @staticmethod
    def _mv_rows(spark, mv):
        return {
            r["user_id"]: (round(r["sum_value"], 6), r["cnt"])
            for r in M.load_manifest_table(spark, mv).collect()
        }

    @staticmethod
    def _expect(spark, base):
        full = (
            M.load_manifest_table(spark, base)
            .groupBy("user_id")
            .agg(F.sum("value").alias("s"), F.count("value").alias("c"))
            .collect()
        )
        return {r["user_id"]: (round(r["s"], 6), r["c"]) for r in full}

    def test_incremental_equals_one_shot(self, spark, tmp_path):
        base = self._mk_base(spark, tmp_path)
        mv = str(tmp_path / "mv_agg")
        M.refresh_aggregate(spark, base, mv, "user_id", "value")
        assert self._mv_rows(spark, mv) == self._expect(spark, base)
        # Append a batch that hits SOME keys plus one brand-new key.
        b2 = spark.createDataFrame(
            [(10_001, 0, 5.0), (10_002, 3, 7.5), (10_003, 99, 1.0)],
            "event_id long, user_id long, value double",
        )
        M.append(b2, base)
        M.refresh_aggregate(spark, base, mv, "user_id", "value")
        got = self._mv_rows(spark, mv)
        assert got == self._expect(spark, base)
        assert got[99] == (1.0, 1)  # new key inserted, not lost in merge

    def test_replay_and_crash_resume_watermark(self, spark, tmp_path):
        base = self._mk_base(spark, tmp_path, n=200)
        mv = str(tmp_path / "mv_agg")
        v1 = M.refresh_aggregate(spark, base, mv, "user_id", "value")
        # Replay at the same base version: metadata no-op, same MV version.
        assert M.refresh_aggregate(spark, base, mv, "user_id", "value") == v1
        # Two appends before the next refresh: the delta spans BOTH —
        # a refresh that crashed between them resumes from the committed
        # watermark and still converges to the one-shot answer.
        M.append(
            spark.createDataFrame([(20_001, 1, 2.0)], "event_id long, user_id long, value double"),
            base,
        )
        M.append(
            spark.createDataFrame([(20_002, 1, 3.0)], "event_id long, user_id long, value double"),
            base,
        )
        v2 = M.refresh_aggregate(spark, base, mv, "user_id", "value")
        assert v2 > v1
        assert self._mv_rows(spark, mv) == self._expect(spark, base)
        # Watermark recorded = base's current version.
        m = M.read_manifest(mv)
        assert (m.get("txns") or {})[M.MV_TXN_APP] == M.current_version(base)

    def test_partial_refresh_to_pinned_version(self, spark, tmp_path):
        base = self._mk_base(spark, tmp_path, n=100)
        mv = str(tmp_path / "mv_agg")
        v_base1 = M.current_version(base)
        M.append(
            spark.createDataFrame([(30_001, 2, 4.0)], "event_id long, user_id long, value double"),
            base,
        )
        # Refresh pinned to the OLD version must not see the new batch.
        M.refresh_aggregate(spark, base, mv, "user_id", "value", to_version=v_base1)
        full_v1 = (
            M.load_manifest_table(spark, base, version=v_base1)
            .groupBy("user_id")
            .agg(F.sum("value").alias("s"), F.count("value").alias("c"))
            .collect()
        )
        assert self._mv_rows(spark, mv) == {
            r["user_id"]: (round(r["s"], 6), r["c"]) for r in full_v1
        }
        # Catch up to latest afterwards.
        M.refresh_aggregate(spark, base, mv, "user_id", "value")
        assert self._mv_rows(spark, mv) == self._expect(spark, base)


class TestTimestampTravel:
    @staticmethod
    def _pin_ts(base: str, version: int, ts: "float | None") -> None:
        """Fixture surgery: pin (or strip, ts=None) the in-commit
        timestamp of a committed manifest blob."""
        import json as _json
        import os as _os

        p = _os.path.join(base, "_manifest", f"{version:08d}.json")
        doc = _json.loads(open(p).read())
        doc.pop("crc", None)  # hand-edited legacy blob: unchecked form
        if ts is None:
            doc.pop("ts", None)
        else:
            doc["ts"] = ts
        open(p, "w").write(_json.dumps(doc))

    def test_resolves_commit_boundaries(self, spark, tmp_path):
        base = str(tmp_path / "ts_tab")
        df1 = spark.range(10).select(F.col("id").alias("k"))
        write_range_sorted(df1, base, "k", num_partitions=2)
        M.manifest_init(base)
        M.append(spark.range(10, 20).select(F.col("id").alias("k")), base)
        M.append(spark.range(20, 25).select(F.col("id").alias("k")), base)
        # Pin deterministic IN-COMMIT times: v1=1000, v2=2000, v3=3000.
        for v, t in ((1, 1000), (2, 2000), (3, 3000)):
            self._pin_ts(base, v, t)
        assert M.version_at_timestamp(base, 1000) == 1
        assert M.version_at_timestamp(base, 1999.9) == 1
        assert M.version_at_timestamp(base, 2000) == 2
        assert M.version_at_timestamp(base, 10_000) == 3
        assert M.load_manifest_table_asof(spark, base, 2500).count() == 20
        assert M.load_manifest_table_asof(spark, base, 9999).count() == 25
        with pytest.raises(ValueError):
            M.version_at_timestamp(base, 999)

    def test_in_commit_ts_immune_to_mtime_loss(self, spark, tmp_path):
        import os as _os

        base = str(tmp_path / "ict_tab")
        write_range_sorted(
            spark.range(5).select(F.col("id").alias("k")), base, "k",
            num_partitions=1,
        )
        M.manifest_init(base)
        M.append(spark.range(5, 9).select(F.col("id").alias("k")), base)
        self._pin_ts(base, 1, 1000)
        self._pin_ts(base, 2, 2000)
        # An object-store copy/restore resets mtimes — resolution must
        # not care: the commit time lives inside the blob.
        mdir = _os.path.join(base, "_manifest")
        for v in (1, 2):
            _os.utime(_os.path.join(mdir, f"{v:08d}.json"), (9e9, 9e9))
        assert M.version_at_timestamp(base, 1500) == 1
        assert M.version_at_timestamp(base, 2500) == 2

    def test_pre_ict_manifests_fall_back_to_mtime(self, spark, tmp_path):
        import os as _os

        base = str(tmp_path / "old_tab")
        write_range_sorted(
            spark.range(5).select(F.col("id").alias("k")), base, "k",
            num_partitions=1,
        )
        M.manifest_init(base)
        self._pin_ts(base, 1, None)  # pre-ICT blob: no ts field
        _os.utime(
            _os.path.join(base, "_manifest", "00000001.json"), (1234, 1234)
        )
        assert M.version_at_timestamp(base, 1234) == 1
        with pytest.raises(ValueError):
            M.version_at_timestamp(base, 1233)

    def test_restore_to_timestamp(self, spark, tmp_path):
        base = str(tmp_path / "rts_tab")
        write_range_sorted(
            spark.range(10).select(F.col("id").alias("k")), base, "k",
            num_partitions=1,
        )
        M.manifest_init(base)
        M.append(spark.range(10, 15).select(F.col("id").alias("k")), base)
        self._pin_ts(base, 1, 1000)
        self._pin_ts(base, 2, 2000)
        v = M.restore_timestamp(base, 1500)  # resolves to v1
        assert v == 3
        assert M.load_manifest_table(spark, base).count() == 10

    def test_read_changes_by_timestamp(self, spark, tmp_path):
        base = str(tmp_path / "cdf_ts")
        write_range_sorted(
            spark.range(5).select(F.col("id").alias("k")), base, "k",
            num_partitions=1,
        )
        M.manifest_init(base)
        M.enable_cdf(base)
        M.append(spark.range(5, 8).select(F.col("id").alias("k")), base)
        M.append(spark.range(8, 10).select(F.col("id").alias("k")), base)
        for v, t in ((1, 1000), (2, 2000), (3, 3000), (4, 4000)):
            self._pin_ts(base, v, t)
        # changes AFTER t=3500 = version 4 only (the 2-row append)
        feed = M.read_changes_timestamp(spark, base, 3500, 4500)
        assert feed.count() == 2
        assert {r["_commit_version"] for r in feed.collect()} == {4}
        # open-ended: everything after enablement
        assert M.read_changes_timestamp(spark, base, 2000).count() == 5

    def test_commit_ts_monotone_under_clock_skew(
        self, spark, tmp_path, monkeypatch
    ):
        base = str(tmp_path / "skew_tab")
        write_range_sorted(
            spark.range(5).select(F.col("id").alias("k")), base, "k",
            num_partitions=1,
        )
        M.manifest_init(base)
        self._pin_ts(base, 1, 5_000_000_000.0)  # far future predecessor
        M.append(spark.range(5, 9).select(F.col("id").alias("k")), base)
        m1 = M.read_manifest(base, 1)
        m2 = M.read_manifest(base, 2)
        # The skewed-backward wall clock must not reorder history.
        assert m2["ts"] >= m1["ts"]


class TestStreamMaterializedAggregate:
    @staticmethod
    def _expect(spark, base):
        rows = (
            M.load_manifest_table(spark, base)
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count("v").alias("c"))
            .collect()
        )
        return {r["k"]: (round(r["s"], 6), r["c"]) for r in rows}

    @staticmethod
    def _mv(spark, mv):
        return {
            r["k"]: (round(r["sum_value"], 6), r["cnt"])
            for r in M.load_manifest_table(spark, mv).collect()
        }

    def test_end_to_end_exactly_once(self, spark, tmp_path):
        from pspcz_analyzer_spark.streaming.lake import (
            stream_materialized_aggregate,
        )

        landing = str(tmp_path / "mvs_landing")
        base = str(tmp_path / "mvs_base")
        mv = str(tmp_path / "mvs_mv")
        ck1 = str(tmp_path / "mvs_ck1")
        spark.createDataFrame(
            [(i % 5, float(i)) for i in range(40)], "k long, v double"
        ).write.parquet(base)
        M.manifest_init(base)
        spark.createDataFrame(
            [(1, 100.0), (7, 3.0)], "k long, v double"
        ).coalesce(1).write.parquet(landing)

        res = stream_materialized_aggregate(
            spark, landing, base, mv, ck1, schema="k long, v double",
            key_col="k", value_col="v",
        )
        assert res and res[0][2] >= 1
        assert self._mv(spark, mv) == self._expect(spark, base)

        # Crash between base commit and refresh: simulate with a direct
        # base append that nobody refreshed...
        M.append(
            spark.createDataFrame([(7, 4.0)], "k long, v double"), base
        )
        # ...then the next drained batch heals the gap (delta spans both).
        # mode("append") adds part files INTO the landing dir — the file
        # source lists leaf files, not nested directories.
        spark.createDataFrame(
            [(2, 9.0)], "k long, v double"
        ).coalesce(1).write.mode("append").parquet(landing)
        stream_materialized_aggregate(
            spark, landing, base, mv, ck1, schema="k long, v double",
            key_col="k", value_col="v",
        )
        assert self._mv(spark, mv) == self._expect(spark, base)

        # Fresh checkpoint = full replay: base watermark rejects the
        # batches, MV watermark rejects the refresh — nothing changes.
        vb, vm = M.current_version(base), M.current_version(mv)
        ck2 = str(tmp_path / "mvs_ck2")
        stream_materialized_aggregate(
            spark, landing, base, mv, ck2, schema="k long, v double",
            key_col="k", value_col="v",
        )
        assert (M.current_version(base), M.current_version(mv)) == (vb, vm)
        assert self._mv(spark, mv) == self._expect(spark, base)


class TestBloomPruning:
    @staticmethod
    def _mk(spark, tmp_path, n=4000, files=8):
        # Layout key = user bucket; bloom key = id, SCATTERED across the
        # layout so [min, max] stats cannot prune a point lookup on it.
        df = spark.range(n).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 97).alias("user_id"),
        )
        path = str(tmp_path / "bloom_tab")
        write_range_sorted(df, path, "user_id", num_partitions=files)
        M.manifest_init(path, stat_cols=["user_id"])
        return path

    def test_no_false_negatives_and_real_pruning(self, spark, tmp_path):
        path = self._mk(spark, tmp_path)
        v0 = M.current_version(path)
        v1 = M.ensure_blooms(spark, path, "event_id", bits=32768, k=6)
        assert v1 == v0 + 1
        # Idempotent: nothing missing -> no new commit.
        assert M.ensure_blooms(spark, path, "event_id") == v1
        truth = {}
        rows = (
            spark.read.parquet(path)
            .select(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("f"),
                "event_id",
            )
            .collect()
        )
        for r in rows:
            truth.setdefault(r["event_id"], set()).add(r["f"])
        total_kept = 0
        for eid in range(0, 4000, 131):
            kept, total = M.prune_files_bloom(
                path, M.read_manifest(path), "event_id", eid
            )
            assert truth[eid] <= set(kept), f"false negative for {eid}"
            total_kept += len(kept)
        # Real skipping: on average nearly all non-owning files pruned.
        assert total_kept <= 2 * (4000 // 131 + 1)
        # A key that never existed prunes to (almost always) zero files.
        kept, _ = M.prune_files_bloom(
            path, M.read_manifest(path), "event_id", 10_000_001
        )
        assert len(kept) <= 1

    def test_point_scan_matches_filter_and_survives_append(self, spark, tmp_path):
        path = self._mk(spark, tmp_path)
        M.ensure_blooms(spark, path, "event_id", bits=32768, k=6)
        got = M.scan_auto(spark, path, eq={"event_id": 1234}).collect()
        assert [(r["event_id"], r["user_id"]) for r in got] == [(1234, 1234 % 97)]
        # Append WITHOUT re-blooming: the new file has no bloom -> it is
        # conservatively kept, and the point scan still finds new rows.
        M.append(
            spark.createDataFrame([(9_999_999, 7)], "event_id long, user_id long"),
            path,
        )
        kept, total = M.prune_files_bloom(
            path, M.read_manifest(path), "event_id", 9_999_999
        )
        assert len(kept) >= 1
        got = M.scan_auto(spark, path, eq={"event_id": 9_999_999}).collect()
        assert [(r["event_id"], r["user_id"]) for r in got] == [(9_999_999, 7)]
        # Old files' blooms carried through the append commit.
        assert M.scan_auto(spark, path, eq={"event_id": 1234}).count() == 1
        # Backfill the new file; the fresh key now prunes to ~its file.
        M.ensure_blooms(spark, path, "event_id", bits=32768, k=6)
        kept, total = M.prune_files_bloom(
            path, M.read_manifest(path), "event_id", 9_999_999
        )
        assert len(kept) <= 2 and total >= 9

    def test_all_null_column_gets_zero_bloom(self, spark, tmp_path):
        path = str(tmp_path / "bloom_null")
        spark.createDataFrame(
            [(1, None), (2, None)], "k long, s string"
        ).coalesce(1).write.parquet(path)
        M.manifest_init(path)
        M.ensure_blooms(spark, path, "s", bits=1024, k=4)
        kept, total = M.prune_files_bloom(
            path, M.read_manifest(path), "s", "anything"
        )
        assert kept == [] and total == 1


class TestBloomAutoSizing:
    def test_auto_bits_track_file_ndv(self, spark, tmp_path):
        path = str(tmp_path / "bloom_auto")
        # Two files with wildly different NDV in one table.
        big = spark.range(50_000).select(F.col("id").alias("k"))
        small = spark.range(60_000, 60_010).select(F.col("id").alias("k"))
        big.coalesce(1).write.parquet(path)
        small.coalesce(1).write.mode("append").parquet(path)
        M.manifest_init(path)
        M.ensure_blooms(spark, path, "k")
        m = M.read_manifest(path)
        sizes = sorted(
            bl["k"]["bits"] for bl in m["blooms"].values()
        )
        assert sizes[0] == 1024  # floor for the 10-key file
        assert sizes[1] >= 6 * 50_000 / 0.48  # load kept <= 0.48
        # FP spot-check on the big file: absent keys almost always prune.
        misses = sum(
            len(M.prune_files_bloom(path, m, "k", key)[0]) == 0
            for key in range(1_000_000, 1_000_200)
        )
        assert misses >= 190, misses
        # Present keys never prune away (subset sweep).
        for key in range(0, 50_000, 7919):
            kept, _ = M.prune_files_bloom(
                path, M.read_manifest(path), "k", key
            )
            assert kept, key


class TestPartitionEvolution:
    @staticmethod
    def _mk(spark, tmp_path):
        df = spark.range(60).select(
            F.col("id"),
            F.when(F.col("id") % 3 == 0, "red")
            .when(F.col("id") % 3 == 1, "green")
            .otherwise("blue")
            .alias("color"),
        )
        path = str(tmp_path / "ptab")
        write_range_sorted(df.filter(F.col("id") < 30), path, "id", 2)
        M.manifest_init(path, stat_cols=["id"])
        return path, df

    def test_spec_validates_against_schema(self, spark, tmp_path):
        path, _ = self._mk(spark, tmp_path)
        with pytest.raises(ValueError, match="not in table schema"):
            M.set_partition_spec(path, ["no_such_col"])

    def test_append_records_values_and_prunes_exactly(self, spark, tmp_path):
        path, df = self._mk(spark, tmp_path)
        assert M.current_partition_spec(path) == []
        M.set_partition_spec(path, ["color"])
        assert M.current_partition_spec(path) == ["color"]
        M.append(df.filter(F.col("id") >= 30), path)
        m = M.read_manifest(path)
        parts = m.get("partitions") or {}
        # Each appended file carries exactly one color; all three appear.
        assert {p["color"] for p in parts.values()} == {"red", "green", "blue"}
        kept, total = M.prune_files_partition(
            M.read_manifest(path), {"color": "red"}
        )
        pre = [f for f in m["files"] if f not in parts]
        assert set(pre) <= set(kept)  # conservative for pre-evolution
        for f, p in parts.items():
            assert (f in kept) == (p["color"] == "red")
        # Scan equals the unpruned filtered read.
        got = sorted(
            r.id
            for r in M.scan_auto(spark, path, eq={"color": "red"}).collect()
        )
        want = sorted(
            r.id
            for r in M.load_manifest_table(spark, path)
            .filter(F.col("color") == "red")
            .collect()
        )
        assert got == want and len(got) == 20

    def test_null_partition_values_never_match_equality(self, spark, tmp_path):
        path, _ = self._mk(spark, tmp_path)
        M.set_partition_spec(path, ["color"])
        nulls = spark.range(100, 104).select(
            "id", F.lit(None).cast("string").alias("color")
        )
        M.append(nulls, path)
        m = M.read_manifest(path)
        parts = m.get("partitions") or {}
        null_files = [
            f for f, p in parts.items()
            if p["color"] == "__HIVE_DEFAULT_PARTITION__"
        ]
        assert null_files  # the null batch landed with the hive token
        kept, _ = M.prune_files_partition(
            M.read_manifest(path), {"color": "red"}
        )
        assert not set(null_files) & set(kept)  # null rows can't equal 'red'

    def test_partition_metadata_survives_delete_and_restore(
        self, spark, tmp_path
    ):
        path, df = self._mk(spark, tmp_path)
        M.set_partition_spec(path, ["color"])
        M.append(df.filter(F.col("id") >= 30), path)
        v_part = M.current_version(path)
        parts_before = M.read_manifest(path).get("partitions") or {}
        M.delete_keys(spark, path, "id", [5, 7])  # rewrites pre-evo files only
        m = M.read_manifest(path)
        surviving = {
            f: p
            for f, p in (m.get("partitions") or {}).items()
            if f in set(m["files"])
        }
        assert surviving == {
            f: p for f, p in parts_before.items() if f in set(m["files"])
        }
        assert M.current_partition_spec(path) == ["color"]
        M.restore(path, v_part)
        m2 = M.read_manifest(path)
        assert (m2.get("partitions") or {}) == parts_before
        assert M.current_partition_spec(path) == ["color"]

    def test_evolve_back_to_unpartitioned(self, spark, tmp_path):
        path, df = self._mk(spark, tmp_path)
        M.set_partition_spec(path, ["color"])
        M.append(df.filter((F.col("id") >= 30) & (F.col("id") < 40)), path)
        M.set_partition_spec(path, [])
        assert M.current_partition_spec(path) == []
        M.append(df.filter(F.col("id") >= 40), path)
        m = M.read_manifest(path)
        parts = m.get("partitions") or {}
        # The partitioned-era files keep their values; the new batch has
        # none. Full reads see every row regardless of layout era.
        assert parts and all("color" in p for p in parts.values())
        assert M.load_manifest_table(spark, path).count() == 60


class TestHiddenPartitioning:
    def test_bucket_transform_prunes_point_lookups(self, spark, tmp_path):
        df = spark.range(400).select(F.col("id").alias("user_id"))
        path = str(tmp_path / "hbuck")
        write_range_sorted(df.filter(F.col("user_id") < 200), path, "user_id", 2)
        M.manifest_init(path)
        M.set_partition_spec(path, ["bucket(8, user_id)"])
        M.append(df.filter(F.col("user_id") >= 200), path)
        m = M.read_manifest(path)
        parts = m.get("partitions") or {}
        # 8 buckets -> 8 appended files, keyed by the transform entry.
        assert len(parts) == 8
        assert all(set(p) == {"bucket(8, user_id)"} for p in parts.values())
        # A point lookup on the RAW column prunes to 1-of-8 new files
        # (hidden partitioning: the query never names the transform).
        kept, total = M.prune_files_partition(
            M.read_manifest(path), {"user_id": 333}
        )
        new_kept = [f for f in kept if f in parts]
        assert len(new_kept) == 1
        tok = ((333 * 2654435761) % (1 << 32)) % 8
        assert parts[new_kept[0]]["bucket(8, user_id)"] == str(tok)
        got = sorted(
            r.user_id
            for r in M.scan_auto(spark, path, eq={"user_id": 333}).collect()
        )
        assert got == [333]

    def test_truncate_and_day_transforms(self, spark, tmp_path):
        import datetime

        df = spark.sql(
            """SELECT id AS event_id,
                      timestamp'2024-03-01 00:00:00'
                        + make_interval(0,0,0,0,0,0, id*2000) AS ts
               FROM range(200)"""
        )
        path = str(tmp_path / "hday")
        df.limit(0).write.parquet(path)
        M.manifest_init(path)
        M.set_partition_spec(path, ["truncate(100, event_id)", "day(ts)"])
        M.append(df, path)
        m = M.read_manifest(path)
        parts = m.get("partitions") or {}
        toks = {
            (p["truncate(100, event_id)"], p["day(ts)"]) for p in parts.values()
        }
        assert all(t[0] in ("0", "100") for t in toks)
        # Conjunctive hidden pruning on both raw columns; the predicate
        # timestamp is recomputed from the generator formula.
        ts137 = datetime.datetime(2024, 3, 1) + datetime.timedelta(
            seconds=137 * 2000
        )
        kept, _ = M.prune_files_partition(
            M.read_manifest(path), {"event_id": 137, "ts": ts137}
        )
        # Exactly one PARTITIONED file survives; the adopted (empty,
        # pre-evolution) part has no entries and is kept conservatively.
        assert len([f for f in kept if f in parts]) == 1
        rows = M.scan_auto(
            spark, path, eq={"event_id": 137, "ts": ts137}
        ).collect()
        assert [r.event_id for r in rows] == [137]

    def test_bad_transform_rejected(self, spark, tmp_path):
        df = spark.range(4).select(F.col("id").alias("user_id"))
        path = str(tmp_path / "hbad")
        df.write.parquet(path)
        M.manifest_init(path)
        with pytest.raises(ValueError, match="unsupported partition transform"):
            M.set_partition_spec(path, ["bucket(user_id)"])
        with pytest.raises(ValueError, match="not in table schema"):
            M.set_partition_spec(path, ["bucket(8, ghost)"])


class TestRenameColumn:
    @staticmethod
    def _mk(spark, tmp_path):
        df = spark.range(40).selectExpr(
            "id AS user_id", "CAST(id * 2 AS DOUBLE) AS amount"
        )
        path = str(tmp_path / "rtab")
        write_range_sorted(df, path, "user_id", 4)
        M.manifest_init(path, stat_cols=["user_id"])
        return path, df

    def test_rename_is_metadata_only_and_versioned(self, spark, tmp_path):
        path, _ = self._mk(spark, tmp_path)
        files_before = set(M.read_manifest(path)["files"])
        v = M.rename_column(path, "amount", "total")
        m = M.read_manifest(path)
        assert set(m["files"]) == files_before  # zero data IO
        assert m["colmap"] == {"total": "amount"}
        got = M.load_manifest_table(spark, path)
        assert got.columns == ["user_id", "total"]
        assert got.agg(F.sum("total")).first()[0] == sum(i * 2 for i in range(40))
        # Time travel: the pinned pre-rename version reads the old name.
        assert M.load_manifest_table(spark, path, v - 1).columns == [
            "user_id",
            "amount",
        ]

    def test_writes_after_rename_stage_physical(self, spark, tmp_path):
        path, _ = self._mk(spark, tmp_path)
        M.rename_column(path, "amount", "total")
        M.append(
            spark.range(40, 50).selectExpr(
                "id AS user_id", "CAST(id * 2 AS DOUBLE) AS total"
            ),
            path,
        )
        m = M.read_manifest(path)
        new_file = [f for f in m["files"] if f.startswith("append-")][0]
        import pyarrow.parquet as pq
        import os as _os

        phys = pq.ParquetFile(_os.path.join(path, new_file)).schema_arrow.names
        assert "amount" in phys and "total" not in phys  # physical name
        got = M.load_manifest_table(spark, path)
        assert got.count() == 50
        assert got.filter(F.col("user_id") == 45).first()["total"] == 90.0
        # Delete rewrite after rename keeps the evolved read intact.
        M.delete_keys(spark, path, "user_id", [45])
        got = M.load_manifest_table(spark, path)
        assert got.count() == 49 and got.columns == ["user_id", "total"]

    def test_stats_and_bloom_pruning_translate(self, spark, tmp_path):
        path, _ = self._mk(spark, tmp_path)
        M.ensure_blooms(spark, path, "user_id")
        M.rename_column(path, "user_id", "uid")
        kept, total = M.prune_files_multi(
            M.read_manifest(path), {"uid": (11, 13)}
        )
        assert 0 < len(kept) < total  # range stats prune through the map
        keptb, _ = M.prune_files_bloom(path, M.read_manifest(path), "uid", 11)
        assert set(keptb) <= set(M.read_manifest(path)["files"])
        got = sorted(
            r.uid
            for r in M.scan_auto(
                spark, path, ranges={"uid": (11, 13)}
            ).collect()
        )
        assert got == [11, 12, 13]

    def test_mor_delete_survives_rename(self, spark, tmp_path):
        path, _ = self._mk(spark, tmp_path)
        M.delete_keys_mor(spark, path, "user_id", [7, 9])
        M.rename_column(path, "user_id", "uid")
        rows = {r.uid for r in M.load_manifest_table(spark, path).collect()}
        assert 7 not in rows and 9 not in rows and len(rows) == 38
        n_files, n_entries = M.materialize_deletes(spark, path)
        assert n_entries == 1
        assert M.load_manifest_table(spark, path).count() == 38

    def test_guards(self, spark, tmp_path):
        path, _ = self._mk(spark, tmp_path)
        with pytest.raises(M.SchemaMismatch, match="does not exist"):
            M.rename_column(path, "ghost", "x")
        with pytest.raises(M.SchemaMismatch, match="already exists"):
            M.rename_column(path, "amount", "user_id")
        M.set_constraint(spark, path, "pos", "amount >= 0")
        with pytest.raises(ValueError, match="CHECK constraint"):
            M.rename_column(path, "amount", "total")
        M.drop_constraint(path, "pos")
        M.set_partition_spec(path, ["bucket(4, user_id)"])
        with pytest.raises(ValueError, match="partition-spec"):
            M.rename_column(path, "user_id", "uid")

    def test_rename_back_drops_mapping(self, spark, tmp_path):
        path, _ = self._mk(spark, tmp_path)
        M.rename_column(path, "amount", "total")
        M.rename_column(path, "total", "amount")
        m = M.read_manifest(path)
        assert not m.get("colmap")  # physical == logical again
        assert M.load_manifest_table(spark, path).columns == [
            "user_id",
            "amount",
        ]


class TestPartitionRangePruning:
    def test_day_partitioned_time_range(self, spark, tmp_path):
        import datetime

        df = spark.sql(
            """SELECT id AS event_id,
                      timestamp'2024-03-01 00:00:00'
                        + make_interval(0,0,0,0,0,0, id*2000) AS ts
               FROM range(400)"""
        )
        path = str(tmp_path / "prange")
        df.limit(0).write.parquet(path)
        M.manifest_init(path)
        M.set_partition_spec(path, ["day(ts)"])
        M.append(df, path)
        parts = M.read_manifest(path).get("partitions") or {}
        days = {p["day(ts)"] for p in parts.values()}
        assert len(days) >= 3  # ~9 days of data, one file per day
        lo = datetime.datetime(2024, 3, 2, 6, 0, 0)
        hi = datetime.datetime(2024, 3, 3, 18, 0, 0)
        kept, total = M.prune_files_partition_range(
            M.read_manifest(path), "ts", lo, hi
        )
        kept_days = {
            parts[f]["day(ts)"] for f in kept if f in parts
        }
        assert kept_days == {"2024-03-02", "2024-03-03"}
        got = sorted(
            r.event_id
            for r in M.scan_auto(
                spark, path, ranges={"ts": (lo, hi)}
            ).collect()
        )
        want = sorted(
            r.event_id
            for r in M.load_manifest_table(spark, path)
            .filter(F.col("ts").between(lo, hi))
            .collect()
        )
        assert got == want and got

    def test_truncate_and_identity_ranges_numeric(self, spark, tmp_path):
        df = spark.range(300).selectExpr("id AS k")
        path = str(tmp_path / "trange")
        df.limit(0).write.parquet(path)
        M.manifest_init(path)
        M.set_partition_spec(path, ["truncate(100, k)"])
        M.append(df, path)
        parts = M.read_manifest(path).get("partitions") or {}
        kept, _ = M.prune_files_partition_range(
            M.read_manifest(path), "k", 150, 210
        )
        toks = {parts[f]["truncate(100, k)"] for f in kept if f in parts}
        assert toks == {"100", "200"}
        got = sorted(
            r.k
            for r in M.scan_auto(
                spark, path, ranges={"k": (150, 210)}
            ).collect()
        )
        assert got == list(range(150, 211))
        # Identity tokens must compare numerically: files for 9 and 10
        # both survive a [9, 10] range (lexicographic "9" > "10").
        path2 = str(tmp_path / "irange")
        small = spark.range(12).selectExpr("id AS k")
        small.limit(0).write.parquet(path2)
        M.manifest_init(path2)
        M.set_partition_spec(path2, ["k"])
        M.append(small, path2)
        got2 = sorted(
            r.k
            for r in M.scan_auto(spark, path2, ranges={"k": (9, 10)}).collect()
        )
        assert got2 == [9, 10]

    def test_bucket_entries_never_range_prune(self, spark, tmp_path):
        df = spark.range(100).selectExpr("id AS k")
        path = str(tmp_path / "brange")
        df.limit(0).write.parquet(path)
        M.manifest_init(path)
        M.set_partition_spec(path, ["bucket(4, k)"])
        M.append(df, path)
        parts = M.read_manifest(path).get("partitions") or {}
        kept, total = M.prune_files_partition_range(
            M.read_manifest(path), "k", 10, 20
        )
        # Hash destroys order: every bucketed file is conservatively kept.
        assert set(f for f in kept if f in parts) == set(parts)


class TestPartitionAwareCompaction:
    def test_compaction_stays_within_partitions(self, spark, tmp_path):
        df = spark.range(120).select(
            F.col("id"),
            F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("par"),
        )
        path = str(tmp_path / "pcomp")
        df.limit(0).write.parquet(path)
        M.manifest_init(path)
        M.set_partition_spec(path, ["par"])
        # Four small appends -> 8 partitioned files (2 values x 4 waves).
        for lo in range(0, 120, 30):
            M.append(
                df.filter((F.col("id") >= lo) & (F.col("id") < lo + 30)), path
            )
        m0 = M.read_manifest(path)
        parts0 = m0.get("partitions") or {}
        assert len(parts0) == 8
        n_merged, n_written = M.compact_small_files(spark, path)
        assert n_merged == 8 and n_written == 2  # one output per value
        m1 = M.read_manifest(path)
        parts1 = m1.get("partitions") or {}
        outs = [f for f in m1["files"] if f.startswith("compact-")]
        # Every compaction output inherits its group's partition value...
        assert {parts1[f]["par"] for f in outs} == {"even", "odd"}
        # ...so partition pruning is as sharp as before compaction.
        kept, _ = M.prune_files_partition(
            M.read_manifest(path), {"par": "even"}
        )
        assert [f for f in kept if f in parts1] == [
            f for f in outs if parts1[f]["par"] == "even"
        ]
        got = sorted(
            r.id
            for r in M.scan_auto(spark, path, eq={"par": "even"}).collect()
        )
        assert got == list(range(0, 120, 2))

    def test_mixed_era_files_group_separately(self, spark, tmp_path):
        df = spark.range(60).select(
            F.col("id"),
            F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("par"),
        )
        path = str(tmp_path / "pcomp2")
        # Two pre-evolution appends (no partition entries)...
        df.filter(F.col("id") < 15).write.parquet(path)
        M.manifest_init(path)
        M.append(df.filter((F.col("id") >= 15) & (F.col("id") < 30)), path)
        # ...then evolve and append twice more per value.
        M.set_partition_spec(path, ["par"])
        M.append(df.filter((F.col("id") >= 30) & (F.col("id") < 45)), path)
        M.append(df.filter(F.col("id") >= 45), path)
        n_merged, n_written = M.compact_small_files(spark, path)
        m = M.read_manifest(path)
        parts = m.get("partitions") or {}
        outs = [f for f in m["files"] if f.startswith("compact-")]
        # Partitioned outputs carry values; the pre-evolution group's
        # output carries none (it may mix values) — never a wrong value.
        for f in outs:
            if f in parts:
                assert set(parts[f]) == {"par"}
        assert M.load_manifest_table(spark, path).count() == 60


class TestMetadataTables:
    def test_files_table_reflects_manifest(self, spark, tmp_path):
        df = spark.range(50).select(
            F.col("id"), F.when(F.col("id") % 2 == 0, "x").otherwise("y").alias("g")
        )
        path = str(tmp_path / "meta_tab")
        df.limit(0).write.parquet(path)
        M.manifest_init(path, stat_cols=["id"])
        M.set_partition_spec(path, ["g"])
        M.append(df, path)
        M.ensure_blooms(spark, path, "id")
        ft = {r.file: r for r in M.files_table(spark, path).collect()}
        m = M.read_manifest(path)
        assert set(ft) == set(m["files"])
        appended = [f for f in ft if f.startswith("append-")]
        assert appended and all(
            ft[f].partitions.get("g") in ("x", "y") for f in appended
        )
        assert sum(ft[f].n_rows for f in appended) == 50
        assert all("id" in ft[f].bloom_cols for f in appended)
        assert all(ft[f].size_bytes > 0 for f in appended)
        import json

        s = json.loads(ft[appended[0]].stats_json)
        assert "id" in s and s["id"][0] is not None

    def test_history_records_operation_kinds(self, spark, tmp_path):
        path = str(tmp_path / "ops_hist")
        M.create_table(path, "k bigint, v double")
        M.append(
            spark.range(10).select(
                F.col("id").alias("k"), F.lit(1.0).alias("v")
            ),
            path,
        )
        M.delete_where(spark, path, "k < 3")
        M.compact_small_files(spark, path, target_bytes=1 << 30)
        M.add_column(path, "tag", "string")
        ops = [h["op"] for h in M.history(path)]
        assert ops[:3] == ["CREATE TABLE", "WRITE", "DELETE"]
        assert ops[-1] == "ADD COLUMN"
        ht = {r["version"]: r["op"] for r in M.history_table(spark, path).collect()}
        assert ht[1] == "CREATE TABLE" and ht[3] == "DELETE"

    def test_refs_table_lists_tags_and_staged(self, spark, tmp_path):
        df = spark.range(10).select("id")
        path = str(tmp_path / "meta_refs")
        df.coalesce(1).write.parquet(path)
        M.manifest_init(path)
        M.create_tag(path, "baseline")
        M.stage_append(spark.range(10, 13).select("id"), path, "wave")
        rows = {r["name"]: r for r in M.refs_table(spark, path).collect()}
        assert rows["baseline"]["kind"] == "tag"
        assert rows["baseline"]["version"] == 1
        assert rows["wave"]["kind"] == "staged"
        assert rows["wave"]["version"] == 1  # staged against v1
        assert rows["wave"]["n_files"] >= 1
        M.publish_staged(spark, path, "wave")
        assert {
            r["name"] for r in M.refs_table(spark, path).collect()
        } == {"baseline"}

    def test_history_table_matches_history(self, spark, tmp_path):
        df = spark.range(30).select("id")
        path = str(tmp_path / "meta_hist")
        df.write.parquet(path)
        M.manifest_init(path)
        M.append(spark.range(30, 40).select("id"), path)
        M.delete_keys(spark, path, "id", [5])
        ht = {r.version: r for r in M.history_table(spark, path).collect()}
        for h in M.history(path):
            r = ht[h["version"]]
            assert r.n_files == h["n_files"] and r.n_rows == h["n_rows"]
        assert ht[max(ht)].n_rows == 39


class TestClusteringDepth:
    def test_depth_metric_and_recluster_policy(self, spark, tmp_path):
        path = str(tmp_path / "depth_tab")
        # Four appends covering the SAME id range -> every point is
        # overlapped by all four files: depth == 4, pruning is dead.
        spark.range(0, 100).select("id").limit(0).write.parquet(path)
        M.manifest_init(path, stat_cols=["id"])
        for _ in range(4):
            M.append(spark.range(0, 100).select("id").coalesce(1), path)
        assert M.clustering_depth(path, "id") >= 4
        # Disjoint appends -> depth 1.
        path2 = str(tmp_path / "depth_tab2")
        spark.range(0, 10).select("id").limit(0).write.parquet(path2)
        M.manifest_init(path2, stat_cols=["id"])
        for lo in range(0, 400, 100):
            M.append(spark.range(lo, lo + 100).select("id").coalesce(1), path2)
        assert M.clustering_depth(path2, "id") == 1
        # maintain() reclusters the overlapped table and depth collapses;
        # the disjoint one is left alone.
        out = M.maintain(
            spark, path, recluster_col="id", max_depth=2, max_small_files=1000
        )
        assert out["reclustered"] >= 4
        assert M.clustering_depth(path, "id") <= 2
        assert M.load_manifest_table(spark, path).count() == 400
        out2 = M.maintain(
            spark, path2, recluster_col="id", max_depth=2, max_small_files=1000
        )
        assert out2["reclustered"] == 0

    def test_unknown_stats_count_toward_depth(self, spark, tmp_path):
        path = str(tmp_path / "depth_unknown")
        spark.range(0, 10).select("id").write.parquet(path)
        M.manifest_init(path)  # no stat_cols tracked
        # Every file is unknown on id -> depth = file count, honest.
        n = len(M.read_manifest(path)["files"])
        assert M.clustering_depth(path, "id") == n


class TestGeneratedColumns:
    def test_computed_when_omitted_validated_when_supplied(
        self, spark, tmp_path
    ):
        df = spark.range(20).selectExpr("id", "CAST(id * 3 AS DOUBLE) AS v")
        path = str(tmp_path / "gen_tab")
        df.limit(0).write.parquet(path)
        M.manifest_init(path)
        M.add_generated_column(spark, path, "v_bucket", "long", "CAST(v / 10 AS LONG)")
        # Batch omits the column -> computed.
        M.append(df, path)
        got = M.load_manifest_table(spark, path)
        assert got.columns == ["id", "v", "v_bucket"]
        assert got.filter(F.col("id") == 7).first()["v_bucket"] == 2
        # Batch supplies a CORRECT value -> accepted.
        ok = spark.range(20, 25).selectExpr(
            "id", "CAST(id * 3 AS DOUBLE) AS v", "CAST(id * 3 / 10 AS LONG) AS v_bucket"
        )
        M.append(ok, path)
        # Batch supplies a WRONG value -> rejected before staging.
        bad = spark.range(30, 35).selectExpr(
            "id", "CAST(id * 3 AS DOUBLE) AS v", "CAST(0 AS LONG) AS v_bucket"
        )
        files_before = set(M.read_manifest(path)["files"])
        with pytest.raises(M.ConstraintViolation, match="generated column"):
            M.append(bad, path)
        assert set(M.read_manifest(path)["files"]) == files_before
        assert M.load_manifest_table(spark, path).count() == 25

    def test_ddl_validates_expression_and_time_travel(self, spark, tmp_path):
        df = spark.range(5).selectExpr("id")
        path = str(tmp_path / "gen_ddl")
        df.write.parquet(path)
        M.manifest_init(path)
        with pytest.raises(ValueError, match="does not compile"):
            M.add_generated_column(spark, path, "x", "long", "no_such_col + 1")
        v0 = M.current_version(path)
        M.add_generated_column(spark, path, "id2", "long", "id * 2")
        # Pre-DDL rows null-fill; pinned old version never sees the column.
        assert M.load_manifest_table(spark, path).columns == ["id", "id2"]
        assert M.load_manifest_table(spark, path, v0).columns == ["id"]
        # Rename of the source or the generated column is blocked.
        with pytest.raises(ValueError, match="generated column"):
            M.rename_column(path, "id", "pk")
        with pytest.raises(ValueError, match="generated column"):
            M.rename_column(path, "id2", "dbl")

    def test_generated_column_drives_partition_spec(self, spark, tmp_path):
        import datetime

        df = spark.sql(
            """SELECT id AS event_id,
                      timestamp'2024-06-01 00:00:00'
                        + make_interval(0,0,0,0,0,0, id*2000) AS ts
               FROM range(200)"""
        )
        path = str(tmp_path / "gen_part")
        df.limit(0).write.parquet(path)
        M.manifest_init(path)
        M.add_generated_column(
            spark, path, "event_day", "string", "date_format(ts, 'yyyy-MM-dd')"
        )
        M.set_partition_spec(path, ["event_day"])
        M.append(df, path)  # writer never mentions event_day
        m = M.read_manifest(path)
        parts = m.get("partitions") or {}
        days = {p["event_day"] for p in parts.values()}
        assert len(days) >= 3 and all(d.startswith("2024-06") for d in days)
        got = sorted(
            r.event_id
            for r in M.scan_auto(
                spark, path, eq={"event_day": "2024-06-02"}
            ).collect()
        )
        want = sorted(
            r.event_id
            for r in M.load_manifest_table(spark, path)
            .filter(F.col("event_day") == "2024-06-02")
            .collect()
        )
        assert got == want and got


class TestTags:
    def test_tag_pins_version_through_vacuum(self, spark, tmp_path):
        path = str(tmp_path / "tag_tab")
        spark.range(10).select("id").write.parquet(path)
        M.manifest_init(path)
        v1 = M.current_version(path)
        M.create_tag(path, "train-run-7")
        assert M.resolve_tag(path, "train-run-7") == v1
        # Three rewriting commits push v1 far outside retain_versions=1.
        M.delete_keys(spark, path, "id", [1])
        M.delete_keys(spark, path, "id", [2])
        M.append(spark.range(10, 12).select("id"), path)
        M.vacuum(path, retain_versions=1, min_age_seconds=0)
        # The tagged snapshot is still fully readable...
        pinned = M.load_manifest_table(spark, path, v1)
        assert pinned.count() == 10
        # ...while untagged intermediate versions were pruned.
        import pytest as _pytest

        with _pytest.raises(FileNotFoundError):
            M.read_manifest(path, v1 + 1)
        # Dropping the tag re-enters the retention clock: the next
        # vacuum collects the old snapshot's files.
        M.delete_tag(path, "train-run-7")
        M.vacuum(path, retain_versions=1, min_age_seconds=0)
        with _pytest.raises(FileNotFoundError):
            M.read_manifest(path, v1)
        assert M.load_manifest_table(spark, path).count() == 10  # 10-2+2

    def test_tag_name_rules_and_uniqueness(self, spark, tmp_path):
        path = str(tmp_path / "tag_rules")
        spark.range(3).select("id").write.parquet(path)
        M.manifest_init(path)
        M.create_tag(path, "v1.0")
        with pytest.raises(ValueError, match="already exists"):
            M.create_tag(path, "v1.0")
        with pytest.raises(ValueError, match="bad tag name"):
            M.create_tag(path, "has space")
        with pytest.raises(ValueError, match="does not exist"):
            M.create_tag(path, "future", version=99)
        with pytest.raises(ValueError, match="no tag"):
            M.resolve_tag(path, "ghost")
        assert M.list_tags(path) == {"v1.0": 1}


class TestDeleteUpdateWhere:
    @staticmethod
    def _mk(spark, tmp_path, name):
        df = spark.range(100).selectExpr(
            "id", "CAST(id % 7 AS DOUBLE) AS score",
            "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS grp",
        )
        path = str(tmp_path / name)
        write_range_sorted(df, path, "id", 4)
        M.manifest_init(path, stat_cols=["id"])
        return path

    def test_delete_where_rewrites_only_matching_files(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "dw")
        before = M.read_manifest(path)["files"]
        # Predicate hits only ids 10-19 -> one of four range files.
        nf, nrows = M.delete_where(
            spark, path, "id BETWEEN 10 AND 19 AND grp = 'a'"
        )
        assert nf == 1 and nrows == 5
        m = M.read_manifest(path)
        assert len(set(before) & set(m["files"])) == 3  # 3 untouched
        got = M.load_manifest_table(spark, path)
        assert got.count() == 95
        assert got.filter("id BETWEEN 10 AND 19 AND grp = 'a'").count() == 0
        # No-match predicate is a no-op (no commit).
        v = M.current_version(path)
        assert M.delete_where(spark, path, "id > 1000") == (0, 0)
        assert M.current_version(path) == v
        # Null-valued predicates don't delete (NULL -> not matched).
        M.add_column(path, "flag", "int")
        assert M.delete_where(spark, path, "flag = 1") == (0, 0)

    def test_update_where_applies_case_and_checks_invariants(
        self, spark, tmp_path
    ):
        path = self._mk(spark, tmp_path, "uw")
        nf, nrows = M.update_where(
            spark, path, "grp = 'b' AND id < 25",
            {"score": "score + 100"},
        )
        assert nrows == 12  # odd ids below 25
        got = M.load_manifest_table(spark, path)
        assert got.filter("grp = 'b' AND id < 25 AND score < 100").count() == 0
        assert got.filter("grp = 'a' AND score >= 100").count() == 0
        assert got.count() == 100
        with pytest.raises(M.SchemaMismatch, match="unknown column"):
            M.update_where(spark, path, "id = 1", {"ghost": "1"})
        # An UPDATE that would violate a CHECK constraint is rejected
        # with no commit.
        M.set_constraint(spark, path, "score_cap", "score < 1000")
        v = M.current_version(path)
        with pytest.raises(M.ConstraintViolation):
            M.update_where(spark, path, "id = 3", {"score": "5000"})
        assert M.current_version(path) == v

    def test_update_cannot_break_generated_column(self, spark, tmp_path):
        df = spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        path = str(tmp_path / "uw_gen")
        df.limit(0).write.parquet(path)
        M.manifest_init(path)
        M.add_generated_column(spark, path, "v2", "double", "v * 2")
        M.append(df, path)
        with pytest.raises(M.ConstraintViolation, match="generated column"):
            M.update_where(spark, path, "id = 1", {"v": "99"})
        # Updating source AND derived consistently is allowed.
        nf, nrows = M.update_where(
            spark, path, "id = 1", {"v": "99", "v2": "198"}
        )
        assert nrows == 1
        r = M.load_manifest_table(spark, path).filter("id = 1").first()
        assert r["v"] == 99.0 and r["v2"] == 198.0


class TestPositionalDeletes:
    @staticmethod
    def _mk(spark, tmp_path, name="dv"):
        df = spark.range(100).selectExpr("id", "CAST(id % 7 AS DOUBLE) AS score")
        path = str(tmp_path / name)
        write_range_sorted(df, path, "id", 4)
        M.manifest_init(path, stat_cols=["id"])
        return path

    def test_no_rewrite_stacking_and_materialize(self, spark, tmp_path):
        path = self._mk(spark, tmp_path)
        files0 = set(M.read_manifest(path)["files"])
        ndv, nrows = M.delete_where_pos(spark, path, "id % 10 = 3")
        assert (ndv, nrows) == (1, 10)
        assert set(M.read_manifest(path)["files"]) == files0  # zero rewrite
        got = M.load_manifest_table(spark, path)
        assert got.count() == 90 and got.filter("id % 10 = 3").count() == 0
        # A second DV stacks; an already-deleted row never double-counts.
        assert M.delete_where_pos(spark, path, "id IN (3, 50)") == (1, 1)
        assert M.load_manifest_table(spark, path).count() == 89
        # No-match predicate: no commit.
        v = M.current_version(path)
        assert M.delete_where_pos(spark, path, "id > 900") == (0, 0)
        assert M.current_version(path) == v
        # Materialization folds the positions and drops the entries.
        nf, ne = M.materialize_deletes(spark, path)
        assert ne == 2 and M.load_manifest_table(spark, path).count() == 89
        assert not M.read_manifest(path).get("deletes")

    def test_composes_with_equality_mor_and_rewrites(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "dv2")
        M.delete_keys_mor(spark, path, "id", [7, 8])
        M.delete_where_pos(spark, path, "id = 9")
        got = M.load_manifest_table(spark, path)
        assert got.count() == 97
        assert got.filter("id IN (7, 8, 9)").count() == 0
        # A copy-on-write DML on top reads through BOTH delete kinds, so
        # the rewrite can't resurrect anything.
        M.delete_where(spark, path, "id BETWEEN 0 AND 24")
        got = M.load_manifest_table(spark, path)
        assert got.count() == 75 and got.agg(F.min("id")).first()[0] == 25
        # Vacuum keeps live DV files (they are part of the read view).
        M.vacuum(path, retain_versions=1, min_age_seconds=0)
        assert M.load_manifest_table(spark, path).count() == 75

    def test_restore_times_travel_over_dv(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "dv3")
        v0 = M.current_version(path)
        M.delete_where_pos(spark, path, "id < 10")
        v1 = M.current_version(path)
        assert M.load_manifest_table(spark, path, v0).count() == 100
        assert M.load_manifest_table(spark, path, v1).count() == 90
        M.restore(path, v0)
        assert M.load_manifest_table(spark, path).count() == 100

    def test_update_where_pos_mor(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "dvu")
        files0 = set(M.read_manifest(path)["files"])
        M.delete_where_pos(spark, path, "id < 10")
        ndv, nup = M.update_where_pos(
            spark, path, "id % 10 = 5", {"score": "score + 100"}
        )
        assert (ndv, nup) == (1, 9)  # id=5 already deleted MoR
        # Old data files all survive untouched; only appends were added.
        assert files0 <= set(M.read_manifest(path)["files"])
        got = M.load_manifest_table(spark, path)
        assert got.count() == 90
        assert got.filter("score >= 100").count() == 9
        assert got.filter("id = 5").count() == 0  # not resurrected
        assert got.filter("id = 15").count() == 1  # old copy invisible
        # Materialize folds DV + appends into a clean table.
        M.materialize_deletes(spark, path)
        got = M.load_manifest_table(spark, path)
        assert got.count() == 90 and got.filter("score >= 100").count() == 9
        assert not M.read_manifest(path).get("deletes")

    def test_update_where_pos_validates(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "dvv")
        with pytest.raises(M.SchemaMismatch):
            M.update_where_pos(spark, path, "id = 1", {"nope": "1"})
        assert M.update_where_pos(spark, path, "id > 900", {"score": "0"}) == (0, 0)


class TestMergeInto:
    @staticmethod
    def _mk(spark, tmp_path, name):
        df = spark.range(100).selectExpr("id", "CAST(id % 7 AS DOUBLE) AS score")
        path = str(tmp_path / name)
        write_range_sorted(df, path, "id", 4)
        M.manifest_init(path, stat_cols=["id"])
        return path

    def test_three_clause_merge(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "mrg")
        src = spark.range(90, 110).selectExpr(
            "id", "CAST(1000 + id AS DOUBLE) AS score"
        )
        res = M.merge_into(
            spark, path, src, "id",
            when_matched_update={"score": "s.score"},
            matched_condition="t.id % 2 = 0",
            when_matched_delete="t.id >= 95 AND t.id < 98",
        )
        assert res == {
            "updated": 4, "deleted": 3, "inserted": 10,
            "files_rewritten": 1,  # stats prune: only the 75-99 file
            "nms_updated": 0, "nms_deleted": 0,
        }
        t = M.load_manifest_table(spark, path)
        assert t.count() == 107
        assert t.filter("score >= 1000").count() == 14
        assert t.filter("id IN (95, 96, 97)").count() == 0
        assert t.filter("id = 91").first()["score"] == 0.0  # odd: untouched

    def test_duplicate_source_raises(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "mrgdup")
        src = spark.range(2).selectExpr("id", "CAST(0 AS DOUBLE) AS score")
        with pytest.raises(ValueError, match="multiple rows per key"):
            M.merge_into(spark, path, src.unionAll(src), "id")

    def test_null_keyed_source_rows_are_not_duplicates(self, spark, tmp_path):
        """r11 self-review (the false-refusal mirror of the r10 NULL-key
        data-loss class): ambiguity means a TARGET row could match >1
        source row, and a NULL key can never match anything under the
        equality ON clause — so SEVERAL NULL-keyed source rows in one
        batch are legal (Delta semantics): all of them INSERT, none
        matches, and the dup pre-check must not fire."""
        path = self._mk(spark, tmp_path, "mrgnull")
        before = M.load_manifest_table(spark, path).count()
        src = spark.createDataFrame(
            [(None, 1.5), (None, 2.5), (5, 9.0)], "id long, score double"
        )
        res = M.merge_into(
            spark, path, src, "id",
            when_matched_update={"score": "s.score"},
        )
        assert res["updated"] == 1 and res["inserted"] == 2
        t = M.load_manifest_table(spark, path)
        assert t.count() == before + 2
        assert t.filter(F.col("id").isNull()).count() == 2
        assert t.filter("id = 5").first()["score"] == 9.0
        # genuinely duplicated NON-null keys still refuse, even when
        # NULL-keyed rows ride along in the same batch
        dup = spark.createDataFrame(
            [(None, 0.0), (7, 1.0), (7, 2.0)], "id long, score double"
        )
        with pytest.raises(ValueError, match="multiple rows per key"):
            M.merge_into(spark, path, dup, "id")

    def test_insert_only_and_no_insert(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "mrgio")
        src = spark.range(200, 205).selectExpr(
            "id", "CAST(5 AS DOUBLE) AS score"
        )
        res = M.merge_into(spark, path, src, "id")
        assert res["inserted"] == 5 and res["files_rewritten"] == 0
        assert M.load_manifest_table(spark, path).count() == 105
        # update-only merge: unmatched source rows are ignored
        src2 = spark.range(203, 208).selectExpr(
            "id", "CAST(9 AS DOUBLE) AS score"
        )
        res2 = M.merge_into(
            spark, path, src2, "id",
            when_matched_update={"score": "s.score"},
            when_not_matched_insert=False,
        )
        assert res2["updated"] == 2 and res2["inserted"] == 0
        t = M.load_manifest_table(spark, path)
        assert t.count() == 105
        assert t.filter("score = 9").count() == 2

    def test_merge_respects_mor_deletes(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "mrgmor")
        M.delete_where_pos(spark, path, "id = 50")
        src = spark.range(50, 51).selectExpr(
            "id", "CAST(777 AS DOUBLE) AS score"
        )
        res = M.merge_into(
            spark, path, src, "id",
            when_matched_update={"score": "s.score"},
        )
        # the MoR-deleted row is NOT matched — the key re-inserts
        assert res["updated"] == 0 and res["inserted"] == 1
        t = M.load_manifest_table(spark, path)
        assert t.filter("id = 50").count() == 1
        assert t.filter("id = 50").first()["score"] == 777.0


class TestCloneTable:
    def _src(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from pspcz_analyzer_spark import manifest as M

        src = str(tmp_path / "src")
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).coalesce(2).write.parquet(src)
        M.manifest_init(src, stat_cols=["k"])
        M.append(
            spark.range(100, 150).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ),
            src,
        )
        M.delete_keys_mor(spark, src, "k", [5, 7])  # equality MoR entry
        M.delete_where_pos(spark, src, "k = 11")  # positional DV entry
        return src

    def test_shallow_clone_reads_equal_and_zero_copy(self, spark, tmp_path):
        import os

        from pspcz_analyzer_spark import manifest as M

        src = self._src(spark, tmp_path)
        dst = str(tmp_path / "shallow")
        v = M.clone_table(src, dst, shallow=True)
        assert v == 1
        a = sorted(r.k for r in M.load_manifest_table(spark, src).collect())
        b = sorted(r.k for r in M.load_manifest_table(spark, dst).collect())
        assert a == b and 5 not in b and 11 not in b
        # zero-copy: no data files in the clone dir, only metadata.
        assert not [f for f in os.listdir(dst) if f.endswith(".parquet")]

    def test_deep_clone_self_contained(self, spark, tmp_path):
        import shutil

        from pspcz_analyzer_spark import manifest as M

        src = self._src(spark, tmp_path)
        dst = str(tmp_path / "deep")
        M.clone_table(src, dst, shallow=False)
        before = sorted(
            r.k for r in M.load_manifest_table(spark, dst).collect()
        )
        shutil.rmtree(src)  # deep clone must survive source deletion
        after = sorted(r.k for r in M.load_manifest_table(spark, dst).collect())
        assert before == after and 5 not in after

    def test_writes_are_independent_both_directions(self, spark, tmp_path):
        from pspcz_analyzer_spark import manifest as M

        src = self._src(spark, tmp_path)
        dst = str(tmp_path / "branch")
        M.clone_table(src, dst)
        base = sorted(r.k for r in M.load_manifest_table(spark, src).collect())
        # Clone-side DML: predicate victims must resolve through the
        # ABSOLUTE references (basename matching) and only drop refs,
        # never touch source bytes.
        nf, nd = M.delete_where(spark, dst, "k >= 140")
        assert nf > 0 and nd == 10
        assert M.load_manifest_table(spark, dst).count() == len(base) - 10
        assert (
            sorted(r.k for r in M.load_manifest_table(spark, src).collect())
            == base
        )
        # Source-side append: invisible to the clone.
        M.append(spark.createDataFrame([(900, 1)], "k long, v long"), src)
        assert 900 not in {
            r.k for r in M.load_manifest_table(spark, dst).collect()
        }

    def test_carried_mor_deletes_dont_suppress_clone_appends(
        self, spark, tmp_path
    ):
        from pspcz_analyzer_spark import manifest as M

        src = self._src(spark, tmp_path)
        dst = str(tmp_path / "reinsert")
        M.clone_table(src, dst)
        # Key 7 was deleted merge-on-read in the SOURCE history; the
        # carried entry (seq remapped <= 0) must not suppress a NEW row
        # (clone file seq >= 2).
        M.append(spark.createDataFrame([(7, 777)], "k long, v long"), dst)
        rows = {
            r.k: r.v for r in M.load_manifest_table(spark, dst).collect()
        }
        assert rows.get(7) == 777
        # ...while the carried entry still applies to carried files:
        assert 5 not in rows

    def test_clone_vacuum_never_reaches_source(self, spark, tmp_path):
        from pspcz_analyzer_spark import manifest as M

        src = self._src(spark, tmp_path)
        dst = str(tmp_path / "vac")
        M.clone_table(src, dst)
        M.delete_where(spark, dst, "k < 50")  # drops refs to source files
        M.vacuum(dst, min_age_seconds=0)
        # Source still reads completely after the clone vacuumed.
        assert M.load_manifest_table(spark, src).count() == 147

    def test_clone_of_vacuumed_version_raises(self, spark, tmp_path):
        import pytest as _pytest

        from pspcz_analyzer_spark import manifest as M

        src = self._src(spark, tmp_path)
        dst = str(tmp_path / "gone")
        M.delete_where(spark, src, "k < 100")  # rewrites low files
        M.vacuum(src, min_age_seconds=0)
        with _pytest.raises(FileNotFoundError):
            M.clone_table(src, dst, version=2)  # pre-rewrite version

    def test_clone_onto_existing_table_raises(self, spark, tmp_path):
        import pytest as _pytest

        from pspcz_analyzer_spark import manifest as M

        src = self._src(spark, tmp_path)
        with _pytest.raises(ValueError):
            M.clone_table(src, src)


class TestNullCountStats:
    def _table(self, spark, tmp_path):
        from pspcz_analyzer_spark import manifest as M

        p = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, 10), (2, 20)], "k long, v long"
        ).coalesce(1).write.parquet(p)
        M.manifest_init(p, stat_cols=["v"])
        M.append(
            spark.createDataFrame([(3, 30), (4, None)], "k long, v long")
            .coalesce(1),
            p,
        )
        M.append(
            spark.createDataFrame([(5, None), (6, None)], "k long, v long")
            .coalesce(1),
            p,
        )
        return p

    def test_is_null_skips_null_free_files(self, spark, tmp_path):
        from pspcz_analyzer_spark import manifest as M

        p = self._table(spark, tmp_path)
        kept, total = M.prune_files_null(
            M.read_manifest(p), "v", want_null=True
        )
        assert total == 3 and len(kept) == 2  # the no-null file skipped
        rows = sorted(
            r.k for r in M.scan_auto(spark, p, nulls={"v": True}).collect()
        )
        assert rows == [4, 5, 6]

    def test_is_not_null_skips_all_null_files(self, spark, tmp_path):
        from pspcz_analyzer_spark import manifest as M

        p = self._table(spark, tmp_path)
        kept, total = M.prune_files_null(
            M.read_manifest(p), "v", want_null=False
        )
        assert total == 3 and len(kept) == 2  # the all-null file skipped
        rows = sorted(
            r.k
            for r in M.scan_auto(spark, p, nulls={"v": False}).collect()
        )
        assert rows == [1, 2, 3]

    def test_all_null_file_still_conservative_for_range(self, spark, tmp_path):
        # The all-null file has no min/max: range pruning must KEEP it
        # (blind but safe) while null pruning skips it exactly.
        from pspcz_analyzer_spark import manifest as M

        p = self._table(spark, tmp_path)
        kept, total = M.prune_files_multi(M.read_manifest(p), {"v": (25, 35)})
        assert total == 3 and len(kept) == 2

    def test_two_element_legacy_entries_read_as_untracked(
        self, spark, tmp_path
    ):
        import json, os

        from pspcz_analyzer_spark import manifest as M

        p = self._table(spark, tmp_path)
        # Rewrite the manifest's stats to pre-round-6 [min, max] pairs.
        v = M.current_version(p)
        mpath = os.path.join(p, "_manifest", f"{v:08d}.json")
        doc = json.loads(open(mpath).read())
        doc.pop("crc", None)  # hand-edited legacy blob: unchecked form
        doc["stats"] = {
            f: {c: (s[:2] if s else None) for c, s in cols.items()}
            for f, cols in doc["stats"].items()
        }
        open(mpath, "w").write(json.dumps(doc))
        kept, total = M.prune_files_null(
            M.read_manifest(p), "v", want_null=True
        )
        assert len(kept) == total == 3  # untracked -> conservative
        kept, _ = M.prune_files_multi(M.read_manifest(p), {"v": (25, 35)})
        assert len(kept) == 2  # range pruning unaffected


class TestFingerprint:
    def test_invariant_to_order_layout_and_projection_order(self, spark):
        from pspcz_analyzer_spark.operators.validate import fingerprint_table

        rows = [(i, f"s{i % 7}", float(i) / 3) for i in range(500)]
        a = spark.createDataFrame(rows, "k long, s string, v double")
        b = (
            spark.createDataFrame(list(reversed(rows)), "k long, s string, v double")
            .repartition(13)
            .select("v", "k", "s")  # different column order
        )
        fa = fingerprint_table(a).collect()[0]
        fb = fingerprint_table(b).collect()[0]
        assert (fa["n_rows"], fa["checksum"]) == (fb["n_rows"], fb["checksum"])

    def test_detects_single_row_and_null_vs_empty(self, spark):
        from pspcz_analyzer_spark.operators.validate import (
            fingerprint_table,
            tables_equal,
        )

        a = spark.createDataFrame([(1, "x"), (2, "y")], "k long, s string")
        b = spark.createDataFrame([(1, "x"), (2, "z")], "k long, s string")
        assert not tables_equal(a, b)
        n = spark.createDataFrame([(1, None)], "k long, s string")
        e = spark.createDataFrame([(1, "")], "k long, s string")
        assert (
            fingerprint_table(n).collect()[0]["checksum"]
            != fingerprint_table(e).collect()[0]["checksum"]
        )

    def test_clone_and_restore_preserve_fingerprint(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from pspcz_analyzer_spark import manifest as M
        from pspcz_analyzer_spark.operators.validate import tables_equal

        src = str(tmp_path / "src")
        spark.range(300).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        ).coalesce(2).write.parquet(src)
        M.manifest_init(src, stat_cols=["k"])
        pinned = M.current_version(src)
        dst = str(tmp_path / "cl")
        M.clone_table(src, dst)
        assert tables_equal(
            M.load_manifest_table(spark, src),
            M.load_manifest_table(spark, dst),
        )
        M.delete_where(spark, src, "k < 100")
        assert not tables_equal(
            M.load_manifest_table(spark, src),
            M.load_manifest_table(spark, dst),
        )
        M.restore(src, pinned)
        assert tables_equal(
            M.load_manifest_table(spark, src),
            M.load_manifest_table(spark, dst),
        )


class TestProtocolVersioning:
    def test_reader_version_tracks_features(self, spark, tmp_path):
        from pspcz_analyzer_spark import manifest as M

        p = str(tmp_path / "t")
        spark.createDataFrame([(1, 10)], "k long, v long").coalesce(
            1
        ).write.parquet(p)
        M.manifest_init(p)
        assert M.read_manifest(p)["protocol"]["reader"] == 1
        M.delete_keys_mor(spark, p, "k", [99])  # no-op match, adds entry
        assert M.read_manifest(p)["protocol"]["reader"] == 2
        # Folding the deletes drops the requirement back to 1.
        M.materialize_deletes(spark, p)
        assert M.read_manifest(p)["protocol"]["reader"] == 1

    def test_future_reader_version_refused(self, spark, tmp_path):
        import json, os

        import pytest as _pytest

        from pspcz_analyzer_spark import manifest as M

        p = str(tmp_path / "t")
        spark.createDataFrame([(1,)], "k long").coalesce(1).write.parquet(p)
        M.manifest_init(p)
        mpath = os.path.join(p, "_manifest", "00000001.json")
        doc = json.loads(open(mpath).read())
        doc.pop("crc", None)  # hand-edited legacy blob: unchecked form
        doc["protocol"] = {"reader": 99}
        open(mpath, "w").write(json.dumps(doc))
        with _pytest.raises(RuntimeError, match="reader version 99"):
            M.load_manifest_table(spark, p)

    def test_writer_version_tracks_write_invariants(self, spark, tmp_path):
        from pspcz_analyzer_spark import manifest as M

        p = str(tmp_path / "wt")
        spark.createDataFrame([(1, 10)], "k long, v long").coalesce(
            1
        ).write.parquet(p)
        M.manifest_init(p)
        assert M.read_manifest(p)["protocol"]["writer"] == 1
        M.set_constraint(spark, p, "v_pos", "v > 0")
        assert M.read_manifest(p)["protocol"]["writer"] == 2
        M.drop_constraint(p, "v_pos")
        assert M.read_manifest(p)["protocol"]["writer"] == 1
        M.add_identity_column(p, "uid")
        assert M.read_manifest(p)["protocol"]["writer"] == 2

    def test_future_writer_version_blocks_commits_not_reads(
        self, spark, tmp_path
    ):
        import json, os

        import pytest as _pytest

        from pspcz_analyzer_spark import manifest as M

        p = str(tmp_path / "wf")
        spark.createDataFrame([(1,), (2,)], "k long").coalesce(
            1
        ).write.parquet(p)
        M.manifest_init(p)
        mpath = os.path.join(p, "_manifest", "00000001.json")
        doc = json.loads(open(mpath).read())
        doc.pop("crc", None)  # hand-edited legacy blob: unchecked form
        doc["protocol"] = {"reader": 1, "writer": 99}
        open(mpath, "w").write(json.dumps(doc))
        # Reads never gate on the writer version...
        assert M.load_manifest_table(spark, p).count() == 2
        # ...but every commit path refuses before touching anything.
        with _pytest.raises(RuntimeError, match="writer version 99"):
            M.append(spark.createDataFrame([(3,)], "k long"), p)
        with _pytest.raises(RuntimeError, match="writer version 99"):
            M.delete_keys(spark, p, "k", [1])
        assert M.current_version(p) == 1  # nothing committed

    def test_pre_protocol_manifests_read_as_version_1(self, spark, tmp_path):
        import json, os

        from pspcz_analyzer_spark import manifest as M

        p = str(tmp_path / "t")
        spark.createDataFrame([(1,), (2,)], "k long").coalesce(
            1
        ).write.parquet(p)
        M.manifest_init(p)
        mpath = os.path.join(p, "_manifest", "00000001.json")
        doc = json.loads(open(mpath).read())
        doc.pop("crc", None)  # hand-edited legacy blob: unchecked form
        del doc["protocol"]
        open(mpath, "w").write(json.dumps(doc))
        assert M.load_manifest_table(spark, p).count() == 2


class TestDiffBuckets:
    def test_identical_tables_all_match(self, spark):
        from pspcz_analyzer_spark.operators.validate import diff_buckets

        df = spark.createDataFrame(
            [(i, f"s{i % 5}") for i in range(400)], "k long, s string"
        )
        out = diff_buckets(df, df, "k", n_buckets=32).collect()
        assert all(r["match"] for r in out)
        assert sum(r["n_rows_a"] for r in out) == 400

    def test_localizes_divergence_to_the_right_buckets(self, spark):
        import hashlib

        from pspcz_analyzer_spark.operators.validate import diff_buckets

        rows = [(i, f"s{i % 5}") for i in range(400)]
        a = spark.createDataFrame(rows, "k long, s string")
        removed = [7, 123]
        mutated = 200  # value change, same key/count
        b_rows = [
            (k, "MUTATED" if k == mutated else s)
            for k, s in rows
            if k not in removed
        ]
        b = spark.createDataFrame(b_rows, "k long, s string")
        out = {r["bucket"]: r for r in diff_buckets(a, b, "k", 32).collect()}

        def bucket_of(k):
            return int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % 32

        expect_bad = {bucket_of(k) for k in removed + [mutated]}
        bad = {bkt for bkt, r in out.items() if not r["match"]}
        assert bad == expect_bad
        # Count mismatches only where rows were REMOVED; the mutation
        # bucket diverges by checksum with equal counts.
        mut_b = bucket_of(mutated)
        if mut_b not in {bucket_of(k) for k in removed}:
            assert out[mut_b]["n_rows_a"] == out[mut_b]["n_rows_b"]

    def test_empty_side_surfaces_as_count_mismatch(self, spark):
        from pspcz_analyzer_spark.operators.validate import diff_buckets

        a = spark.createDataFrame([(1, "x")], "k long, s string")
        b = spark.createDataFrame([], "k long, s string")
        [r] = diff_buckets(a, b, "k", 8).collect()
        assert not r["match"] and r["n_rows_b"] == 0 and r["n_rows_a"] == 1


class TestCheckExpectations:
    def test_one_row_per_rule_with_thresholds(self, spark):
        import pyspark.sql.functions as F

        from pspcz_analyzer_spark.operators.validate import check_expectations

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "c"), (-4, "d")], "k long, s string"
        )
        out = {
            r["rule"]: r
            for r in check_expectations(
                df,
                {
                    "k_positive": (F.col("k") > 0, 1.0),
                    "s_not_null": (F.col("s").isNotNull(), 0.7),
                },
            ).collect()
        }
        kp = out["k_positive"]
        assert (kp["n_rows"], kp["n_pass"], kp["passed"]) == (4, 3, False)
        sn = out["s_not_null"]
        assert (sn["n_pass"], sn["pass_fraction"], sn["passed"]) == (
            3,
            0.75,
            True,
        )

    def test_null_predicate_counts_as_failure(self, spark):
        import pyspark.sql.functions as F

        from pspcz_analyzer_spark.operators.validate import check_expectations

        # length(NULL) is NULL — must count against the rule, not pass it.
        df = spark.createDataFrame([("x",), (None,)], "s string")
        [r] = check_expectations(
            df, {"len_ok": (F.length("s") >= 1, 1.0)}
        ).collect()
        assert (r["n_pass"], r["passed"]) == (1, False)

    def test_empty_table_passes_vacuously(self, spark):
        import pyspark.sql.functions as F

        from pspcz_analyzer_spark.operators.validate import check_expectations

        df = spark.createDataFrame([], "k long")
        [r] = check_expectations(df, {"pos": (F.col("k") > 0, 1.0)}).collect()
        assert r["n_rows"] == 0 and r["passed"]


class TestRestoreTagAndSchemaDiff:
    def test_restore_tag_by_name(self, spark, tmp_path):
        from pspcz_analyzer_spark import manifest as M

        p = str(tmp_path / "t")
        spark.createDataFrame([(1,), (2,)], "k long").coalesce(1).write.parquet(p)
        M.manifest_init(p)
        M.create_tag(p, "golden")
        M.append(spark.createDataFrame([(3,)], "k long"), p)
        assert M.load_manifest_table(spark, p).count() == 3
        M.restore_tag(p, "golden")
        assert sorted(r.k for r in M.load_manifest_table(spark, p).collect()) == [1, 2]

    def test_schema_diff_distinguishes_rename_from_add_remove(
        self, spark, tmp_path
    ):
        from pspcz_analyzer_spark import manifest as M

        p = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, "x", 2.0)], "k long, s string, v double"
        ).coalesce(1).write.parquet(p)
        M.manifest_init(p)
        v1 = M.current_version(p)
        M.rename_column(p, "s", "label")
        M.add_column(p, "extra", "int")
        v2 = M.current_version(p)
        d = M.schema_diff(p, v1, v2)
        assert d["renamed"] == {"s": "label"}
        assert d["added"] == [["extra", "int"]]
        assert d["removed"] == [] and d["retyped"] == {}

    def test_schema_diff_same_version_empty(self, spark, tmp_path):
        from pspcz_analyzer_spark import manifest as M

        p = str(tmp_path / "t")
        spark.createDataFrame([(1,)], "k long").coalesce(1).write.parquet(p)
        M.manifest_init(p)
        d = M.schema_diff(p, 1, 1)
        assert d == {"added": [], "removed": [], "renamed": {}, "retyped": {}}


class TestDistributedDmlPlanning:
    """Above DML_COLLECT_KEY_LIMIT distinct source keys, upsert / MERGE /
    SCD2 must never materialize anything source-sized on the driver:
    victims come from a range join of the distinct keys against the
    broadcast per-file [min,max] stats frame, and the purge/clause joins
    run as ordinary (AQE-sized) joins instead of isin / broadcast.
    Verified by forcing the limit to a tiny value and spying every
    driver collect — the largest allowed result is bounded by the FILE
    count, not the key count."""

    def _mk(self, spark, tmp_path, name, n=2_000, files=8):
        df = spark.range(n).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 50).alias("user_id"),
        )
        path = str(tmp_path / name)
        write_range_sorted(df, path, "event_id", num_partitions=files)
        M.manifest_init(path, stat_cols=["event_id"])
        return path

    def _spy_collects(self, monkeypatch):
        # PySpark 4: pyspark.sql.DataFrame is the abstract parent; the
        # concrete classic DataFrame overrides collect — patch that one.
        from pyspark.sql.classic.dataframe import DataFrame as _DF

        sizes: list[int] = []
        real = _DF.collect

        def spy(df):
            rows = real(df)
            sizes.append(len(rows))
            return rows

        monkeypatch.setattr(_DF, "collect", spy)
        return sizes

    def test_upsert_large_source_never_collects_keys(
        self, spark, tmp_path, monkeypatch
    ):
        path = self._mk(spark, tmp_path, "bigup")
        monkeypatch.setattr(M, "DML_COLLECT_KEY_LIMIT", 8)
        sizes = self._spy_collects(monkeypatch)
        # 300 distinct keys >> limit of 8: large path must engage.
        batch = spark.range(300).select(
            (F.col("id") * 4).alias("event_id"),
            F.lit(777).cast("long").alias("user_id"),
        )
        M.upsert(spark, batch, path, "event_id")
        n_files = len(M.read_manifest(path)["files"])
        assert sizes, "expected at least the victim-file collect"
        assert max(sizes) <= max(n_files, 8 + 1), (
            f"a driver collect returned {max(sizes)} rows — source-sized "
            "materialization on the large path"
        )
        now = M.load_manifest_table(spark, path)
        assert now.count() == 2_000  # every batch key existed
        assert now.filter(F.col("user_id") == 777).count() == 300

    def test_upsert_large_source_still_prunes_by_stats(
        self, spark, tmp_path, monkeypatch
    ):
        path = self._mk(spark, tmp_path, "bigprune")
        before = M.read_manifest(path)["files"]
        monkeypatch.setattr(M, "DML_COLLECT_KEY_LIMIT", 4)
        # 50 keys, all inside the FIRST file's range-sorted key span.
        batch = spark.range(50).select(
            F.col("id").alias("event_id"), F.lit(888).cast("long").alias("user_id")
        )
        M.upsert(spark, batch, path, "event_id")
        after = set(M.read_manifest(path)["files"])
        survivors = [f for f in before if f in after]
        assert len(survivors) >= len(before) - 2, (
            "stats range join failed to prune untouched files"
        )
        now = M.load_manifest_table(spark, path)
        assert now.filter(F.col("user_id") == 888).count() == 50
        assert now.count() == 2_000

    def test_isin_literal_cap_routes_to_join_with_same_results(
        self, spark, tmp_path, monkeypatch
    ):
        """Round-8 measurement (tools/measure_isin_knee.py): the literal
        In AST costs ~0.5 ms/literal to BUILD (51 s at the old 100k cap)
        while the anti/semi join is flat <1 s — above ISIN_LITERAL_LIMIT
        every key-membership expression must be a join, with identical
        results and CDF rows."""
        results = {}
        for label, lim in (("isin", 10**6), ("join", 3)):
            path = self._mk(spark, tmp_path, f"cap_{label}")
            M.enable_cdf(path)
            v0 = M.current_version(path)
            monkeypatch.setattr(M, "ISIN_LITERAL_LIMIT", lim)
            nf, nd = M.delete_keys(spark, path, "event_id", list(range(40)))
            rows = sorted(
                tuple(r)
                for r in M.load_manifest_table(spark, path).collect()
            )
            feed = sorted(
                tuple(r) for r in M.read_changes(spark, path, v0).collect()
            )
            results[label] = (nf, nd, rows, feed)
        assert results["isin"] == results["join"]
        assert results["join"][1] == 40

    def test_materialize_oversized_eqdelete_never_collects_keys(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE r07 watch item: materialize_deletes' stats-intersection
        check pulled WHOLE equality-delete key files driver-side
        (key_cache) — fine for right-to-be-forgotten sizes, unbounded for
        mass equality-deletes. Above MOR_STATS_KEY_LIMIT the same check
        must run as a range join collecting only file names."""
        path = self._mk(spark, tmp_path, "bigeqdel")
        # 500 keys, all within the first two range-sorted files' spans.
        M.delete_keys_mor(spark, path, "event_id", list(range(500)))
        monkeypatch.setattr(M, "MOR_STATS_KEY_LIMIT", 8)
        sizes = self._spy_collects(monkeypatch)
        n_files = len(M.read_manifest(path)["files"])
        nf, ne = M.materialize_deletes(spark, path)
        assert ne == 1 and 1 <= nf <= 3  # stats still prune victims
        assert sizes, "expected the names-only range-join collect"
        assert max(sizes) <= n_files, (
            f"a driver collect returned {max(sizes)} rows — key-sized "
            "materialization on the large path"
        )
        t = M.load_manifest_table(spark, path)
        assert t.count() == 1_500
        assert t.filter(F.col("event_id") < 500).count() == 0
        # and the entries are gone (idempotent second run)
        assert M.materialize_deletes(spark, path) == (0, 0)

    def test_merge_into_large_source_matches_small_path(
        self, spark, tmp_path, monkeypatch
    ):
        src = spark.range(400).select(
            (F.col("id") * 5).alias("event_id"),
            F.lit(555).cast("long").alias("user_id"),
        )
        results = {}
        for label, lim in (("small", 10**6), ("large", 8)):
            path = self._mk(spark, tmp_path, f"mrg_{label}")
            monkeypatch.setattr(M, "DML_COLLECT_KEY_LIMIT", lim)
            res = M.merge_into(
                spark, path, src, "event_id",
                when_matched_update={"user_id": "s.user_id"},
                when_matched_delete="t.event_id % 10 = 0",
            )
            rows = sorted(
                tuple(r)
                for r in M.load_manifest_table(spark, path).collect()
            )
            results[label] = (res, rows)
        assert results["small"] == results["large"]
        res, _ = results["large"]
        assert res["deleted"] == 200 and res["updated"] == 200

    def test_merge_into_noop_commits_nothing(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "mrgnoop")
        v0 = M.current_version(path)
        # Source keys all beyond the table's range; inserts disabled:
        # every clause vacuous -> no version churn.
        src = spark.range(5).select(
            (F.col("id") + 1_000_000).alias("event_id"),
            F.lit(1).cast("long").alias("user_id"),
        )
        res = M.merge_into(
            spark, path, src, "event_id",
            when_matched_update={"user_id": "s.user_id"},
            when_not_matched_insert=False,
        )
        assert res == {
            "updated": 0, "deleted": 0, "inserted": 0,
            "files_rewritten": 0, "nms_updated": 0, "nms_deleted": 0,
        }
        assert M.current_version(path) == v0

    def test_merge_into_all_clauses_empty_commits_nothing(
        self, spark, tmp_path
    ):
        """Candidate files exist (stats over-approximate) but no row
        matches and nothing inserts -> still no new version."""
        path = self._mk(spark, tmp_path, "mrgvac")
        v0 = M.current_version(path)
        # Keys inside file ranges but on odd offsets that DON'T exist:
        # event_ids are 0..1999 (all exist!), so pick existing keys but a
        # matched_condition that never fires and inserts that can't occur.
        src = spark.range(5).select(
            F.col("id").alias("event_id"), F.lit(9).cast("long").alias("user_id")
        )
        res = M.merge_into(
            spark, path, src, "event_id",
            when_matched_update={"user_id": "s.user_id"},
            matched_condition="t.event_id < 0",
        )
        assert res["updated"] == 0 and res["files_rewritten"] == 0
        assert M.current_version(path) == v0

    def test_scd2_large_batch_matches_small_path(
        self, spark, tmp_path, monkeypatch
    ):
        import datetime as dt

        day1 = dt.date(2024, 1, 1)
        day2 = dt.date(2024, 6, 1)
        init_rows = [(k, f"addr{k}", day1) for k in range(300)]
        batch_rows = (
            [(k, f"moved{k}", day2) for k in range(0, 300, 3)]  # changed
            + [(k, f"new{k}", day2) for k in range(300, 320)]   # new keys
        )
        snaps = {}
        for label, lim in (("small", 10**6), ("large", 8)):
            path = str(tmp_path / f"scd2_{label}")
            init = spark.createDataFrame(
                init_rows, "cust long, addr string, eff date"
            ).repartition(4)
            M.scd2_init(spark, init, path, "cust", "eff")
            monkeypatch.setattr(M, "DML_COLLECT_KEY_LIMIT", lim)
            batch = spark.createDataFrame(
                batch_rows, "cust long, addr string, eff date"
            )
            changed, new = M.scd2_merge(
                spark, batch, path, "cust", ["addr"], "eff"
            )
            assert (changed, new) == (100, 20)
            snaps[label] = sorted(
                tuple(r)
                for r in M.load_manifest_table(spark, path).collect()
            )
        assert snaps["small"] == snaps["large"]


class TestRestoreAfterRename:
    """restore() must roll the COLUMN MAPPING back with the schema — a
    stale current-version colmap carried onto a restored pre-rename
    schema would route the old logical name at a nonexistent (or wrong)
    physical column: a misread, not just a missing feature."""

    def _mk(self, spark, tmp_path):
        path = str(tmp_path / "ren")
        spark.createDataFrame(
            [(1, 10), (2, 20)], "k long, a long"
        ).coalesce(1).write.parquet(path)
        M.manifest_init(path)
        return path

    def test_restore_past_rename_drops_stale_colmap(self, spark, tmp_path):
        path = self._mk(spark, tmp_path)
        v1 = M.current_version(path)
        M.rename_column(path, "a", "b")
        assert M.read_manifest(path).get("colmap") == {"b": "a"}
        M.restore(path, v1)
        m = M.read_manifest(path)
        assert not m.get("colmap"), (
            "current colmap leaked onto the restored pre-rename schema"
        )
        t = M.load_manifest_table(spark, path)
        assert t.columns == ["k", "a"]
        assert sorted(r["a"] for r in t.collect()) == [10, 20]

    def test_add_column_after_restore_does_not_alias_old_data(
        self, spark, tmp_path
    ):
        path = self._mk(spark, tmp_path)
        v1 = M.current_version(path)
        M.rename_column(path, "a", "b")
        M.restore(path, v1)
        # Re-adding 'b' post-restore creates a FRESH column; with the
        # stale {b: a} mapping it would silently read column a's data.
        M.add_column(path, "b", "long")
        t = M.load_manifest_table(spark, path)
        assert set(t.columns) == {"k", "a", "b"}
        assert [r["b"] for r in t.collect()] == [None, None]

    def test_restore_to_post_rename_version_keeps_colmap(
        self, spark, tmp_path
    ):
        path = self._mk(spark, tmp_path)
        M.rename_column(path, "a", "b")
        v2 = M.current_version(path)
        M.rename_column(path, "b", "c")
        M.restore(path, v2)
        m = M.read_manifest(path)
        assert m.get("colmap") == {"b": "a"}
        t = M.load_manifest_table(spark, path)
        assert t.columns == ["k", "b"]
        assert sorted(r["b"] for r in t.collect()) == [10, 20]


def test_delete_where_counts_only_alive_rows(spark, tmp_path):
    """rows_deleted must not bill rows already dead under pending
    merge-on-read delete entries (they were never alive to delete)."""
    path = str(tmp_path / "delw_alive")
    spark.range(100).select(F.col("id").alias("k")).coalesce(
        2
    ).write.parquet(path)
    M.manifest_init(path)
    M.delete_where_pos(spark, path, "k < 10")  # 10 rows dead, MoR only
    nf, deleted = M.delete_where(spark, path, "k < 20")
    assert deleted == 10, (
        f"billed {deleted} deletions but only 10 matching rows were alive"
    )
    assert M.load_manifest_table(spark, path).count() == 80


class TestMergeIntoParity:
    """Round-7 parity gaps: composite join keys and Delta 2.4's
    WHEN NOT MATCHED BY SOURCE clauses."""

    def _mk(self, spark, tmp_path, name):
        path = str(tmp_path / name)
        spark.range(100).selectExpr(
            "CAST(id % 10 AS LONG) AS g",
            "CAST(id AS LONG) AS k",
            "CAST(0 AS DOUBLE) AS score",
        ).coalesce(2).write.parquet(path)
        M.manifest_init(path, stat_cols=["g"])
        return path

    def test_composite_key_merge(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "ck")
        src = spark.range(95, 105).selectExpr(
            "CAST(id % 10 AS LONG) AS g",
            "CAST(id AS LONG) AS k",
            "CAST(500 AS DOUBLE) AS score",
        )
        res = M.merge_into(
            spark, path, src, ["g", "k"],
            when_matched_update={"score": "s.score"},
        )
        assert res["updated"] == 5 and res["inserted"] == 5
        t = M.load_manifest_table(spark, path)
        assert t.count() == 105
        assert t.filter("score = 500").count() == 10
        # composite ambiguity: same g, different k is NOT a dup...
        okdup = spark.createDataFrame(
            [(1, 1, 9.0), (1, 11, 9.0)], "g long, k long, score double"
        )
        M.merge_into(spark, path, okdup, ["g", "k"],
                     when_matched_update={"score": "s.score"})
        # ...but a true composite dup raises.
        bad = spark.createDataFrame(
            [(1, 1, 9.0), (1, 1, 8.0)], "g long, k long, score double"
        )
        with pytest.raises(ValueError, match="multiple rows per key"):
            M.merge_into(spark, path, bad, ["g", "k"])

    def test_not_matched_by_source_delete(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "nmsdel")
        # Source holds keys 0..49 only; BY SOURCE DELETE culls the rest.
        src = spark.range(50).selectExpr(
            "CAST(id % 10 AS LONG) AS g",
            "CAST(id AS LONG) AS k",
            "CAST(1 AS DOUBLE) AS score",
        )
        res = M.merge_into(
            spark, path, src, "k",
            when_matched_update={"score": "s.score"},
            when_not_matched_insert=False,
            when_not_matched_by_source_delete=True,
        )
        assert res["updated"] == 50 and res["nms_deleted"] == 50
        t = M.load_manifest_table(spark, path)
        assert t.count() == 50
        assert t.agg(F.min("k"), F.max("k")).first() == (0, 49)
        assert t.filter("score = 1").count() == 50

    def test_not_matched_by_source_conditional_update(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "nmsupd")
        src = spark.range(30).selectExpr(
            "CAST(id % 10 AS LONG) AS g",
            "CAST(id AS LONG) AS k",
            "CAST(1 AS DOUBLE) AS score",
        )
        res = M.merge_into(
            spark, path, src, "k",
            when_not_matched_insert=False,
            when_not_matched_by_source_delete="t.k >= 90",
            when_not_matched_by_source_update={"score": "t.score - 1"},
        )
        # 100 target rows: 30 matched (no matched clause -> untouched),
        # 10 (k>=90) deleted by source, 60 updated by source.
        assert res["updated"] == 0 and res["deleted"] == 0
        assert res["nms_deleted"] == 10 and res["nms_updated"] == 60
        t = M.load_manifest_table(spark, path)
        assert t.count() == 90
        assert t.filter("score = -1").count() == 60
        assert t.filter("score = 0").count() == 30

    def test_by_source_clause_defeats_file_prune(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "nmsfull")
        before = set(M.read_manifest(path)["files"])
        src = spark.createDataFrame([(0, 0, 5.0)], "g long, k long, score double")
        res = M.merge_into(
            spark, path, src, "k",
            when_matched_update={"score": "s.score"},
            when_not_matched_insert=False,
            when_not_matched_by_source_update={"score": "t.score + 10"},
        )
        assert res["files_rewritten"] == len(before)
        t = M.load_manifest_table(spark, path)
        assert t.filter("score = 5").count() == 1
        assert t.filter("score = 10").count() == 99


class TestChangeDataFeed:
    """Row-level change feed (Delta enableChangeDataFeed/table_changes in
    minimal form): DML commits record _change_type rows under _changes/,
    appends synthesize inserts from the sequence map, data-neutral
    commits record an explicitly empty set, and unrepresentable commit
    types raise instead of guessing."""

    def _mk(self, spark, tmp_path, name):
        path = str(tmp_path / name)
        spark.range(100).selectExpr(
            "id AS k", "CAST(id % 7 AS DOUBLE) AS v"
        ).coalesce(2).write.parquet(path)
        M.manifest_init(path, stat_cols=["k"])
        M.enable_cdf(path)
        return path

    def test_append_synthesizes_inserts(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "cdf_app")
        v0 = M.current_version(path)
        M.append(
            spark.range(100, 110).selectExpr(
                "id AS k", "CAST(1 AS DOUBLE) AS v"
            ),
            path,
        )
        ch = M.read_changes(spark, path, v0).collect()
        assert len(ch) == 10
        assert {r["_change_type"] for r in ch} == {"insert"}
        assert {r["k"] for r in ch} == set(range(100, 110))
        assert {r["_commit_version"] for r in ch} == {v0 + 1}

    def test_delete_and_update_where_feed(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "cdf_dml")
        v0 = M.current_version(path)
        M.delete_where(spark, path, "k < 10")
        M.update_where(spark, path, "k >= 95", {"v": "v + 100"})
        ch = M.read_changes(spark, path, v0)
        by_type = {
            r["_change_type"]: r["n"]
            for r in ch.groupBy("_change_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        assert by_type == {
            "delete": 10, "update_preimage": 5, "update_postimage": 5
        }
        post = {
            r["k"]: r["v"]
            for r in ch.filter("_change_type = 'update_postimage'").collect()
        }
        assert post == {k: (k % 7) + 100.0 for k in range(95, 100)}
        # versions attribute correctly
        assert ch.filter("_change_type = 'delete'").select(
            "_commit_version"
        ).distinct().collect()[0][0] == v0 + 1

    def test_merge_feed_covers_all_clauses(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "cdf_mrg")
        v0 = M.current_version(path)
        src = spark.range(90, 105).selectExpr(
            "id AS k", "CAST(500 AS DOUBLE) AS v"
        )
        M.merge_into(
            spark, path, src, "k",
            when_matched_delete="t.k < 93",
            when_matched_update={"v": "s.v"},
            when_not_matched_by_source_update={"v": "t.v + 1000"},
        )
        ch = M.read_changes(spark, path, v0)
        by_type = {
            r["_change_type"]: r["n"]
            for r in ch.groupBy("_change_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        # 90..92 deleted (3), 93..99 updated (7), 100..104 inserted (5),
        # 0..89 not-matched-by-source updated (90 pre + 90 post).
        assert by_type == {
            "delete": 3,
            "update_preimage": 7 + 90,
            "update_postimage": 7 + 90,
            "insert": 5,
        }

    def test_upsert_feed_splits_updates_and_inserts(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "cdf_up")
        v0 = M.current_version(path)
        batch = spark.range(95, 105).selectExpr(
            "id AS k", "CAST(9 AS DOUBLE) AS v"
        )
        M.upsert(spark, batch, path, "k")
        ch = M.read_changes(spark, path, v0)
        by_type = {
            r["_change_type"]: r["n"]
            for r in ch.groupBy("_change_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        assert by_type == {
            "update_preimage": 5, "update_postimage": 5, "insert": 5
        }
        pre = {r["k"] for r in
               ch.filter("_change_type = 'update_preimage'").collect()}
        assert pre == {95, 96, 97, 98, 99}

    def test_compaction_is_change_neutral(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "cdf_cmp")
        v0 = M.current_version(path)
        M.compact_small_files(spark, path, target_bytes=1 << 30)
        assert M.current_version(path) > v0
        assert M.read_changes(spark, path, v0).count() == 0

    def test_positional_dml_records_the_feed(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "cdf_pos")
        v0 = M.current_version(path)
        M.delete_where_pos(spark, path, "k < 5")
        M.update_where_pos(spark, path, "k >= 98", {"v": "v + 50"})
        ch = M.read_changes(spark, path, v0)
        by_type = {
            r["_change_type"]: r["n"]
            for r in ch.groupBy("_change_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        assert by_type == {
            "delete": 5, "update_preimage": 2, "update_postimage": 2
        }
        post = {
            r["k"]: r["v"]
            for r in ch.filter("_change_type = 'update_postimage'").collect()
        }
        assert post == {98: 0.0 + 50, 99: 1.0 + 50}

    def test_delete_keys_records_the_feed(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "cdf_delkeys")
        v0 = M.current_version(path)
        M.delete_keys(spark, path, "k", [1, 2])
        ch = M.read_changes(spark, path, v0).collect()
        assert {(r["_change_type"], r["k"]) for r in ch} == {
            ("delete", 1), ("delete", 2)
        }

    def test_unrepresentable_commit_raises_honestly(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "cdf_raises")
        v0 = M.current_version(path)
        M.delete_keys_mor(spark, path, "k", [1, 2])  # equality MoR: no feed
        with pytest.raises(ValueError, match="does not record a change feed"):
            M.read_changes(spark, path, v0).collect()

    def test_pre_enable_versions_raise(self, spark, tmp_path):
        path = str(tmp_path / "cdf_pre")
        spark.range(10).selectExpr("id AS k").coalesce(1).write.parquet(path)
        M.manifest_init(path)
        M.append(spark.range(10, 12).selectExpr("id AS k"), path)  # v2, pre
        M.enable_cdf(path)  # v3
        with pytest.raises(ValueError, match="not enabled as of version 2"):
            M.read_changes(spark, path, 1).collect()
        # from the enablement version on, the feed works
        M.append(spark.range(12, 15).selectExpr("id AS k"), path)
        assert M.read_changes(spark, path, 3).count() == 3

    def test_vacuum_collects_pruned_change_files(self, spark, tmp_path):
        import os

        path = self._mk(spark, tmp_path, "cdf_vac")
        M.delete_where(spark, path, "k < 10")       # v3: has change files
        M.update_where(spark, path, "k >= 95", {"v": "v + 1"})  # v4
        cdir = os.path.join(path, "_changes")
        n_before = len(os.listdir(cdir))
        assert n_before >= 2
        M.vacuum(path, retain_versions=1, min_age_seconds=0)
        left = set(os.listdir(cdir))
        kept_refs = {
            n.split("/", 1)[1]
            for n in (M.read_manifest(path).get("cdf_files") or [])
        }
        assert left == kept_refs  # only the retained version's files
        # retained version's feed still readable
        assert M.read_changes(spark, path, 3).count() == 10

    def test_restore_rolls_property_back(self, spark, tmp_path):
        path = str(tmp_path / "cdf_rst")
        spark.range(5).selectExpr("id AS k").coalesce(1).write.parquet(path)
        M.manifest_init(path)
        v1 = M.current_version(path)
        M.enable_cdf(path)
        M.restore(path, v1)
        assert not (M.read_manifest(path).get("props") or {}).get("cdf")


class TestReplaceWhere:
    """Delta replaceWhere: predicate-scoped atomic overwrite in one
    version, with the batch-inside-region constraint."""

    def _mk(self, spark, tmp_path, name, cdf=False):
        path = str(tmp_path / name)
        spark.range(100).selectExpr(
            "id AS k", "CAST(id % 3 AS LONG) AS part", "CAST(1 AS DOUBLE) AS v"
        ).coalesce(2).write.parquet(path)
        M.manifest_init(path, stat_cols=["k"])
        if cdf:
            M.enable_cdf(path)
        return path

    def test_replaces_region_atomically(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "rw")
        v0 = M.current_version(path)
        batch = spark.range(1000, 1010).selectExpr(
            "id AS k", "CAST(1 AS LONG) AS part", "CAST(9 AS DOUBLE) AS v"
        )
        deleted, inserted = M.replace_where(spark, batch, path, "part = 1")
        assert (deleted, inserted) == (33, 10)
        assert M.current_version(path) == v0 + 1  # ONE version
        t = M.load_manifest_table(spark, path)
        assert t.count() == 100 - 33 + 10
        assert t.filter("part = 1").count() == 10
        assert t.filter("part = 1 AND v = 9").count() == 10
        # untouched regions bit-identical
        assert t.filter("part = 0").count() == 34

    def test_batch_outside_region_rejected(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "rwbad")
        v0 = M.current_version(path)
        batch = spark.range(5).selectExpr(
            "id AS k", "CAST(2 AS LONG) AS part", "CAST(9 AS DOUBLE) AS v"
        )
        with pytest.raises(M.ConstraintViolation, match="NOT matching"):
            M.replace_where(spark, batch, path, "part = 1")
        assert M.current_version(path) == v0  # nothing committed

    def test_empty_region_still_inserts(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "rwempty")
        batch = spark.range(7).selectExpr(
            "id + 500 AS k", "CAST(7 AS LONG) AS part", "CAST(2 AS DOUBLE) AS v"
        )
        deleted, inserted = M.replace_where(spark, batch, path, "part = 7")
        assert (deleted, inserted) == (0, 7)
        assert M.load_manifest_table(spark, path).count() == 107

    def test_change_feed_records_both_sides(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "rwcdf", cdf=True)
        v0 = M.current_version(path)
        batch = spark.range(3).selectExpr(
            "id + 300 AS k", "CAST(2 AS LONG) AS part", "CAST(5 AS DOUBLE) AS v"
        )
        M.replace_where(spark, batch, path, "part = 2")
        ch = M.read_changes(spark, path, v0)
        by_type = {
            r["_change_type"]: r["n"]
            for r in ch.groupBy("_change_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        assert by_type == {"delete": 33, "insert": 3}


class TestRowTracking:
    """Row tracking (Delta row lineage): stable _row_id per row — fresh
    rows metadata-only (file base + row index), survivors carried across
    rewrites via a materialized __row_id column that wins per row."""

    def _ids(self, spark, path):
        return {
            r["k"]: r["_row_id"]
            for r in M.load_manifest_table(
                spark, path, with_row_ids=True
            ).collect()
        }

    def _mk(self, spark, tmp_path, name):
        path = str(tmp_path / name)
        spark.range(100).selectExpr(
            "id AS k", "CAST(id % 5 AS DOUBLE) AS v"
        ).coalesce(2).write.parquet(path)
        M.manifest_init(path, stat_cols=["k"])
        M.enable_row_tracking(path)
        return path

    def test_ids_unique_and_appends_extend(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "rt")
        ids = self._ids(spark, path)
        assert len(ids) == 100 and len(set(ids.values())) == 100
        M.append(
            spark.range(100, 120).selectExpr(
                "id AS k", "CAST(0 AS DOUBLE) AS v"
            ),
            path,
        )
        ids2 = self._ids(spark, path)
        assert len(set(ids2.values())) == 120
        # existing rows kept their ids; new rows got fresh ones
        assert all(ids2[k] == ids[k] for k in ids)
        assert min(ids2[k] for k in range(100, 120)) > max(ids.values())

    def test_delete_preserves_survivor_ids(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "rtdel")
        ids = self._ids(spark, path)
        M.delete_where(spark, path, "k % 3 = 0")
        ids2 = self._ids(spark, path)
        assert set(ids2) == {k for k in range(100) if k % 3 != 0}
        assert all(ids2[k] == ids[k] for k in ids2)

    def test_update_preserves_identity(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "rtupd")
        ids = self._ids(spark, path)
        M.update_where(spark, path, "k < 50", {"v": "v + 100"})
        ids2 = self._ids(spark, path)
        assert ids2 == ids  # every row, updated or not, keeps its id
        t = M.load_manifest_table(spark, path, with_row_ids=True)
        assert t.filter("v >= 100").count() == 50

    def test_compaction_and_optimize_preserve_ids(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "rtcmp")
        ids = self._ids(spark, path)
        M.compact_small_files(spark, path, target_bytes=1 << 30)
        assert self._ids(spark, path) == ids
        M.optimize_zorder(spark, path, ["k", "v"], num_partitions=4)
        assert self._ids(spark, path) == ids

    def test_merge_keeps_updated_ids_fresh_insert_ids(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "rtmrg")
        ids = self._ids(spark, path)
        src = spark.range(90, 110).selectExpr(
            "id AS k", "CAST(7 AS DOUBLE) AS v"
        )
        M.merge_into(
            spark, path, src, "k",
            when_matched_delete="t.k < 93",
            when_matched_update={"v": "s.v"},
        )
        ids2 = self._ids(spark, path)
        # deleted ids gone, updated keep identity, inserts fresh + unique
        assert set(ids2) == (set(range(100)) - {90, 91, 92}) | set(
            range(100, 110)
        )
        assert all(ids2[k] == ids[k] for k in range(93, 100))
        assert all(ids2[k] == ids[k] for k in range(0, 90))
        fresh = {ids2[k] for k in range(100, 110)}
        assert len(fresh) == 10 and fresh.isdisjoint(set(ids.values()))

    def test_restore_restores_id_map(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "rtrst")
        ids = self._ids(spark, path)
        v = M.current_version(path)
        M.delete_where(spark, path, "k < 50")
        M.restore(path, v)
        assert self._ids(spark, path) == ids

    def test_requires_enablement(self, spark, tmp_path):
        path = str(tmp_path / "rtoff")
        spark.range(5).selectExpr("id AS k").coalesce(1).write.parquet(path)
        M.manifest_init(path)
        with pytest.raises(ValueError, match="row tracking is not enabled"):
            M.load_manifest_table(spark, path, with_row_ids=True)


class TestCdcLifecycleWaves:
    """Round-8 composed lifecycle (SCALING.md "Round-8 lifecycle"): a
    standing table with liquid clustering + bloom + CDF properties takes
    daily WAP waves (stage -> audit -> publish -> maintain) and the
    maintenance invariants hold wave over wave: the version blob stays
    O(files) (bloom SIDECARS, not inline bitsets), compaction outputs
    stamped at the clustering watermark are NOT re-clustered next tick,
    and vacuum collects unreferenced sidecars but keeps referenced ones."""

    def _mk(self, spark, tmp_path):
        path = str(tmp_path / "cdc_waves")
        spark.range(40_000).select(
            F.col("id").alias("event_id"),
            ((F.col("id") * 7919) % 10_000).alias("user_id"),
        ).repartition(4).write.parquet(path)
        M.manifest_init(path, stat_cols=["user_id"])
        M.optimize_clustered(spark, path, ["user_id"], num_partitions=4)
        M.ensure_blooms(spark, path, "event_id")
        M.enable_cdf(path)
        return path

    def test_waves_flat_invariants(self, spark, tmp_path):
        import os as _os

        path = self._mk(spark, tmp_path)
        fs, rel = M.get_fs(path)
        blob_kb = []
        for day in range(3):
            lo = 1_000_000 + day * 20_000
            wave = spark.range(lo, lo + 20_000).select(
                F.col("id").alias("event_id"),
                ((F.col("id") * 104729) % 10_000).alias("user_id"),
            ).repartition(2)
            ref = f"day{day}"
            before = M.load_manifest_table(spark, path).count()
            M.stage_append(wave, path, ref)
            # staged batch invisible to readers, visible to the audit view
            assert M.load_manifest_table(spark, path).count() == before
            assert M.load_staged(spark, path, ref).count() == before + 20_000
            M.publish_staged(spark, path, ref)
            out = M.maintain(
                spark, path, retain_versions=3, vacuum_min_age_seconds=0
            )
            assert out["clustered_incremental"] == 2  # the wave's files only
            assert out["blooms_backfilled"] == 1
            m = M.read_manifest(path)
            blob = _os.path.join(
                M._manifest_dir(rel), f"{m['version']:08d}.json"
            )
            blob_kb.append(fs.size(blob) / 1024)
            # inline bitsets would be ~100+ KB at these row counts; the
            # sidecar design keeps the blob metadata-sized
            assert blob_kb[-1] < 32, f"version blob grew: {blob_kb}"
            assert M.load_manifest_table(spark, path).count() == (
                40_000 + (day + 1) * 20_000
            )
        # blooms still prune point lookups through the sidecars
        may, total = M.prune_files_bloom(
            path, M.read_manifest(path), "event_id", 1_000_005
        )
        assert 0 < len(may) < total
        m = M.read_manifest(path)
        assert all(
            "b64" not in spec and spec.get("sidecar")
            for cols in m["blooms"].values()
            for spec in cols.values()
        )

    def test_compaction_outputs_not_reclustered_next_tick(
        self, spark, tmp_path
    ):
        path = self._mk(spark, tmp_path)
        # many small already-clustered files: force a compaction
        for i in range(3):
            lo = 2_000_000 + i * 5_000
            M.append(
                spark.range(lo, lo + 5_000).select(
                    F.col("id").alias("event_id"),
                    ((F.col("id") * 31) % 10_000).alias("user_id"),
                ).repartition(2),
                path,
            )
            M.optimize_clustered(spark, path, ["user_id"], min_files=1)
        wm = int(M.read_manifest(path)["props"]["cluster_watermark"])
        merged, written = M.compact_small_files(
            spark, path, target_bytes=512 * 1024 * 1024
        )
        assert merged >= 2 and written >= 1
        m = M.read_manifest(path)
        seq = m.get("seq") or {}
        new_files = [f for f in m["files"] if "compact" in f]
        assert new_files and all(int(seq[f]) <= wm for f in new_files), (
            "compaction outputs must stamp at the clustering watermark"
        )
        out = M.maintain(spark, path, vacuum_min_age_seconds=0)
        assert out["clustered_incremental"] == 0, (
            "already-clustered compaction outputs were re-clustered"
        )
        assert M.load_manifest_table(spark, path).count() == 55_000

    def test_vacuum_collects_only_unreferenced_sidecars(
        self, spark, tmp_path
    ):
        import os as _os

        path = self._mk(spark, tmp_path)
        fs, rel = M.get_fs(path)
        bdir = _os.path.join(rel, M.BLOOM_DIR)
        n0 = len(fs.listdir(bdir))
        assert n0 >= 1
        # orphan sidecar: referenced by NO manifest -> collected
        fs.create_exclusive(
            _os.path.join(bdir, "bl-orphan.json"), b"{}"
        )
        M.vacuum(path, retain_versions=1, min_age_seconds=0)
        left = set(fs.listdir(bdir))
        assert "bl-orphan.json" not in left
        m = M.read_manifest(path)
        referenced = {
            _os.path.basename(spec["sidecar"])
            for cols in m["blooms"].values()
            for spec in cols.values()
        }
        assert referenced <= left
        # the surviving sidecars still serve probes
        may, total = M.prune_files_bloom(
            path, M.read_manifest(path), "event_id", 7
        )
        assert 0 < len(may) <= total


class TestConvertHiveDirectory:
    """convert_to_manifest (round-8): adopt a hive-partitioned directory
    in place — Delta's CONVERT TO DELTA / Iceberg migrate. Partition
    values live in directory tokens; reads restore them per file, DML
    rewrites materialize them, vacuum reaches into the subdirs."""

    @staticmethod
    def _mk_hive(spark, tmp_path, name="hive_src", nulls=False):
        path = str(tmp_path / name)
        df = spark.range(300).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("day"),
            (F.col("id") % 2 == 0).cast("string").alias("src"),
        )
        if nulls:
            df = df.withColumn(
                "day", F.when(F.col("k") < 30, None).otherwise(F.col("day"))
            )
        df.write.partitionBy("day", "src").parquet(path)
        return path

    def test_adopts_in_place_and_restores_values(self, spark, tmp_path):
        path = self._mk_hive(spark, tmp_path)
        v = M.convert_to_manifest(path)
        assert v == 1
        m = M.read_manifest(path)
        # partitionBy writers reuse part-task names across dirs: the
        # adopted names must be table-wide basename-unique
        bases = [os.path.basename(f) for f in m["files"]]
        assert len(bases) == len(set(bases))
        assert all(os.path.dirname(f) for f in m["files"])  # in subdirs
        assert m["specs"] == [["day", "src"]]
        t = M.load_manifest_table(spark, path)
        assert t.count() == 300
        # values restored per file from directory tokens, typed
        assert dict(t.dtypes)["day"] == "bigint"
        assert dict(t.dtypes)["src"] == "string"
        got = {
            (r["day"], r["src"]): r["n"]
            for r in t.groupBy("day", "src").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        assert got[(0, "true")] == 50 and got[(1, "false")] == 50
        # per-row parity with Spark's own hive reader
        want = {
            tuple(r)
            for r in spark.read.parquet(path).select("k", "day", "src").collect()
        }
        assert {tuple(r) for r in t.select("k", "day", "src").collect()} == want

    def test_partition_pruning_from_adopted_tokens(self, spark, tmp_path):
        path = self._mk_hive(spark, tmp_path)
        M.convert_to_manifest(path)
        may, total = M.prune_files_partition(
            M.read_manifest(path), {"day": 1, "src": "true"}
        )
        assert 0 < len(may) < total
        rows = M._read_files(
            spark, path, M.read_manifest(path), may
        ).filter((F.col("day") == 1) & (F.col("src") == "true"))
        assert rows.count() == 50  # ids ≡ 1 (mod 3) and ≡ 0 (mod 2): 50 of 300

    def test_null_partition_token_reads_as_null(self, spark, tmp_path):
        path = self._mk_hive(spark, tmp_path, name="hive_nulls", nulls=True)
        M.convert_to_manifest(path)
        t = M.load_manifest_table(spark, path)
        assert t.filter(F.col("day").isNull()).count() == 30
        assert t.count() == 300

    def test_partition_schema_override_beats_inference(self, spark, tmp_path):
        path = self._mk_hive(spark, tmp_path, name="hive_typed")
        M.convert_to_manifest(path, partition_schema={"day": "string"})
        t = M.load_manifest_table(spark, path)
        assert dict(t.dtypes)["day"] == "string"
        assert t.filter(F.col("day") == "2").count() == 100

    def test_dml_and_vacuum_reach_into_subdirs(self, spark, tmp_path):
        path = self._mk_hive(spark, tmp_path, name="hive_dml")
        M.convert_to_manifest(path)
        files0 = set(M.read_manifest(path)["files"])
        M.delete_where(spark, path, "day = 1 AND k < 100")
        t = M.load_manifest_table(spark, path)
        assert t.count() == 300 - 33  # ids 1,4,...,97: 33 rows
        # the rewrite materialized the partition cols into real bytes
        assert t.filter(F.col("day") == 1).count() == 100 - 33
        replaced = files0 - set(M.read_manifest(path)["files"])
        assert replaced and all(os.path.dirname(f) for f in replaced)
        n = M.vacuum(path, retain_versions=1, min_age_seconds=0)
        assert n >= len(replaced)
        for f in replaced:
            assert not os.path.exists(os.path.join(path, f))
        assert M.load_manifest_table(spark, path).count() == 267

    def test_append_after_adoption_follows_the_spec(self, spark, tmp_path):
        path = self._mk_hive(spark, tmp_path, name="hive_app")
        M.convert_to_manifest(path)
        M.append(
            spark.createDataFrame(
                [(1000, 7, "new"), (1001, 7, "new")],
                "k long, day bigint, src string",
            ),
            path,
        )
        t = M.load_manifest_table(spark, path)
        assert t.count() == 302
        assert t.filter(F.col("day") == 7).count() == 2
        may, _total = M.prune_files_partition(
            M.read_manifest(path), {"day": 7}
        )
        assert len(may) == 1  # the new file, laid out per the spec

    def test_flat_directory_degrades_to_manifest_init(self, spark, tmp_path):
        path = str(tmp_path / "flat_conv")
        spark.range(20).selectExpr("id AS k").coalesce(2).write.parquet(path)
        M.convert_to_manifest(path, stat_cols=["k"])
        m = M.read_manifest(path)
        assert not m.get("specs") and not m.get("partitions")
        assert not (m.get("props") or {}).get("pfill")
        assert m.get("stats")
        assert M.load_manifest_table(spark, path).count() == 20


class TestBloomsOverMetadataServedColumns:
    """Round-8 correctness corner: blooms built from RAW bytes are
    all-zero for columns the manifest serves from metadata (hive
    partition fill, initial defaults, identity) — a conservative skip
    silently becomes FALSE NEGATIVES on exactly those point lookups.
    ensure_blooms must read through the logical schema."""

    def test_bloom_on_hive_fill_column_never_false_negative(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "bl_fill")
        spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") % 4).alias("day")
        ).write.partitionBy("day").parquet(path)
        M.convert_to_manifest(path)
        M.ensure_blooms(spark, path, "day")
        # every day value exists; its file(s) must survive the bloom
        for v in range(4):
            may, total = M.prune_files_bloom(
                path, M.read_manifest(path), "day", v
            )
            assert may, f"false negative: day={v} pruned everywhere"
            got = M.scan_auto(spark, path, eq={"day": v}).count()
            assert got == 50
        # and a missing value still prunes (the bloom is not vacuous)
        may, total = M.prune_files_bloom(
            path, M.read_manifest(path), "day", 999
        )
        assert len(may) < total

    def test_bloom_on_initial_default_column(self, spark, tmp_path):
        path = str(tmp_path / "bl_def")
        spark.range(50).selectExpr("id AS k").coalesce(1).write.parquet(path)
        M.manifest_init(path)
        M.add_column(path, "src", "string", initial_default="'legacy'")
        M.ensure_blooms(spark, path, "src")
        # the default value is metadata-served for the pre-existing file
        may, _total = M.prune_files_bloom(
            path, M.read_manifest(path), "src", "legacy"
        )
        assert may, "false negative on the initial-default value"
        assert M.scan_auto(spark, path, eq={"src": "legacy"}).count() == 50


class TestAdoptedTableLifecycle:
    """Hive-adopted tables must be full citizens of every lifecycle op:
    key-addressed DML, compaction (per-partition groups), bloom policy,
    and the append-only CDF all run through the partition fill."""

    @staticmethod
    def _mk(spark, tmp_path, name):
        path = str(tmp_path / name)
        spark.range(240).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("day"),
            (F.col("id") * 2.0).alias("v"),
        ).repartition(2).write.partitionBy("day").parquet(path)
        M.convert_to_manifest(path, stat_cols=["k"])
        return path

    def test_upsert_by_key_crosses_partitions(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "adopt_up")
        batch = spark.createDataFrame(
            [(5, 1, 999.0), (1000, 9, 1.0)], "k long, day bigint, v double"
        )
        M.upsert(spark, batch, path, "k")
        t = M.load_manifest_table(spark, path)
        assert t.count() == 241
        assert t.filter(F.col("k") == 5).first()["v"] == 999.0
        # untouched rows still read their directory-token day values
        assert t.filter(F.col("day").isNull()).count() == 0
        assert t.filter((F.col("k") == 6) & (F.col("day") == 2)).count() == 1

    def test_maintain_compacts_within_partitions_and_blooms(
        self, spark, tmp_path
    ):
        path = self._mk(spark, tmp_path, "adopt_maint")
        M.ensure_blooms(spark, path, "day")
        out = M.maintain(
            spark,
            path,
            target_bytes=64 * 1024 * 1024,
            max_small_files=3,
            vacuum_min_age_seconds=0,
        )
        assert out["compacted"] >= 4
        m = M.read_manifest(path)
        # compaction grouped by the recorded partition tuple: every
        # output carries its day value and pruning still works
        may, total = M.prune_files_partition(M.read_manifest(path), {"day": 2})
        assert 0 < len(may) < total
        t = M.load_manifest_table(spark, path)
        assert t.count() == 240
        assert t.filter(F.col("day") == 2).count() == 60
        got = M.scan_auto(spark, path, eq={"day": 3}).count()
        assert got == 60

    def test_append_only_cdf_fills_partition_values(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "adopt_cdf")
        M.enable_cdf(path)
        v0 = M.current_version(path)
        M.append(
            spark.createDataFrame(
                [(2000, 5, 0.0)], "k long, day bigint, v double"
            ),
            path,
        )
        feed = M.read_changes(spark, path, v0)
        assert feed.count() == 1
        assert feed.first()["day"] == 5


def test_zorder_on_adopted_table_materializes_and_keeps_values(
    spark, tmp_path
):
    """A full re-layout of a hive-adopted table writes flat files with
    the partition columns as real bytes (the fill's coalesce takes the
    physical value from then on) and pruning moves from tokens to
    stats."""
    path = str(tmp_path / "adopt_zorder")
    spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("day")
    ).write.partitionBy("day").parquet(path)
    M.convert_to_manifest(path, stat_cols=["k"])
    M.optimize_zorder(spark, path, ["day", "k"])
    m = M.read_manifest(path)
    assert all(not os.path.dirname(f) for f in m["files"])  # flat now
    t = M.load_manifest_table(spark, path)
    assert t.count() == 200
    assert t.filter(F.col("day") == 3).count() == 50
    assert t.filter(F.col("day").isNull()).count() == 0
    # stats recomputed from the new footers include the materialized col
    may, total = M.prune_files_multi(M.read_manifest(path), {"day": (3, 3)})
    assert 0 < len(may) <= total


def test_convert_handles_escaped_partition_tokens(spark, tmp_path):
    """Hive dir names %-escape special characters ('=', '/', '%', ':');
    convert_to_manifest must unquote them so the restored values (and
    token pruning through _transform_value's re-encoding) match the
    original data exactly."""
    path = str(tmp_path / "hive_escaped")
    vals = ["a=b", "x/y", "50%", "plain", "sp ace"]
    spark.createDataFrame(
        [(i, vals[i % len(vals)]) for i in range(100)], "k long, tag string"
    ).write.partitionBy("tag").parquet(path)
    M.convert_to_manifest(path)
    t = M.load_manifest_table(spark, path)
    got = {r["tag"] for r in t.select("tag").distinct().collect()}
    assert got == set(vals)
    assert t.filter(F.col("tag") == "a=b").count() == 20
    # parity with Spark's own hive reader, row for row
    want = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert {tuple(r) for r in t.select("k", "tag").collect()} == want


class TestScanAuto:
    """scan_auto composes partition tokens + stats + blooms into one
    planned scan and must equal the unplanned filter row-for-row on
    every table shape (the conservative-skip contract end-to-end)."""

    def test_composes_all_sources_on_adopted_table(self, spark, tmp_path):
        path = str(tmp_path / "auto_hive")
        spark.range(2_000).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("day"),
            ((F.col("id") * 7) % 100).alias("u"),
        ).repartition(2).write.partitionBy("day").parquet(path)
        M.convert_to_manifest(path, stat_cols=["k"])
        M.ensure_blooms(spark, path, "u")
        got = M.scan_auto(
            spark, path, eq={"day": 2, "u": 14}, ranges={"k": (100, 1500)}
        )
        want = (
            M.load_manifest_table(spark, path)
            .filter(
                (F.col("day") == 2)
                & (F.col("u") == 14)
                & F.col("k").between(100, 1500)
            )
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
        assert got.count() > 0

    def test_planned_file_set_is_proper_subset(self, spark, tmp_path):
        path = str(tmp_path / "auto_prune")
        df = spark.range(4_000).select(
            F.col("id").alias("k"), ((F.col("id") * 13) % 50).alias("u")
        )
        write_range_sorted(df, path, "k", num_partitions=8)
        M.manifest_init(path, stat_cols=["k"])
        M.ensure_blooms(spark, path, "u")
        # range hits ~2 of 8 range-sorted files; bloom may trim further
        got = M.scan_auto(spark, path, eq={"u": 26}, ranges={"k": (0, 999)})
        n_scanned = len(
            [
                s
                for s in got._jdf.queryExecution().executedPlan()
                .toString().splitlines()
                if "Scan parquet" in s
            ]
        )
        assert got.count() == sum(
            1 for i in range(1000) if (i * 13) % 50 == 26
        )
        assert n_scanned >= 1  # plan sanity; the real subset check:
        may_stats, total = M.prune_files_multi(
            M.read_manifest(path), {"k": (0, 999)}
        )
        assert 0 < len(may_stats) < total

    def test_contradictory_eq_and_range_returns_empty(self, spark, tmp_path):
        path = str(tmp_path / "auto_contra")
        spark.range(100).selectExpr("id AS k").coalesce(1).write.parquet(path)
        M.manifest_init(path, stat_cols=["k"])
        out = M.scan_auto(
            spark, path, eq={"k": 5}, ranges={"k": (50, 60)}
        )
        assert out.count() == 0

    def test_mor_deletes_apply_through_the_planned_scan(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "auto_mor")
        spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") % 10).alias("g")
        ).coalesce(2).write.parquet(path)
        M.manifest_init(path, stat_cols=["k"])
        M.delete_keys_mor(spark, path, "k", [7, 17, 27])
        out = M.scan_auto(spark, path, eq={"g": 7}, ranges={"k": (0, 100)})
        ks = sorted(r["k"] for r in out.collect())
        assert ks == [k for k in range(0, 101) if k % 10 == 7 and k not in (7, 17, 27)]


class TestTwoLevelManifests:
    """Above MANIFEST_SEGMENT_THRESHOLD files the version blob stores
    per-file maps as references to immutable SEGMENT blobs (Iceberg's
    manifest-list design in minimal form): commits write O(delta)
    segment bytes, unchanged segments carry by name, every reader sees
    the flat v1 shape through read_manifest's expansion, and vacuum
    collects segments of pruned versions."""

    @pytest.fixture(autouse=True)
    def _low_threshold(self, monkeypatch):
        monkeypatch.setattr(M, "MANIFEST_SEGMENT_THRESHOLD", 4)
        monkeypatch.setattr(M, "SEGMENT_TARGET_FILES", 3)

    @staticmethod
    def _raw(path, v):
        import json as _json

        return _json.loads(
            open(os.path.join(path, "_manifest", f"{v:08d}.json")).read()
        )

    def _mk(self, spark, tmp_path, name, n=1200, files=6):
        df = spark.range(n).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("g")
        )
        path = str(tmp_path / name)
        write_range_sorted(df, path, "k", num_partitions=files)
        M.manifest_init(path, stat_cols=["k"])
        return path

    def test_blob_is_two_level_and_readers_see_flat(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "seg_basic")
        raw = self._raw(path, 1)
        assert "segments" in raw and "files" not in raw
        assert raw["protocol"]["reader"] == 3
        assert raw["n_files"] == 6 and len(raw["segments"]) == 2
        m = M.read_manifest(path)
        assert len(m["files"]) == 6 and len(m["stats"]) == 6
        assert M.load_manifest_table(spark, path).count() == 1200

    def test_append_writes_one_segment_and_reuses_the_rest(
        self, spark, tmp_path
    ):
        path = self._mk(spark, tmp_path, "seg_app")
        segs1 = self._raw(path, 1)["segments"]
        M.append(
            spark.range(2000, 2100).selectExpr("id AS k", "id % 7 AS g")
            .coalesce(1),
            path,
        )
        segs2 = self._raw(path, 2)["segments"]
        assert set(segs1) < set(segs2) and len(segs2) == len(segs1) + 1
        assert M.load_manifest_table(spark, path).count() == 1300

    def test_targeted_dml_rewrites_only_victim_segments(
        self, spark, tmp_path
    ):
        path = self._mk(spark, tmp_path, "seg_dml")
        segs1 = set(self._raw(path, 1)["segments"])
        # range-sorted layout: key 5 lives in exactly ONE file, so only
        # its segment is dirty
        nf, nd = M.delete_keys(spark, path, "k", [5])
        assert nf == 1 and nd == 1
        segs2 = set(self._raw(path, 2)["segments"])
        assert len(segs1 & segs2) == len(segs1) - 1
        assert M.load_manifest_table(spark, path).count() == 1199
        # time travel through segments stays exact
        assert M.load_manifest_table(spark, path, version=1).count() == 1200

    def test_vacuum_collects_unreferenced_segments(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "seg_vac")
        M.delete_keys(spark, path, "k", [5])
        M.append(
            spark.range(3000, 3010).selectExpr("id AS k", "id % 7 AS g")
            .coalesce(1),
            path,
        )
        M.vacuum(path, retain_versions=1, min_age_seconds=0)
        segdir = os.path.join(path, "_manifest", "segments")
        left = set(os.listdir(segdir))
        refd = {
            os.path.basename(s)
            for s in self._raw(path, M.current_version(path))["segments"]
        }
        assert left == refd
        assert M.load_manifest_table(spark, path).count() == 1209

    def test_features_ride_segments(self, spark, tmp_path):
        """MoR deletes, blooms (sidecar pointers), CDF, restore — the
        per-file maps all round-trip through segment blobs."""
        path = self._mk(spark, tmp_path, "seg_feat")
        M.enable_cdf(path)
        M.ensure_blooms(spark, path, "g")
        M.delete_keys_mor(spark, path, "k", [10, 11])
        t = M.load_manifest_table(spark, path)
        assert t.count() == 1198
        may, total = M.prune_files_bloom(path, M.read_manifest(path), "g", 3)
        assert 0 < len(may) <= total
        v = M.current_version(path)
        M.append(
            spark.range(5000, 5005).selectExpr("id AS k", "id % 7 AS g"),
            path,
        )
        assert M.read_changes(spark, path, v).count() == 5
        M.restore(path, v)
        assert M.load_manifest_table(spark, path).count() == 1198

    def test_cached_segment_blobs_stay_json_pure(self, spark, tmp_path):
        """ADVICE r9 (low): the reuse check memoizes each segment's file
        set in a SIDE dict — never injected onto the cached blob — so a
        consumer that re-dumps or key-iterates a cached segment never
        trips over a frozenset."""
        import json as _json

        path = self._mk(spark, tmp_path, "seg_pure")
        # append runs the reuse pass over every cached prev segment
        M.append(
            spark.range(9000, 9050).selectExpr("id AS k", "id % 7 AS g")
            .coalesce(1),
            path,
        )
        assert M._SEGMENT_FILES_MEMO  # memo engaged
        for blob in M._SEGMENT_CACHE.values():
            _json.dumps(blob)  # TypeError if anything non-JSON leaked

    def test_small_tables_stay_flat(self, spark, tmp_path):
        path = str(tmp_path / "seg_flat")
        spark.range(10).selectExpr("id AS k").coalesce(2).write.parquet(path)
        M.manifest_init(path)
        raw = self._raw(path, 1)
        assert "files" in raw and "segments" not in raw
        assert raw["protocol"]["reader"] == 1


def test_segmented_commit_conflict_cleans_fresh_segments(
    spark, tmp_path, monkeypatch
):
    """A segmented commit that loses the version race must remove the
    segment blobs it just wrote (they are referenced by nothing) and
    raise CommitConflict like any commit."""
    monkeypatch.setattr(M, "MANIFEST_SEGMENT_THRESHOLD", 2)
    path = str(tmp_path / "seg_conflict")
    spark.range(100).selectExpr("id AS k").coalesce(3).write.parquet(path)
    M.manifest_init(path)
    segdir = os.path.join(path, "_manifest", "segments")
    n0 = len(os.listdir(segdir))
    # occupy version 2 out from under the contender
    import json as _json

    blob = os.path.join(path, "_manifest", "00000002.json")
    m = M.read_manifest(path)
    with open(blob, "w") as fh:
        fh.write(_json.dumps({
            "version": 2, "files": m["files"], "txns": {},
            "seq": {f: 1 for f in m["files"]}, "ts": 0.0,
            "protocol": {"reader": 1, "writer": 1},
        }))
    # contender drops a file -> its only segment is dirty -> it must
    # WRITE a fresh segment before losing the race
    with pytest.raises(M.CommitConflict):
        M._commit(path, m, m["files"][:2])
    assert len(os.listdir(segdir)) == n0  # loser's segments removed
    # winner's (flat) v2 still reads
    assert M.read_manifest(path, 2)["version"] == 2


def test_maintain_compacts_fragmented_segment_lists(
    spark, tmp_path, monkeypatch
):
    """A standing append loop leaves one tiny segment per commit (the
    O(delta) contract); once the name list is 2x past optimal, maintain()
    re-chunks it metadata-only — and an already-optimal list is left
    alone (no version churn)."""
    monkeypatch.setattr(M, "MANIFEST_SEGMENT_THRESHOLD", 2)
    monkeypatch.setattr(M, "SEGMENT_TARGET_FILES", 8)
    path = str(tmp_path / "seg_maint")
    spark.range(50).selectExpr("id AS k").coalesce(2).write.parquet(path)
    M.manifest_init(path)
    for i in range(6):
        M.append(
            spark.range(100 + i * 10, 110 + i * 10).selectExpr("id AS k")
            .coalesce(1),
            path,
        )
    m = M.read_manifest(path)
    assert len(m["segments"]) == 7  # init + one per append
    out = M.maintain(spark, path, vacuum_min_age_seconds=0)
    assert out["segments_compacted"] > 0
    m2 = M.read_manifest(path)
    assert len(m2["segments"]) == 1  # 8 files / target 8
    assert sorted(m2["files"]) == sorted(m["files"])
    assert M.load_manifest_table(spark, path).count() == 110
    v = M.current_version(path)
    out2 = M.maintain(spark, path, vacuum_min_age_seconds=0)
    assert out2["segments_compacted"] == 0
    assert M.current_version(path) == v  # no churn when optimal


def test_scan_auto_composes_null_pruning(spark, tmp_path):
    """The fourth pruning source: per-file null counts serve IS [NOT]
    NULL conjuncts; eq + IS NULL on one column is a contradiction and
    short-circuits to empty."""
    path = str(tmp_path / "auto_nulls")
    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 100, None).otherwise(F.col("id") % 7).alias("g"),
    )
    # nulls clustered in one file, the rest in three — so null counts can
    # actually prove something per file
    df.filter(F.col("g").isNull()).coalesce(1).write.parquet(path)
    df.filter(F.col("g").isNotNull()).coalesce(3).write.mode(
        "append"
    ).parquet(path)
    M.manifest_init(path, stat_cols=["k", "g"])
    got = M.scan_auto(spark, path, nulls={"g": True}, ranges={"k": (0, 399)})
    want = (
        M.load_manifest_table(spark, path)
        .filter(F.col("g").isNull() & F.col("k").between(0, 399))
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.count() == 100
    # proper file subset through the null counts
    may, total = M.prune_files_null(M.read_manifest(path), "g", True)
    assert 0 < len(may) < total
    # contradiction short-circuits
    assert M.scan_auto(spark, path, eq={"g": 3}, nulls={"g": True}).count() == 0
    # NOT NULL side
    assert M.scan_auto(spark, path, nulls={"g": False}).count() == 300


class TestScanEstimateJoinAuto:
    """scan_estimate / join_strategy / join_auto — the DSv2
    SupportsReportStatistics contract as a library: post-pruning sizes
    from manifest metadata drive the broadcast decision with zero Spark
    actions at plan time."""

    def _tables(self, spark, tmp_path):
        fact = spark.range(6_000).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 40).alias("user_id"),
        )
        dim = spark.range(40).select(
            F.col("id").alias("user_id"),
            F.concat(F.lit("u"), F.col("id")).alias("name"),
        )
        fp, dp = str(tmp_path / "fact"), str(tmp_path / "dim")
        write_range_sorted(fact, fp, "event_id", num_partitions=8)
        M.manifest_init(fp, stat_cols=["event_id"])
        dim.coalesce(1).write.parquet(dp)
        M.manifest_init(dp)
        return fp, dp

    def test_estimate_is_metadata_only_and_prunes(
        self, spark, tmp_path, monkeypatch
    ):
        fp, _dp = self._tables(spark, tmp_path)
        # No SparkSession argument by construction; additionally spy
        # every driver collect — the estimate must trigger none.
        from pyspark.sql.classic.dataframe import DataFrame as _DF

        def boom(df):
            raise AssertionError("scan_estimate ran a Spark action")

        monkeypatch.setattr(_DF, "collect", boom)
        est = M.scan_estimate(fp, ranges={"event_id": (0, 999)})
        assert est["files_total"] == 8
        assert est["files_kept"] < est["files_total"]
        assert est["rows_total_upper"] == 6_000
        # range-sorted on event_id: kept files hold exactly the span
        assert est["rows_kept_upper"] < 6_000
        assert est["bytes_kept"] > 0
        assert est["has_deletes"] is False
        lean = M.scan_estimate(fp, with_bytes=False)
        assert lean["bytes_kept"] is None
        assert lean["files_kept"] == 8

    def test_estimate_rows_are_upper_bounds_under_mor_deletes(
        self, spark, tmp_path
    ):
        fp, _dp = self._tables(spark, tmp_path)
        M.delete_keys_mor(spark, fp, "event_id", list(range(100)))
        est = M.scan_estimate(fp)
        assert est["has_deletes"] is True
        alive = M.load_manifest_table(spark, fp).count()
        assert alive == 5_900
        assert est["rows_kept_upper"] == 6_000  # footer counts: upper bound

    def test_join_strategy_prefers_smaller_qualifying_side(self):
        small = {"bytes_kept": 1_000, "rows_kept_upper": 10}
        big = {"bytes_kept": 100 << 20, "rows_kept_upper": 10_000_000}
        tiny = {"bytes_kept": 500, "rows_kept_upper": 5}
        assert M.join_strategy(big, small) == "broadcast_right"
        assert M.join_strategy(small, big) == "broadcast_left"
        assert M.join_strategy(small, tiny) == "broadcast_right"
        assert M.join_strategy(big, big) == "shuffle"

    def test_join_strategy_respects_outer_build_sides(self):
        small = {"bytes_kept": 1_000, "rows_kept_upper": 10}
        big = {"bytes_kept": 100 << 20, "rows_kept_upper": 10_000_000}
        # LEFT join preserves the left side: only right may build.
        assert M.join_strategy(small, big, how="left") == "shuffle"
        assert M.join_strategy(big, small, how="left") == "broadcast_right"
        assert M.join_strategy(small, big, how="right") == "broadcast_left"
        assert M.join_strategy(small, small, how="full") == "shuffle"

    def test_join_strategy_rows_fallback_when_bytes_unknown(self):
        small = {"bytes_kept": None, "rows_kept_upper": 10}
        big = {"bytes_kept": None, "rows_kept_upper": 10_000_000}
        assert M.join_strategy(small, big) == "shuffle"  # no rows gate set
        assert (
            M.join_strategy(small, big, rows_threshold=1_000)
            == "broadcast_left"
        )

    def test_join_auto_broadcasts_dim_and_matches_plain_join(
        self, spark, tmp_path
    ):
        fp, dp = self._tables(spark, tmp_path)
        choice: dict = {}
        j = M.join_auto(
            spark,
            {"path": fp, "ranges": {"event_id": (0, 999)}},
            dp,
            on="user_id",
            choice_out=choice,
        )
        assert choice["strategy"] == "broadcast_right"
        assert choice["left"]["files_kept"] < choice["left"]["files_total"]
        # The hint must be in the plan Spark sees, not just the dict.
        analyzed = j._jdf.queryExecution().analyzed().toString()
        assert "broadcast" in analyzed.lower()
        expect = (
            M.load_manifest_table(spark, fp)
            .filter(F.col("event_id").between(0, 999))
            .join(M.load_manifest_table(spark, dp), "user_id")
            .count()
        )
        assert j.count() == expect == 1_000

    def test_join_auto_runtime_prunes_fact_files(self, spark, tmp_path):
        # Fused composition (r8 verdict ask #3): one call yields the
        # broadcast choice AND dynamic fact-file pruning by the dim's
        # surviving keys.
        fact = spark.range(8_000).select(
            (F.col("id") % 400).alias("user_id"),
            F.col("id").alias("event_id"),
        )
        dim = spark.range(400).select(
            F.col("id").alias("user_id"),
            F.concat(F.lit("u"), F.col("id")).alias("name"),
        )
        fp, dp = str(tmp_path / "rfact"), str(tmp_path / "rdim")
        write_range_sorted(fact, fp, "user_id", num_partitions=8)
        M.manifest_init(fp, stat_cols=["user_id"])
        dim.coalesce(1).write.parquet(dp)
        M.manifest_init(dp)
        choice: dict = {}
        j = M.join_auto(
            spark,
            fp,
            {"path": dp, "ranges": {"user_id": (0, 49)}},
            on="user_id",
            choice_out=choice,
        )
        assert choice["strategy"] == "broadcast_right"
        rp = choice["runtime_prune"]
        assert rp["side"] == "left"
        assert rp["files_kept"] < rp["files_total"] == 8
        # 20 events per user x 50 surviving users
        assert j.count() == 1_000
        # opt-out keeps planning action-free: no pruning recorded
        choice2: dict = {}
        j2 = M.join_auto(
            spark,
            fp,
            {"path": dp, "ranges": {"user_id": (0, 49)}},
            on="user_id",
            choice_out=choice2,
            runtime_prune=False,
        )
        assert "runtime_prune" not in choice2
        assert j2.count() == 1_000

    def test_join_auto_never_prunes_a_preserved_side(self, spark, tmp_path):
        # LEFT OUTER preserves the fact side: pruning its files would
        # drop live unmatched rows — the planner must refuse silently.
        fact = spark.range(2_000).select(
            (F.col("id") % 100).alias("user_id"),
            F.col("id").alias("event_id"),
        )
        dim = spark.range(100).select(
            F.col("id").alias("user_id"),
            F.concat(F.lit("u"), F.col("id")).alias("name"),
        )
        fp, dp = str(tmp_path / "pfact"), str(tmp_path / "pdim")
        write_range_sorted(fact, fp, "user_id", num_partitions=4)
        M.manifest_init(fp, stat_cols=["user_id"])
        dim.coalesce(1).write.parquet(dp)
        M.manifest_init(dp)
        choice: dict = {}
        j = M.join_auto(
            spark,
            fp,
            {"path": dp, "ranges": {"user_id": (0, 9)}},
            on="user_id",
            how="left",
            choice_out=choice,
        )
        assert choice["strategy"] == "broadcast_right"
        assert "runtime_prune" not in choice
        assert j.count() == 2_000  # every fact row preserved

    def test_join_auto_emits_no_hint_when_nothing_qualifies(
        self, spark, tmp_path
    ):
        fp, dp = self._tables(spark, tmp_path)
        choice: dict = {}
        j = M.join_auto(
            spark, fp, dp, on="user_id", bytes_threshold=1, choice_out=choice
        )
        assert choice["strategy"] == "shuffle"
        analyzed = j._jdf.queryExecution().analyzed().toString()
        assert "unresolvedhint" not in analyzed.lower()
        assert "resolvedhint" not in analyzed.lower()
        assert j.count() == 6_000


class TestStatsAggregate:
    """stats_aggregate — Iceberg's aggregate pushdown as a library:
    COUNT/MIN/MAX answered from the manifest JSON alone, refusing (None)
    whenever metadata cannot answer EXACTLY."""

    def _table(self, spark, tmp_path, with_nulls=True):
        df = spark.range(3_000).select(
            F.col("id").alias("event_id"),
            F.when(F.col("id") % 10 == 0, None)
            .otherwise(F.col("id") % 40)
            .alias("user_id")
            if with_nulls
            else (F.col("id") % 40).alias("user_id"),
            F.concat(F.lit("n"), F.col("id")).alias("note"),
        )
        path = str(tmp_path / "aggtab")
        write_range_sorted(df, path, "event_id", num_partitions=5)
        M.manifest_init(path, stat_cols=["event_id", "user_id", "note"])
        return path

    def test_answers_without_spark(self, spark, tmp_path, monkeypatch):
        path = self._table(spark, tmp_path)
        from pyspark.sql.classic.dataframe import DataFrame as _DF

        def boom(df):
            raise AssertionError("stats_aggregate ran a Spark action")

        monkeypatch.setattr(_DF, "collect", boom)
        got = M.stats_aggregate(
            path,
            {
                "n": ("count",),
                "n_users": ("count", "user_id"),
                "lo": ("min", "event_id"),
                "hi": ("max", "event_id"),
            },
        )
        assert got == {"n": 3_000, "n_users": 2_700, "lo": 0, "hi": 2_999}

    def test_refuses_on_pending_mor_deletes(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        M.delete_keys_mor(spark, path, "event_id", [2_999])
        assert M.stats_aggregate(path, {"hi": ("max", "event_id")}) is None
        # materializing the deletes restores exact metadata answers —
        # and the dead extremum is gone from them
        M.materialize_deletes(spark, path)
        got = M.stats_aggregate(
            path, {"hi": ("max", "event_id"), "n": ("count",)}
        )
        assert got == {"hi": 2_998, "n": 2_999}

    def test_refuses_string_bounds_but_counts_them(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        assert M.stats_aggregate(path, {"x": ("min", "note")}) is None
        got = M.stats_aggregate(path, {"x": ("count", "note")})
        assert got == {"x": 3_000}

    def test_refuses_untracked_and_synthesized_columns(
        self, spark, tmp_path
    ):
        path = self._table(spark, tmp_path)
        assert M.stats_aggregate(path, {"x": ("min", "nope")}) is None
        M.add_column(path, "flagged", "bigint", initial_default="7")
        assert M.stats_aggregate(path, {"x": ("min", "flagged")}) is None
        # other columns still answer on the evolved table
        got = M.stats_aggregate(path, {"lo": ("min", "event_id")})
        assert got == {"lo": 0}

    def test_tracks_dml_and_matches_scan(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        M.delete_where(spark, path, "event_id >= 2500")
        got = M.stats_aggregate(
            path,
            {"n": ("count",), "hi": ("max", "event_id")},
        )
        live = M.load_manifest_table(spark, path)
        assert got["n"] == live.count() == 2_500
        assert got["hi"] == live.agg(F.max("event_id")).first()[0] == 2_499

    def test_all_null_column_min_is_null(self, spark, tmp_path):
        df = spark.range(100).select(
            F.col("id").alias("k"),
            F.lit(None).cast("bigint").alias("v"),
        )
        path = str(tmp_path / "allnull")
        df.coalesce(2).write.parquet(path)
        M.manifest_init(path, stat_cols=["k", "v"])
        got = M.stats_aggregate(
            path, {"lo": ("min", "v"), "nv": ("count", "v")}
        )
        assert got == {"lo": None, "nv": 0}


class TestJoinRuntimePruned:
    """join_runtime_pruned — dynamic file pruning from the dim side's
    join keys (DPP / runtime min-max filtering as a library), sound only
    for fact-filtering joins."""

    def _fact(self, spark, tmp_path):
        df = spark.range(8_000).select(
            F.col("id").alias("user_id"),
            (F.col("id") * 3).alias("score"),
        )
        path = str(tmp_path / "rfact")
        write_range_sorted(df, path, "user_id", num_partitions=8)
        M.manifest_init(path, stat_cols=["user_id"])
        return path

    def test_prunes_and_matches_unpruned_join(self, spark, tmp_path):
        path = self._fact(spark, tmp_path)
        dim = spark.range(100).select(
            (F.col("id") + 700).alias("user_id"),
            F.lit("x").alias("tag"),
        )
        choice: dict = {}
        j = M.join_runtime_pruned(
            spark, path, dim, "user_id", choice_out=choice
        )
        assert choice["files_kept"] < choice["files_total"] == 8
        assert choice["path"] == "collected"
        expect = (
            M.load_manifest_table(spark, path).join(dim, "user_id").count()
        )
        assert j.count() == expect == 100

    def test_large_dim_uses_stats_join_and_bounds_driver(
        self, spark, tmp_path, monkeypatch
    ):
        path = self._fact(spark, tmp_path)
        monkeypatch.setattr(M, "DML_COLLECT_KEY_LIMIT", 16)
        from pyspark.sql.classic.dataframe import DataFrame as _DF

        sizes: list[int] = []
        real = _DF.collect

        def spy(df):
            rows = real(df)
            sizes.append(len(rows))
            return rows

        monkeypatch.setattr(_DF, "collect", spy)
        dim = spark.range(500).select(
            (F.col("id") + 200).alias("user_id"), F.lit(1).alias("w")
        )
        choice: dict = {}
        j = M.join_runtime_pruned(
            spark, path, dim, "user_id", choice_out=choice
        )
        assert choice["path"] == "stats-join"
        assert choice["files_kept"] < 8
        assert max(sizes) <= 17, sizes  # lim+1 probe, then file names
        assert j.count() == 500

    def test_dim_key_rename_and_semi_join(self, spark, tmp_path):
        path = self._fact(spark, tmp_path)
        dim = spark.range(50).select((F.col("id") + 10).alias("cust"))
        j = M.join_runtime_pruned(
            spark, path, dim, "user_id", dim_key="cust", how="left_semi"
        )
        assert j.count() == 50
        assert j.columns == ["user_id", "score"]

    def test_refuses_fact_preserving_joins(self, spark, tmp_path):
        path = self._fact(spark, tmp_path)
        dim = spark.range(5).select(F.col("id").alias("user_id"))
        with pytest.raises(ValueError, match="fact-filtering"):
            M.join_runtime_pruned(spark, path, dim, "user_id", how="left")
        with pytest.raises(ValueError, match="fact-filtering"):
            M.join_runtime_pruned(spark, path, dim, "user_id", how="full")

    def test_respects_mor_deletes(self, spark, tmp_path):
        path = self._fact(spark, tmp_path)
        M.delete_keys_mor(spark, path, "user_id", [701, 702])
        dim = spark.range(10).select((F.col("id") + 700).alias("user_id"))
        j = M.join_runtime_pruned(spark, path, dim, "user_id")
        got = sorted(r["user_id"] for r in j.collect())
        assert got == [700, 703, 704, 705, 706, 707, 708, 709]

    def test_no_matching_keys_returns_empty_with_schema(
        self, spark, tmp_path
    ):
        path = self._fact(spark, tmp_path)
        dim = spark.range(3).select(
            (F.col("id") + 1_000_000).alias("user_id")
        )
        j = M.join_runtime_pruned(spark, path, dim, "user_id")
        assert j.count() == 0
        assert set(j.columns) == {"user_id", "score"}


class TestRefreshAggregateCdf:
    """refresh_aggregate_cdf — incremental MV maintenance over arbitrary
    DML via the row-level change feed (signed-delta view algebra), with
    the refreshed-through version riding the MERGE as a txn watermark."""

    def _base(self, spark, tmp_path):
        df = spark.range(1_000).select(
            F.col("id").alias("k_id"),
            (F.col("id") % 10).alias("grp"),
            (F.col("id") % 7).cast("double").alias("val"),
        )
        path = str(tmp_path / "cdfbase")
        write_range_sorted(df, path, "k_id", num_partitions=4)
        M.manifest_init(path, stat_cols=["k_id", "grp"])
        M.enable_cdf(path)
        return path

    def _expect(self, spark, base):
        rows = (
            M.load_manifest_table(spark, base)
            .groupBy("grp")
            .agg(
                F.sum("val").alias("sum_value"),
                F.count("val").alias("cnt"),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .collect()
        )
        return {r["grp"]: (r["sum_value"], r["cnt"], r["n_rows"]) for r in rows}

    def _got(self, spark, mv):
        rows = M.load_manifest_table(spark, mv).collect()
        return {r["grp"]: (r["sum_value"], r["cnt"], r["n_rows"]) for r in rows}

    def test_tracks_inserts_updates_deletes(self, spark, tmp_path):
        base = self._base(spark, tmp_path)
        mv = str(tmp_path / "mv")
        M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
        assert self._got(spark, mv) == self._expect(spark, base)
        # a wave of every DML flavor the CDF records
        M.append(
            spark.range(50).select(
                (F.col("id") + 1_000).alias("k_id"),
                (F.col("id") % 10).alias("grp"),
                F.lit(2.0).alias("val"),
            ),
            base,
        )
        M.update_where(spark, base, "grp = 3", {"val": "val + 10.0"})
        M.delete_where(spark, base, "grp = 7")
        M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
        assert self._got(spark, mv) == self._expect(spark, base)

    def test_key_leaves_mv_when_all_rows_deleted(self, spark, tmp_path):
        base = self._base(spark, tmp_path)
        mv = str(tmp_path / "mv2")
        M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
        M.delete_where(spark, base, "grp = 4")
        M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
        got = self._got(spark, mv)
        assert 4 not in got
        assert set(got) == set(range(10)) - {4}

    def test_refresh_is_exactly_once(self, spark, tmp_path):
        base = self._base(spark, tmp_path)
        mv = str(tmp_path / "mv3")
        M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
        M.delete_where(spark, base, "grp = 2")
        v1 = M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
        v2 = M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")  # replay
        assert v1 == v2
        assert self._got(spark, mv) == self._expect(spark, base)

    def test_sum_goes_null_when_last_nonnull_value_leaves(
        self, spark, tmp_path
    ):
        df = spark.createDataFrame(
            [(1, 10, 5.0), (2, 10, None), (3, 20, 1.0)],
            "k_id bigint, grp bigint, val double",
        )
        base = str(tmp_path / "nullbase")
        df.coalesce(1).write.parquet(base)
        M.manifest_init(base, stat_cols=["k_id"])
        M.enable_cdf(base)
        mv = str(tmp_path / "mv4")
        M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
        M.delete_where(spark, base, "k_id = 1")
        M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
        got = self._got(spark, mv)
        # grp 10 still has one (null-valued) row: present, SUM=NULL, cnt=0
        assert got[10] == (None, 0, 1)
        assert got[20] == (1.0, 1, 1)

    def test_merge_txn_watermark_survives_noop_delta(self, spark, tmp_path):
        base = self._base(spark, tmp_path)
        mv = str(tmp_path / "mv5")
        M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
        # a base commit whose net per-key effect is zero: +10 then -10
        M.update_where(spark, base, "grp = 5", {"val": "val + 10.0"})
        M.update_where(spark, base, "grp = 5", {"val": "val - 10.0"})
        v = M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
        # watermark advanced even though the folded delta was a no-op
        m = M.read_manifest(mv)
        assert m["txns"][M.MV_CDF_TXN_APP] == M.current_version(base)
        assert M.refresh_aggregate_cdf(spark, base, mv, "grp", "val") == v
        assert self._got(spark, mv) == self._expect(spark, base)


class TestStreamCdcApplyWithMv:
    """stream_cdc_apply_with_mv — landing CDC batches (upserts +
    tombstones) applied as one MERGE per micro-batch with a
    continuously-maintained CDF-incremental MV, end-to-end exactly-once."""

    def test_cdc_waves_apply_and_mv_tracks(self, spark, tmp_path):
        import os

        from pspcz_analyzer_spark.streaming.lake import (
            stream_cdc_apply_with_mv,
        )

        landing = str(tmp_path / "cdc_landing")
        table = str(tmp_path / "cdc_tab")
        mv = str(tmp_path / "cdc_mv")
        ck = str(tmp_path / "cdc_ck")
        seed = spark.range(100).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("grp"),
            (F.col("id") % 11).cast("double").alias("val"),
        )
        seed.coalesce(1).write.parquet(table)
        M.manifest_init(table, stat_cols=["k"])
        M.enable_cdf(table)

        # wave 1: update keys 0-9 (val -> 100), insert 100-104,
        # tombstone 50-54 AND a key that never existed (999: must no-op)
        w1 = spark.createDataFrame(
            [(k, k % 5, 100.0, "U") for k in range(10)]
            + [(k, k % 5, 7.0, "I") for k in range(100, 105)]
            + [(k, 0, None, "D") for k in list(range(50, 55)) + [999]],
            "k bigint, grp bigint, val double, op string",
        )
        w1.coalesce(1).write.mode("append").parquet(landing)
        res = stream_cdc_apply_with_mv(
            spark, landing, table, mv, ck,
            schema="k bigint, grp bigint, val double, op string",
            key_col="k", mv_key_col="grp", value_col="val",
        )
        assert len(res) == 1
        live = M.load_manifest_table(spark, table)
        assert live.count() == 100  # +5 inserts -5 deletes; 999 no-oped
        assert live.filter(F.col("k").isin(50, 51, 52, 53, 54)).count() == 0
        assert live.filter((F.col("k") < 10) & (F.col("val") == 100.0)).count() == 10

        # the MV equals a from-scratch recompute of the live table
        def mv_rows():
            return {
                r["grp"]: (r["sum_value"], r["cnt"], r["n_rows"])
                for r in M.load_manifest_table(spark, mv).collect()
            }

        def expect():
            return {
                r["grp"]: (r["sum_value"], r["cnt"], r["n_rows"])
                for r in M.load_manifest_table(spark, table)
                .groupBy("grp")
                .agg(
                    F.sum("val").alias("sum_value"),
                    F.count("val").alias("cnt"),
                    F.count(F.lit(1)).alias("n_rows"),
                )
                .collect()
            }

        assert mv_rows() == expect()

        # wave 2 drains through the SAME checkpoint; a fresh checkpoint
        # replaying batch 0 is absorbed by the MERGE txn watermark
        w2 = spark.createDataFrame(
            [(k, 0, None, "D") for k in range(100, 105)],
            "k bigint, grp bigint, val double, op string",
        )
        w2.coalesce(1).write.mode("append").parquet(landing)
        stream_cdc_apply_with_mv(
            spark, landing, table, mv, ck,
            schema="k bigint, grp bigint, val double, op string",
            key_col="k", mv_key_col="grp", value_col="val",
        )
        assert M.load_manifest_table(spark, table).count() == 95
        assert mv_rows() == expect()
        v = M.current_version(table)
        ck2 = str(tmp_path / "cdc_ck2")
        stream_cdc_apply_with_mv(
            spark, landing, table, mv, ck2,
            schema="k bigint, grp bigint, val double, op string",
            key_col="k", mv_key_col="grp", value_col="val",
        )
        assert M.current_version(table) == v  # full replay: all no-ops
        assert mv_rows() == expect()


def test_cdf_mv_survives_layout_maintenance(spark, tmp_path):
    """Layout maintenance between refreshes must not break the feed: an
    OPTIMIZE records an explicitly EMPTY change set (data-neutral), so a
    refresh spanning delete -> compact -> update folds exactly the two
    logical changes."""
    df = spark.range(2_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") % 13).cast("double").alias("val"),
    )
    base, mv = str(tmp_path / "mnt_base"), str(tmp_path / "mnt_mv")
    write_range_sorted(df, base, "k", num_partitions=12)
    M.manifest_init(base, stat_cols=["k"])
    M.enable_cdf(base)
    M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
    M.delete_where(spark, base, "grp = 3")
    M.compact_small_files(spark, base, target_bytes=10**9)
    M.update_where(spark, base, "grp = 2", {"val": "val + 1.0"})
    M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
    got = {
        r["grp"]: (r["sum_value"], r["cnt"])
        for r in M.load_manifest_table(spark, mv).collect()
    }
    want = {
        r["grp"]: (r["sum_value"], r["cnt"])
        for r in M.load_manifest_table(spark, base)
        .groupBy("grp")
        .agg(F.sum("val").alias("sum_value"), F.count("val").alias("cnt"))
        .collect()
    }
    assert got == want


class TestPartitionsTable:
    """partitions_table — Iceberg's db.table.partitions in minimal form."""

    def test_rollup_tracks_adoption_and_spec_stamped_appends(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "ptab")
        df = spark.range(600).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g")
        )
        df.write.partitionBy("g").parquet(path)
        M.convert_to_manifest(path, stat_cols=["k"])
        # the adopted spec stamps appended batches too: a new g value
        # becomes its own partition row, not an untracked bucket
        M.append(
            spark.range(600, 650).select(
                F.col("id").alias("k"), F.lit(9).cast("bigint").alias("g")
            ),
            path,
        )
        pt = {
            r["partition"]: (r["n_files"], r["n_rows"], r["size_bytes"])
            for r in M.partitions_table(spark, path).collect()
        }
        assert set(pt) == {"g=0", "g=1", "g=2", "g=9"}
        assert pt["g=0"][1] == 200 and pt["g=9"][1] == 50
        assert all(v[0] >= 1 and v[2] > 0 for v in pt.values())

    def test_pre_evolution_files_group_under_null(self, spark, tmp_path):
        path = str(tmp_path / "ptab_null")
        spark.range(300).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("g")
        ).coalesce(2).write.parquet(path)
        M.manifest_init(path, stat_cols=["k"])  # flat: no spec, no tokens
        M.set_partition_spec(path, ["g"])
        M.append(
            spark.range(300, 340).select(
                F.col("id").alias("k"), F.lit(7).cast("bigint").alias("g")
            ),
            path,
        )
        pt = {
            r["partition"]: r["n_rows"]
            for r in M.partitions_table(spark, path).collect()
        }
        assert pt[None] == 300  # pre-evolution files: honest bucket
        assert pt["g=7"] == 40

    def test_rows_are_upper_bounds_under_mor(self, spark, tmp_path):
        path = str(tmp_path / "ptab2")
        df = spark.range(300).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("g")
        )
        df.write.partitionBy("g").parquet(path)
        M.convert_to_manifest(path, stat_cols=["k"])
        M.delete_keys_mor(spark, path, "k", [0, 2, 4])
        pt = {
            r["partition"]: r["n_rows"]
            for r in M.partitions_table(spark, path).collect()
        }
        assert pt["g=0"] == 150  # stored counts: pending deletes not billed
        assert M.load_manifest_table(spark, path).count() == 297


class TestScanDnf:
    """scan_dnf — data skipping through OR-of-conjunctions: a file is
    skipped only when EVERY disjunct's metadata excludes it."""

    def _table(self, spark, tmp_path):
        df = spark.range(8_000).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("g"),
        )
        path = str(tmp_path / "dnftab")
        write_range_sorted(df, path, "k", num_partitions=8)
        M.manifest_init(path, stat_cols=["k"])
        return path

    def test_union_of_prunes_matches_or_filter(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        got = M.scan_dnf(
            spark,
            path,
            [
                {"ranges": {"k": (100, 300)}},
                {"ranges": {"k": (7_500, 7_600)}},
            ],
        )
        expect = (
            M.load_manifest_table(spark, path)
            .filter(F.col("k").between(100, 300) | F.col("k").between(7_500, 7_600))
        )
        assert got.count() == expect.count() == 302
        # two narrow ranges at opposite ends: strictly fewer than all files
        est_a = M.scan_estimate(path, ranges={"k": (100, 300)})
        est_b = M.scan_estimate(path, ranges={"k": (7_500, 7_600)})
        assert est_a["files_kept"] + est_b["files_kept"] < 8

    def test_mixed_eq_and_range_disjuncts(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        got = M.scan_dnf(
            spark,
            path,
            [
                {"eq": {"k": 42}},
                {"ranges": {"k": (7_990, 8_100)}, "eq": {"g": 3}},
            ],
        )
        rows = sorted(r["k"] for r in got.collect())
        want = [42] + [k for k in range(7_990, 8_000) if k % 4 == 3]
        assert rows == sorted(want)

    def test_empty_union_returns_empty_with_schema(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        got = M.scan_dnf(spark, path, [{"ranges": {"k": (90_000, 91_000)}}])
        assert got.count() == 0
        assert set(got.columns) == {"k", "g"}

    def test_rejects_empty_disjunct_list(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        with pytest.raises(ValueError, match="at least one disjunct"):
            M.scan_dnf(spark, path, [])


class TestReviewRegressions:
    """Pins for the round-8 self-review findings: each was a real defect
    in the planning/MV wave, fixed and locked here."""

    def test_fresh_key_cancelling_to_zero_inserts_null_sum(
        self, spark, tmp_path
    ):
        # insert value 5 for a NEW key, then update it to NULL, both
        # inside ONE refresh window: the MV row must carry SUM=NULL
        # (cnt=0), not the cancelled accumulator 0.0.
        base, mv = str(tmp_path / "rb"), str(tmp_path / "rm")
        spark.createDataFrame(
            [(1, 10, 1.0)], "k bigint, grp bigint, val double"
        ).coalesce(1).write.parquet(base)
        M.manifest_init(base, stat_cols=["k"])
        M.enable_cdf(base)
        M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
        M.append(
            spark.createDataFrame(
                [(2, 20, 5.0)], "k bigint, grp bigint, val double"
            ),
            base,
        )
        M.update_where(spark, base, "k = 2", {"val": "CAST(NULL AS DOUBLE)"})
        M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
        got = {
            r["grp"]: (r["sum_value"], r["cnt"], r["n_rows"])
            for r in M.load_manifest_table(spark, mv).collect()
        }
        assert got[20] == (None, 0, 1)
        # sum_delta is clause-only: it must not land in the MV schema
        assert "sum_delta" not in M.load_manifest_table(spark, mv).columns

    def test_merge_rejects_unreferenced_extra_source_column(
        self, spark, tmp_path
    ):
        # the CDC relaxation must NOT swallow a misspelled column: an
        # extra source column no clause references is still a loud error.
        path = str(tmp_path / "m1")
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("amount")
        ).coalesce(1).write.parquet(path)
        M.manifest_init(path)
        bad = spark.range(3).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("amt")
        )
        with pytest.raises(M.SchemaMismatch):
            M.merge_into(spark, path, bad, "k")
        # ...while a clause-referenced flag passes and never lands
        src = spark.range(10, 13).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("amount"),
            F.lit("I").alias("op"),
        )
        M.merge_into(
            spark, path, src, "k",
            when_matched_delete="s.op = 'D'",
            not_matched_condition="s.op != 'D'",
        )
        live = M.load_manifest_table(spark, path)
        assert live.count() == 13 and "op" not in live.columns

    def test_stats_aggregate_refuses_float_bounds(self, spark, tmp_path):
        # footer min/max ignore NaN but Spark MAX returns NaN: a float
        # extremum from metadata would be a confident wrong answer.
        path = str(tmp_path / "f1")
        spark.createDataFrame(
            [(1, 1.0), (2, float("nan")), (3, 3.0)], "k bigint, v double"
        ).coalesce(1).write.parquet(path)
        M.manifest_init(path, stat_cols=["k", "v"])
        assert M.stats_aggregate(path, {"x": ("max", "v")}) is None
        got = M.stats_aggregate(path, {"n": ("count", "v"), "hi": ("max", "k")})
        assert got == {"n": 3, "hi": 3}

    def test_join_strategy_never_hints_semi_left_side(self):
        small = {"bytes_kept": 10, "rows_kept_upper": 1}
        big = {"bytes_kept": 100 << 20, "rows_kept_upper": 10_000_000}
        assert M.join_strategy(small, big, how="semi") == "shuffle"
        assert M.join_strategy(big, small, how="semi") == "broadcast_right"
        assert M.join_strategy(small, big, how="anti") == "shuffle"
        # unknown join type: no hint rather than one Spark would ignore
        assert M.join_strategy(small, small, how="sideways") == "shuffle"

    def test_scan_dnf_pins_one_snapshot(self, spark, tmp_path):
        # version resolved once: a commit BETWEEN planning calls cannot
        # mix snapshots (simulated by planning against an explicit old
        # version while the table moves on).
        path = str(tmp_path / "pin")
        df = spark.range(1_000).select(F.col("id").alias("k"))
        write_range_sorted(df, path, "k", num_partitions=4)
        M.manifest_init(path, stat_cols=["k"])
        v1 = M.current_version(path)
        M.delete_where(spark, path, "k < 100")
        got = M.scan_dnf(
            spark, path,
            [{"ranges": {"k": (0, 150)}}, {"ranges": {"k": (900, 999)}}],
            version=v1,
        )
        assert got.count() == 251  # pre-delete snapshot, both ranges

    def test_cdc_stream_compacts_multi_op_batches(self, spark, tmp_path):
        import os

        from pspcz_analyzer_spark.streaming.lake import (
            stream_cdc_apply_with_mv,
        )

        landing = str(tmp_path / "mo_landing")
        table = str(tmp_path / "mo_tab")
        mv = str(tmp_path / "mo_mv")
        ck = str(tmp_path / "mo_ck")
        spark.createDataFrame(
            [(1, 10, 1.0)], "k bigint, grp bigint, val double"
        ).coalesce(1).write.parquet(table)
        M.manifest_init(table, stat_cols=["k"])
        M.enable_cdf(table)
        # one wave, THREE ops on key 2 (insert, update, update) plus an
        # insert-then-delete on key 3: latest-per-key must win
        wave = spark.createDataFrame(
            [
                (2, 20, 1.0, "I", 1),
                (2, 20, 2.0, "U", 2),
                (2, 20, 9.0, "U", 3),
                (3, 30, 5.0, "I", 1),
                (3, 30, None, "D", 2),
            ],
            "k bigint, grp bigint, val double, op string, seq bigint",
        )
        wave.coalesce(1).write.mode("append").parquet(landing)
        stream_cdc_apply_with_mv(
            spark, landing, table, mv, ck,
            schema="k bigint, grp bigint, val double, op string, seq bigint",
            key_col="k", mv_key_col="grp", value_col="val", seq_col="seq",
        )
        live = {r["k"]: r["val"] for r in M.load_manifest_table(spark, table).collect()}
        assert live == {1: 1.0, 2: 9.0}  # key 3's final op was the tombstone
        mv_rows = {
            r["grp"]: (r["sum_value"], r["cnt"])
            for r in M.load_manifest_table(spark, mv).collect()
        }
        assert mv_rows == {10: (1.0, 1), 20: (9.0, 1)}


class TestAnalyzeColumns:
    """analyze_columns — retro-fitting skipping stats (ANALYZE ... FOR
    COLUMNS): one footer pass, metadata commit, fresh thereafter."""

    def test_pruning_engages_after_analyze_and_stays_fresh(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "an1")
        df = spark.range(4_000).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("v")
        )
        write_range_sorted(df, path, "k", num_partitions=8)
        M.manifest_init(path)  # NO stats at all
        before = M.scan_estimate(path, ranges={"k": (0, 400)})
        assert before["files_kept"] == 8  # nothing to prune with
        v = M.analyze_columns(path, ["k", "v"])
        assert v == M.current_version(path)
        after = M.scan_estimate(path, ranges={"k": (0, 400)})
        assert after["files_kept"] < 8
        # parity: the planned scan equals the plain filter
        got = M.scan_auto(spark, path, ranges={"k": (0, 400)}).count()
        assert got == 401
        # future commits keep the analyzed columns fresh
        M.append(
            spark.range(100)
            .select(
                (F.col("id") + 50_000).alias("k"),
                (F.col("id")).alias("v"),
            )
            .coalesce(1),
            path,
        )
        est = M.scan_estimate(path, ranges={"k": (50_000, 60_000)})
        assert est["files_kept"] == 1  # only the appended file
        assert est["rows_kept_upper"] == 100

    def test_idempotent_and_validates(self, spark, tmp_path):
        path = str(tmp_path / "an2")
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("g")
        ).coalesce(1).write.parquet(path)
        M.manifest_init(path, stat_cols=["k"])
        v0 = M.current_version(path)
        assert M.analyze_columns(path, ["k"]) == v0  # already tracked
        with pytest.raises(ValueError, match="not in the table schema"):
            M.analyze_columns(path, ["nope"])
        M.add_identity_column(path, "rid")
        with pytest.raises(ValueError, match="synthesized"):
            M.analyze_columns(path, ["rid"])

    def test_tracks_renamed_columns_physically(self, spark, tmp_path):
        path = str(tmp_path / "an3")
        spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("old")
        ).coalesce(2).write.parquet(path)
        M.manifest_init(path)
        M.rename_column(path, "old", "neu")
        M.analyze_columns(path, ["neu"])
        est = M.scan_estimate(path, ranges={"neu": (0, 10)})
        assert est["files_kept"] <= 2
        got = M.scan_auto(spark, path, ranges={"neu": (0, 10)})
        assert got.count() == 6  # 0,2,4,6,8,10


class TestAdviceR8:
    """Pins for the round-8 ADVICE findings — each a real defect in the
    planning/MV wave, fixed and locked here."""

    def test_mv_refresh_never_inserts_residue_only_new_key(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE r08: a brand-new key whose window changes cancel
        (n_rows=0, cnt=0) but leave a floating-point residue in
        sum_delta must NOT insert a phantom n_rows=0 MV row a full
        recompute would never contain."""
        base, mv = str(tmp_path / "rb"), str(tmp_path / "rm")
        spark.createDataFrame(
            [(1, 10, 1.0)], "k bigint, grp bigint, val double"
        ).coalesce(1).write.parquet(base)
        M.manifest_init(base, stat_cols=["k"])
        M.enable_cdf(base)
        M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
        # advance the base so the refresh has a window to fold
        M.append(
            spark.createDataFrame(
                [(2, 10, 1.0)], "k bigint, grp bigint, val double"
            ),
            base,
        )
        # deterministic residue delta for NEW key 99: +0.1 +0.2 -0.15
        # -0.15 left-to-right leaves ~5.6e-17 in sum_delta while
        # n_rows and cnt both net to zero
        fake = spark.createDataFrame(
            [
                (99, 0.1, "insert"),
                (99, 0.2, "insert"),
                (99, 0.15, "delete"),
                (99, 0.15, "delete"),
                (10, 1.0, "insert"),  # the real append, kept honest
            ],
            f"grp bigint, val double, {M.CDF_TYPE_COL} string",
        ).coalesce(1)
        monkeypatch.setattr(
            M, "read_changes", lambda *a, **k: fake
        )
        M.refresh_aggregate_cdf(spark, base, mv, "grp", "val")
        got = {
            r["grp"]: (r["sum_value"], r["cnt"], r["n_rows"])
            for r in M.load_manifest_table(spark, mv).collect()
        }
        assert 99 not in got  # no phantom row
        assert got[10] == (2.0, 2, 2)

    def test_scan_estimate_needs_no_column_api(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE r08: scan_estimate promises 'needs no SparkSession' —
        the exact predicate must be built lazily, never during the
        estimate (F.col/F.lit need an active SparkContext)."""
        path = str(tmp_path / "se")
        df = spark.range(2_000).select(F.col("id").alias("k"))
        write_range_sorted(df, path, "k", num_partitions=4)
        M.manifest_init(path, stat_cols=["k"])

        def boom(*a, **k):
            raise AssertionError("scan_estimate touched the Column API")

        monkeypatch.setattr(M.F, "col", boom)
        monkeypatch.setattr(M.F, "lit", boom)
        est = M.scan_estimate(path, ranges={"k": (0, 499)})
        assert 0 < est["files_kept"] < est["files_total"] == 4
        assert est["rows_kept_upper"] < 2_000

    def test_merge_literal_s_dot_col_does_not_relax_schema(
        self, spark, tmp_path
    ):
        """ADVICE r08: the text 's.amt' inside a STRING CONSTANT is data,
        not a clause reference — it must not exempt a misspelled extra
        source column from the SchemaMismatch guard."""
        path = str(tmp_path / "ml")
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("amount")
        ).coalesce(1).write.parquet(path)
        M.manifest_init(path)
        bad = spark.range(3).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("amt")
        )
        with pytest.raises(M.SchemaMismatch):
            M.merge_into(
                spark, path, bad, "k",
                matched_condition="'s.amt' = 'nope'",
            )
        # a REAL reference through quotes-stripping still relaxes
        src = spark.range(10, 12).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("amount"),
            F.lit("I").alias("op"),
        )
        M.merge_into(
            spark, path, src, "k",
            not_matched_condition="s.op != 'D'",
        )
        live = M.load_manifest_table(spark, path)
        assert live.count() == 12 and "op" not in live.columns

    def test_join_strategy_mixed_size_kinds_compares_rows(self):
        """ADVICE r08: when one side qualifies via bytes and the other
        via rows, prefer the side with fewer estimated rows — never
        'bytes-known always wins'."""
        by_bytes = {"bytes_kept": 9_900_000, "rows_kept_upper": 1_000_000}
        by_rows = {"bytes_kept": None, "rows_kept_upper": 10}
        got = M.join_strategy(
            by_bytes, by_rows, how="inner", rows_threshold=1_000
        )
        assert got == "broadcast_right"
        got = M.join_strategy(
            by_rows, by_bytes, how="inner", rows_threshold=1_000
        )
        assert got == "broadcast_left"
        # same kind on both sides: byte comparison unchanged
        small = {"bytes_kept": 10, "rows_kept_upper": 99}
        assert (
            M.join_strategy(by_bytes, small, how="inner")
            == "broadcast_right"
        )


class TestJoinStar:
    """join_star — N-table star planned from manifest metadata: dim
    ordering by pruned-fraction selectivity, per-dim broadcast
    qualification, composed runtime fact-file pruning, fact scanned
    once."""

    def _star(self, spark, tmp_path):
        fact = spark.range(8_000).select(
            (F.col("id") % 400).alias("user_id"),
            (F.col("id") % 5).alias("status_id"),
            F.col("id").alias("amount"),
        )
        users = spark.range(400).select(
            F.col("id").alias("user_id"),
            F.concat(F.lit("u"), F.col("id")).alias("uname"),
        )
        status = spark.range(5).select(
            F.col("id").alias("status_id"),
            F.concat(F.lit("s"), F.col("id")).alias("sname"),
        )
        tags = spark.range(100).select(
            (F.col("id") * 4).alias("user_id"),  # every 4th user tagged
            F.lit("vip").alias("tag"),
        )
        fp = str(tmp_path / "sfact")
        up = str(tmp_path / "susers")
        sp = str(tmp_path / "sstatus")
        tp = str(tmp_path / "stags")
        write_range_sorted(fact, fp, "user_id", num_partitions=8)
        M.manifest_init(fp, stat_cols=["user_id"])
        write_range_sorted(users, up, "user_id", num_partitions=8)
        M.manifest_init(up, stat_cols=["user_id"])
        status.coalesce(1).write.parquet(sp)
        M.manifest_init(sp)
        tags.coalesce(1).write.parquet(tp)
        M.manifest_init(tp)
        return fp, up, sp, tp

    def test_orders_broadcasts_prunes_and_scans_fact_once(
        self, spark, tmp_path
    ):
        fp, up, sp, tp = self._star(spark, tmp_path)
        choice: dict = {}
        out = M.join_star(
            spark,
            fp,
            [
                {"path": sp, "on": "status_id"},  # sel 1.0
                # users filtered to the first eighth: sel 0.125
                {"path": up, "on": "user_id", "ranges": {"user_id": (0, 49)}},
                {"path": tp, "on": "user_id", "how": "left"},
            ],
            choice_out=choice,
        )
        # most selective filtering dim first; preserved-side join last
        assert choice["order"] == ["user_id", "status_id", "user_id"]
        dims = choice["dims"]
        assert all(d["strategy"] == "broadcast_right" for d in dims)
        # runtime pruning engaged on the users arm (first in order)
        # and composed into the fact file list
        pr = dims[0]["pruned"]
        assert pr and pr["files_kept"] < pr["files_before"] == 8
        # result parity vs the unplanned chain
        expect = (
            M.load_manifest_table(spark, fp)
            .join(
                M.load_manifest_table(spark, up).filter(
                    F.col("user_id").between(0, 49)
                ),
                "user_id",
            )
            .join(M.load_manifest_table(spark, sp), "status_id")
            .join(M.load_manifest_table(spark, tp), "user_id", "left")
            .count()
        )
        assert out.count() == expect == 1_000
        # left-joined tag rows really survive (13 tagged users <= 49)
        assert out.filter(F.col("tag").isNotNull()).count() == 260
        # the fact is scanned ONCE: 4 parquet scans total in the plan
        # (fact + each of the 3 dims exactly once; counted over the
        # plan TREE, not the rendered string — ADVICE r10)
        from pspcz_analyzer_spark.plans.ingest import count_file_scans

        assert count_file_scans(out) == 4
        # and three broadcast hints reached the plan
        analyzed = out._jdf.queryExecution().analyzed().toString()
        assert analyzed.lower().count("broadcast") >= 3

    def test_unqualifying_dim_joins_unhinted(self, spark, tmp_path):
        fp, up, sp, _tp = self._star(spark, tmp_path)
        choice: dict = {}
        out = M.join_star(
            spark,
            fp,
            [
                {"path": sp, "on": "status_id"},
                {"path": up, "on": "user_id"},
            ],
            bytes_threshold=1,  # nothing qualifies
            choice_out=choice,
        )
        assert all(d["strategy"] == "shuffle" for d in choice["dims"])
        assert all(d["pruned"] is None for d in choice["dims"])
        assert out.count() == 8_000

    def test_snowflake_arm_orders_after_its_parent(self, spark, tmp_path):
        # customer keys live on the ORDERS dim, not the fact: the
        # planner must fold orders first even though customer is more
        # selective, and refuse loudly when no order works.
        fact = spark.range(4_000).select(
            (F.col("id") % 200).alias("orderkey"),
            F.col("id").alias("qty"),
        )
        orders = spark.range(200).select(
            F.col("id").alias("orderkey"),
            (F.col("id") % 50).alias("custkey"),
        )
        cust = spark.range(50).select(
            F.col("id").alias("custkey"),
            F.concat(F.lit("c"), F.col("id")).alias("cname"),
        )
        fp = str(tmp_path / "snfact")
        op = str(tmp_path / "snorders")
        cp = str(tmp_path / "sncust")
        write_range_sorted(fact, fp, "orderkey", num_partitions=4)
        M.manifest_init(fp, stat_cols=["orderkey"])
        orders.coalesce(1).write.parquet(op)
        M.manifest_init(op)
        write_range_sorted(cust, cp, "custkey", num_partitions=4)
        M.manifest_init(cp, stat_cols=["custkey"])
        choice: dict = {}
        out = M.join_star(
            spark,
            fp,
            [
                # listed FIRST and more selective, but depends on orders
                {"path": cp, "on": "custkey", "ranges": {"custkey": (0, 9)}},
                {"path": op, "on": "orderkey"},
            ],
            choice_out=choice,
        )
        assert choice["order"] == ["orderkey", "custkey"]
        # 10 of 50 custkeys survive -> 40 orderkeys -> 20 rows/orderkey
        assert out.count() == 800
        with pytest.raises(ValueError, match="no join order"):
            M.join_star(
                spark, fp, [{"path": cp, "on": "custkey"}]
            )


class TestJoinStarOrderingSemantics:
    """ADVICE r9 (medium): only inner arms commute, so only they may be
    reordered by selectivity; right/full outer arms are barriers; and
    semi/anti arms add no columns to the accumulated frame, so a
    snowflake arm keyed through one must fail at PLAN time."""

    def _base(self, spark, tmp_path, extra_dim_keys=15):
        fact = spark.range(100).select(
            (F.col("id") % 10).alias("user_id"),
            F.col("id").alias("amount"),
        )
        d1 = spark.range(extra_dim_keys).select(
            F.col("id").alias("user_id"),
            F.concat(F.lit("u"), F.col("id")).alias("uname"),
        )
        d2 = spark.range(10).select(
            F.col("id").alias("user_id"),
            F.concat(F.lit("t"), F.col("id")).alias("tier"),
        )
        fp, p1, p2 = (str(tmp_path / n) for n in ("of", "od1", "od2"))
        write_range_sorted(fact, fp, "user_id", num_partitions=4)
        M.manifest_init(fp, stat_cols=["user_id"])
        d1.coalesce(1).write.parquet(p1)
        M.manifest_init(p1, stat_cols=["user_id"])
        # multi-file so a range predicate really prunes (sel < 1)
        write_range_sorted(d2, p2, "user_id", num_partitions=5)
        M.manifest_init(p2, stat_cols=["user_id"])
        return fp, p1, p2

    def test_right_outer_arm_is_not_reordered(self, spark, tmp_path):
        """(F right-outer d1) inner d2 != (F inner d2) right-outer d1:
        the second keeps d1-preserved null-fact rows for d1 keys the
        d2 filter removed. join_star must execute the LISTED order even
        though the inner arm is more selective."""
        fp, p1, p2 = self._base(spark, tmp_path)
        choice: dict = {}
        out = M.join_star(
            spark,
            fp,
            [
                {"path": p1, "on": "user_id", "how": "right"},  # sel 1.0
                # more selective inner arm listed AFTER the barrier
                {"path": p2, "on": "user_id",
                 "ranges": {"user_id": (0, 3)}},
            ],
            choice_out=choice,
        )
        assert choice["order"] == ["user_id", "user_id"]
        assert [d["how"] for d in choice["dims"]] == ["right", "inner"]
        expect = (
            M.load_manifest_table(spark, fp)
            .join(M.load_manifest_table(spark, p1), "user_id", "right")
            .join(
                M.load_manifest_table(spark, p2).filter(
                    F.col("user_id").between(0, 3)
                ),
                "user_id",
            )
        )
        # listed order: 4 surviving users x 10 fact rows; the buggy
        # reorder would ALSO keep 11 null-padded d1 rows (users 4..14)
        assert out.count() == expect.count() == 40
        assert out.filter(F.col("amount").isNull()).count() == 0

    def test_inner_arms_reorder_within_their_run(self, spark, tmp_path):
        """Two inner arms listed least-selective-first still swap — the
        commuting cohort keeps the selectivity optimization."""
        fp, p1, p2 = self._base(spark, tmp_path, extra_dim_keys=10)
        choice: dict = {}
        out = M.join_star(
            spark,
            fp,
            [
                {"path": p1, "on": "user_id"},  # sel 1.0
                {"path": p2, "on": "user_id",
                 "ranges": {"user_id": (0, 3)}},  # sel 0.4
            ],
            choice_out=choice,
        )
        assert [d["path"] for d in choice["dims"]] == [p2, p1]
        assert out.count() == 40

    def test_semi_arm_supplies_no_columns(self, spark, tmp_path):
        """A snowflake arm keyed through a SEMI arm must raise at plan
        time (semi joins project nothing), not fail inside Spark."""
        fact = spark.range(50).select((F.col("id") % 5).alias("k"))
        bridge = spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("grp")
        )
        leaf = spark.range(2).select(
            F.col("id").alias("grp"), F.lit("g").alias("gname")
        )
        fp, bp, lp = (str(tmp_path / n) for n in ("sf", "sb", "sl"))
        for df, p in ((fact, fp), (bridge, bp), (leaf, lp)):
            df.coalesce(1).write.parquet(p)
            M.manifest_init(p)
        with pytest.raises(ValueError, match="no join order"):
            M.join_star(
                spark,
                fp,
                [
                    {"path": bp, "on": "k", "how": "semi"},
                    {"path": lp, "on": "grp"},  # grp only on the semi arm
                ],
            )
        # the same spec with an INNER bridge orders fine
        out = M.join_star(
            spark,
            fp,
            [
                {"path": bp, "on": "k"},
                {"path": lp, "on": "grp"},
            ],
        )
        assert out.count() == 50

    def test_dependency_cannot_hoist_across_barrier(self, spark, tmp_path):
        """A right-outer arm whose key arrives only from a LATER dim is
        unsatisfiable: hoisting the later dim across the barrier would
        change results, so the planner refuses."""
        fact = spark.range(50).select((F.col("id") % 5).alias("k"))
        dim_a = spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("grp")
        )
        leaf = spark.range(2).select(
            F.col("id").alias("grp"), F.lit("g").alias("gname")
        )
        fp, ap, lp = (str(tmp_path / n) for n in ("bf", "ba", "bl"))
        for df, p in ((fact, fp), (dim_a, ap), (leaf, lp)):
            df.coalesce(1).write.parquet(p)
            M.manifest_init(p)
        with pytest.raises(ValueError, match="no join order"):
            M.join_star(
                spark,
                fp,
                [
                    {"path": lp, "on": "grp", "how": "right"},
                    {"path": ap, "on": "k"},
                ],
            )

    def test_snowflake_hop_pruning_transitive(self, spark, tmp_path):
        """r9 stretch ask #8: a broadcast INNER snowflake arm file-prunes
        its parent dim (hop_pruned), and the parent's key frame is
        semi-joined by the child before fact pruning — so the leaf's
        filter reaches the fact's file list. A LEFT child (preserving
        parent rows) must NOT hop-prune."""
        fact = spark.range(100).select((F.col("id") % 10).alias("k"))
        dim_a = spark.range(10).select(
            F.col("id").alias("k"), F.col("id").alias("c")
        )
        leaf = spark.range(10).select(F.col("id").alias("c"))
        fp, ap, lp = (str(tmp_path / n) for n in ("hf", "ha", "hl"))
        write_range_sorted(fact, fp, "k", num_partitions=4)
        M.manifest_init(fp, stat_cols=["k"])
        write_range_sorted(dim_a, ap, "c", num_partitions=5)
        M.manifest_init(ap, stat_cols=["c"])
        leaf.coalesce(1).write.parquet(lp)
        M.manifest_init(lp, stat_cols=["c"])
        choice: dict = {}
        out = M.join_star(
            spark,
            fp,
            [
                {"path": ap, "on": "k"},
                {"path": lp, "on": "c", "ranges": {"c": (0, 1)}},
            ],
            choice_out=choice,
        )
        by_key = {d["key"]: d for d in choice["dims"]}
        hop = by_key["k"]["hop_pruned"]
        assert hop and hop["files_kept"] < hop["files_before"] == 5
        assert hop["by"] == "c"
        # row-level transitive cut: only A keys surviving the leaf
        # filter prune the fact -> 1 of 4 fact files kept
        pr = by_key["k"]["pruned"]
        assert pr and pr["files_kept"] < pr["files_before"] == 4
        assert out.count() == 20  # k in {0,1} x 10 fact rows
        # LEFT child preserves parent rows -> hop pruning must not fire
        choice2: dict = {}
        out2 = M.join_star(
            spark,
            fp,
            [
                {"path": ap, "on": "k"},
                {"path": lp, "on": "c", "how": "left",
                 "ranges": {"c": (0, 1)}},
            ],
            choice_out=choice2,
        )
        assert all(d["hop_pruned"] is None for d in choice2["dims"])
        assert out2.count() == 100

    def test_predicate_free_sparse_child_still_semi_prunes(
        self, spark, tmp_path
    ):
        """A snowflake child with NO predicates skips the dedicated hop
        planning job but STILL folds into pass 2's row-level semi — a
        leaf whose table simply holds 2 of the parent's 5 keys
        (referential gap) must shrink the fact's file list."""
        fact = spark.range(100).select((F.col("id") % 10).alias("k"))
        dim_a = spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("grp")
        )
        leaf = spark.range(2).select(F.col("id").alias("grp"))  # 0,1 only
        fp, ap, lp = (str(tmp_path / n) for n in ("gf", "ga", "gl"))
        write_range_sorted(fact, fp, "k", num_partitions=4)
        M.manifest_init(fp, stat_cols=["k"])
        dim_a.coalesce(1).write.parquet(ap)
        M.manifest_init(ap)
        leaf.coalesce(1).write.parquet(lp)
        M.manifest_init(lp)
        choice: dict = {}
        out = M.join_star(
            spark,
            fp,
            [
                {"path": ap, "on": "k"},
                {"path": lp, "on": "grp"},  # NO predicate, sparse table
            ],
            choice_out=choice,
        )
        by_key = {d["key"]: d for d in choice["dims"]}
        # no dedicated hop job for a cut-less child...
        assert by_key["k"]["hop_pruned"] is None
        # ...but the row-level semi still reached the fact's file list:
        # grp in {0,1} -> k in {0,1,5,6} -> a proper subset of 4 files
        pr = by_key["k"]["pruned"]
        assert pr and pr["files_kept"] < pr["files_before"] == 4
        # 4 surviving k values x 10 fact rows each
        assert out.count() == 40

    def test_barrier_cannot_absorb_a_skipped_earlier_arm(
        self, spark, tmp_path
    ):
        """r10 self-review: an unsatisfied arm LISTED BEFORE a
        right-outer barrier must not be silently deferred to after it —
        picking the (satisfiable) barrier first is the same forbidden
        reorder as hoisting across it, so the planner refuses."""
        fact = spark.range(50).select(
            (F.col("id") % 5).alias("k"), (F.col("id") % 3).alias("r")
        )
        dim_b = spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("grp")
        )
        leaf = spark.range(2).select(
            F.col("id").alias("grp"), F.lit("g").alias("gname")
        )
        rdim = spark.range(3).select(
            F.col("id").alias("r"), F.lit("r").alias("rname")
        )
        fp, bp, lp, rp = (
            str(tmp_path / n) for n in ("df", "db", "dl", "dr")
        )
        for df, p in ((fact, fp), (dim_b, bp), (leaf, lp), (rdim, rp)):
            df.coalesce(1).write.parquet(p)
            M.manifest_init(p)
        with pytest.raises(ValueError, match="no join order"):
            M.join_star(
                spark,
                fp,
                [
                    # snowflake arm listed FIRST, key supplied only by
                    # dim_b which is listed AFTER the barrier
                    {"path": lp, "on": "grp"},
                    {"path": rp, "on": "r", "how": "right"},  # barrier
                    {"path": bp, "on": "k"},
                ],
            )
        # without the barrier the same deferral is legal and resolves
        out = M.join_star(
            spark,
            fp,
            [
                {"path": lp, "on": "grp"},
                {"path": bp, "on": "k"},
            ],
        )
        assert out.count() == 50

    def test_delete_keys_with_null_key_deletes_nothing_extra(
        self, spark, tmp_path
    ):
        """r10 self-review (the big one): a None in the key list must
        not three-value-NULL the negated isin — before the fix,
        delete_keys(path, 'k', [150, None]) silently deleted EVERY row
        of the victim files."""
        df = spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") % 10).alias("g")
        )
        path = str(tmp_path / "nulldel")
        write_range_sorted(df, path, "k", num_partitions=4)
        M.manifest_init(path, stat_cols=["k"])
        nf, nd = M.delete_keys(spark, path, "k", [150, None])
        assert nd == 1  # exactly k=150, never the whole file
        t = M.load_manifest_table(spark, path)
        assert t.count() == 199
        assert t.filter(F.col("k") == 150).count() == 0
        # all-None key list: nothing can match, nothing committed
        v = M.current_version(path)
        assert M.delete_keys(spark, path, "k", [None]) == (0, 0)
        assert M.current_version(path) == v
        # upsert with a NULL-key batch row: MERGE ON NULL never matches
        # -> the row INSERTS and no existing row is purged
        batch = spark.createDataFrame(
            [(None, 777), (10, 888)], "k long, g long"
        )
        M.upsert(spark, batch, path, "k")
        t = M.load_manifest_table(spark, path)
        assert t.count() == 200  # 199 - 1 matched overwrite + 2 batch
        assert t.filter(F.col("k").isNull()).count() == 1
        assert t.filter((F.col("k") == 10) & (F.col("g") == 888)).count() == 1
        # NULL-keyed DATA rows survive later DML over their file: the
        # (NULL, 777) row shares a file with k=10, so both the targeted
        # delete and the follow-up upsert rewrite that file — before the
        # isNull arm, three-valued ~isin silently dropped the NULL row
        nf, nd = M.delete_keys(spark, path, "k", [10])
        assert nd == 1
        t = M.load_manifest_table(spark, path)
        assert t.count() == 199
        assert t.filter(F.col("k").isNull()).count() == 1
        M.upsert(
            spark,
            spark.createDataFrame([(11, 999)], "k long, g long"),
            path,
            "k",
        )
        t = M.load_manifest_table(spark, path)
        assert t.filter(F.col("k").isNull()).count() == 1
        assert t.count() == 199  # k=11 overwrote in place

    def test_jobs_delete_keys_keeps_null_data_rows(self, spark, tmp_path):
        """Swap path: a NULL-keyed DATA row in a victim file survives the
        negated-isin fast path (it can never equi-match the keys)."""
        from pspcz_analyzer_spark import jobs as J

        df = spark.range(100).select(
            F.when(F.col("id") != 7, F.col("id")).alias("k"),
            (F.col("id") % 10).alias("g"),
        )
        path = str(tmp_path / "nullrow_swap")
        J.write_range_sorted(df, path, "k", num_partitions=2)
        nf, nd = J.delete_keys(spark, path, "k", [3])
        assert nd == 1  # only k=3 — never the NULL neighbour
        t = spark.read.parquet(path)
        assert t.count() == 99
        assert t.filter(F.col("k").isNull()).count() == 1

    def test_jobs_delete_keys_null_key_swap_path(self, spark, tmp_path):
        """Same NULL hazard on the swap-committed (manifest-less) path."""
        from pspcz_analyzer_spark import jobs as J

        df = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") % 10).alias("g")
        )
        path = str(tmp_path / "nulldel_swap")
        J.write_range_sorted(df, path, "k", num_partitions=2)
        nf, nd = J.delete_keys(spark, path, "k", [7, None])
        assert nd == 1
        assert spark.read.parquet(path).count() == 99

    def test_join_auto_null_dim_keys_prune_safely(self, spark, tmp_path):
        """ADVICE r9 (low): NULL dim join keys must not reach the
        stats-containment compare (None <= str TypeErrors); they never
        equi-match, so dropping them is result-preserving."""
        fact = spark.range(1000).select(
            (F.col("id") % 100).alias("user_id"),
            F.col("id").alias("amount"),
        )
        dim = spark.range(10).select(
            F.when(F.col("id") < 5, F.col("id")).alias("user_id"),
            F.concat(F.lit("u"), F.col("id")).alias("uname"),
        )
        fp, dp = str(tmp_path / "nf"), str(tmp_path / "nd")
        write_range_sorted(fact, fp, "user_id", num_partitions=4)
        M.manifest_init(fp, stat_cols=["user_id"])
        dim.coalesce(1).write.parquet(dp)
        M.manifest_init(dp)
        choice: dict = {}
        out = M.join_auto(spark, fp, dp, "user_id", choice_out=choice)
        assert choice["strategy"] == "broadcast_right"
        assert choice["runtime_prune"]["files_kept"] <= 4
        # 5 non-null dim keys x 10 fact rows each
        assert out.count() == 50


class _Crash(RuntimeError):
    """Injected writer death between two fs mutations."""


class _CrashFS:
    """Wrap an fs handle; every MUTATION decrements a shared budget and
    the first mutation past it raises _Crash — simulating a writer
    killed between any two store operations. Reads always pass through
    (a dead writer cannot corrupt what it never wrote)."""

    MUTATORS = (
        "create_exclusive", "remove", "makedirs", "rename", "rmtree",
        "copy",
    )

    def __init__(self, inner, counter):
        self._inner = inner
        self._counter = counter

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name in _CrashFS.MUTATORS and callable(attr):
            c = self._counter

            def wrapped(*a, **k):
                if c["used"] >= c["budget"]:
                    raise _Crash(f"crash before fs.{name}")
                c["used"] += 1
                return attr(*a, **k)

            return wrapped
        return attr


class TestCrashPointsTwoLevelCommits:
    """r8 verdict ask #4: kill the writer between EVERY pair of fs
    mutations of a multi-blob commit (segment blobs + pointer blob +
    data staging) and assert, at every crash point: readers see only
    the previous version OR the full new one (never a torn state),
    vacuum collects the crashed attempt's orphan blobs, and a retry
    completes the operation."""

    @pytest.fixture(autouse=True)
    def _low_threshold(self, monkeypatch):
        monkeypatch.setattr(M, "MANIFEST_SEGMENT_THRESHOLD", 4)
        monkeypatch.setattr(M, "SEGMENT_TARGET_FILES", 3)

    def _mk(self, spark, tmp_path, name):
        df = spark.range(600).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("g")
        )
        path = str(tmp_path / name)
        write_range_sorted(df, path, "k", num_partitions=6)
        M.manifest_init(path, stat_cols=["k"])
        return path

    def _matrix(self, spark, path, op, base_count, final_count):
        import shutil as _sh

        backup = path + ".bak"
        _sh.copytree(path, backup)
        v0 = M.current_version(path)
        real_get_fs = M.get_fs

        def _restore():
            _sh.rmtree(path)
            _sh.copytree(backup, path)
            M._SEGMENT_CACHE.clear()

        def _attempt(budget):
            counter = {"used": 0, "budget": budget}

            def patched(p):
                fs, rel = real_get_fs(p)
                return _CrashFS(fs, counter), rel

            M.get_fs = patched
            try:
                op()
                crashed = False
            except _Crash:
                crashed = True
            finally:
                M.get_fs = real_get_fs
            return counter["used"], crashed

        # counting pass: how many mutations does the op make?
        total, crashed = _attempt(10**9)
        assert not crashed and total >= 2, f"op made only {total} mutations"
        _restore()

        tried = 0
        for budget in range(total):
            used, crashed = _attempt(budget)
            assert crashed, f"budget {budget} < {total} but op finished"
            tried += 1
            # 1) never a torn read: old version intact, or commit fully
            #    durable (the pointer blob IS the atomic publish point)
            v_now = M.current_version(path)
            n_now = M.load_manifest_table(spark, path).count()
            if v_now == v0:
                assert n_now == base_count
            else:
                assert v_now == v0 + 1 and n_now == final_count
            # 2) vacuum collects every blob the crashed attempt leaked
            M.vacuum(path, retain_versions=1, min_age_seconds=0)
            segdir = os.path.join(path, "_manifest", "segments")
            refd = set()
            for v in M._versions(path):
                refd.update(
                    os.path.basename(s)
                    for s in (
                        M.read_manifest(path, v).get("segments") or []
                    )
                )
            left = set(os.listdir(segdir)) if os.path.isdir(segdir) else set()
            assert left <= refd, f"orphan segments survived vacuum: {left - refd}"
            # 3) a retry completes the op exactly once
            if v_now == v0:
                op()
            assert M.load_manifest_table(spark, path).count() == final_count
            _restore()
        _sh.rmtree(backup)
        return tried

    def test_append_crash_matrix(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "cr_append")

        def op():
            M.append(
                spark.range(9_000, 9_010)
                .selectExpr("id AS k", "id % 7 AS g")
                .coalesce(1),
                path,
            )

        n = self._matrix(spark, path, op, 600, 610)
        assert n >= 2

    def test_targeted_dml_crash_matrix(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "cr_dml")

        def op():
            M.delete_keys(spark, path, "k", [5])

        n = self._matrix(spark, path, op, 600, 599)
        assert n >= 2

    def test_compact_segments_crash_matrix(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "cr_compact")
        # fragment the segment list with three 1-file appends
        for i in range(3):
            M.append(
                spark.range(9_000 + i * 10, 9_010 + i * 10)
                .selectExpr("id AS k", "id % 7 AS g")
                .coalesce(1),
                path,
            )
        assert len(M.read_manifest(path)["segments"]) > 3

        def op():
            assert M.compact_segments(path) > 0

        n = self._matrix(spark, path, op, 630, 630)
        assert n >= 2

    def test_wap_publish_crash_matrix(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "cr_wap")
        M.stage_append(
            spark.range(9_000, 9_010)
            .selectExpr("id AS k", "id % 7 AS g")
            .coalesce(1),
            path,
            "r1",
        )

        def op():
            M.publish_staged(spark, path, "r1")

        n = self._matrix(spark, path, op, 600, 610)
        assert n >= 1

    def test_wap_publish_retry_is_idempotent(self, spark, tmp_path):
        # The exact hole the crash matrix exposed: a publisher killed
        # BETWEEN its commit and the ref removal leaves the batch live
        # and the ref staged — a blind retry used to append the same
        # files twice (600 -> 610 -> 620). Now the retry finishes the
        # interrupted publish instead.
        path = self._mk(spark, tmp_path, "cr_wap_retry")
        M.stage_append(
            spark.range(9_000, 9_010)
            .selectExpr("id AS k", "id % 7 AS g")
            .coalesce(1),
            path,
            "r1",
        )
        real_get_fs = M.get_fs

        def patched(p):
            fs, rel = real_get_fs(p)

            class _NoRemove:
                def __getattr__(self, name):
                    if name == "remove":
                        def boom(pth):
                            if pth.endswith("r1.json"):
                                raise _Crash("die before ref removal")
                            return fs.remove(pth)
                        return boom
                    return getattr(fs, name)

            return _NoRemove(), rel

        M.get_fs = patched
        try:
            with pytest.raises(_Crash):
                M.publish_staged(spark, path, "r1")
        finally:
            M.get_fs = real_get_fs
        v = M.current_version(path)
        assert M.load_manifest_table(spark, path).count() == 610
        assert "r1" in M.list_staged(path)
        # retry: finishes the publish, no duplication, ref cleared
        assert M.publish_staged(spark, path, "r1") == v
        assert M.load_manifest_table(spark, path).count() == 610
        assert "r1" not in M.list_staged(path)
        # a fresh ref whose files PARTIALLY overlap the table refuses
        import json as _json

        M.stage_append(
            spark.range(9_100, 9_110)
            .selectExpr("id AS k", "id % 7 AS g")
            .coalesce(1),
            path,
            "r2",
        )
        ref_p = os.path.join(path, "_manifest", "staged", "r2.json")
        doc = _json.loads(open(ref_p).read())
        doc["files"].append(M.read_manifest(path)["files"][0])
        os.remove(ref_p)
        with open(ref_p, "w") as fh:
            fh.write(_json.dumps(doc))
        with pytest.raises(RuntimeError, match="partial publish"):
            M.publish_staged(spark, path, "r2")

    def test_mor_delete_crash_matrix(self, spark, tmp_path):
        # equality-delete commit = delete-key sidecar blob + pointer:
        # crash between them must leave readers on the old version and
        # vacuum must collect the orphan sidecar.
        path = self._mk(spark, tmp_path, "cr_mor")

        def op():
            M.delete_keys_mor(spark, path, "k", [5, 6, 7])

        n = self._matrix(spark, path, op, 600, 597)
        assert n >= 1

    def test_cdf_append_crash_matrix(self, spark, tmp_path):
        # CDF-enabled append = change-feed parquet + segment blobs +
        # pointer; the cdf file of a crashed commit is referenced by
        # nothing and must be vacuumed, and the retry must emit exactly
        # one change batch.
        path = self._mk(spark, tmp_path, "cr_cdf")
        M.enable_cdf(path)
        v0 = M.current_version(path)

        def op():
            M.append(
                spark.range(9_000, 9_010)
                .selectExpr("id AS k", "id % 7 AS g")
                .coalesce(1),
                path,
            )

        n = self._matrix(spark, path, op, 600, 610)
        assert n >= 2
        # the matrix restores the base state when done: one clean run,
        # then the change feed must hold exactly that one batch
        op()
        assert M.read_changes(spark, path, v0).count() == 10

    def test_bloom_build_crash_matrix(self, spark, tmp_path):
        # ensure_blooms = per-file bloom sidecar blobs + a metadata
        # commit referencing them; row counts never change, so the
        # invariant is sidecar-reference consistency plus a clean retry.
        path = self._mk(spark, tmp_path, "cr_bloom")

        def op():
            M.ensure_blooms(spark, path, "g")

        n = self._matrix(spark, path, op, 600, 600)
        assert n >= 1
        # matrix restored the base: one clean build, then blooms must
        # actually prune (a value outside the domain keeps no file)
        op()
        kept, total = M.prune_files_bloom(
            path, M.read_manifest(path), "g", 99_999
        )
        assert total == 6 and len(kept) < total


class TestTornManifestDetection:
    """r11 (VERDICT r10 task 6): commit-side atomicity is proven by the
    crash matrix, but a blob damaged AFTER commit (bit rot, torn copy)
    must surface as the typed ManifestCorrupt error at first read — and
    vacuum/restore must refuse to proceed past it, never collect or
    roll back based on a half-read file list."""

    def _blob(self, path, v):
        return os.path.join(path, M.MANIFEST_DIR, f"{v:08d}.json")

    def _mk(self, spark, tmp_path, name="torn"):
        path = str(tmp_path / name)
        df = spark.range(600).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("g")
        )
        write_range_sorted(df, path, "k", num_partitions=3)
        M.manifest_init(path, stat_cols=["k"])
        M.append(
            spark.range(600, 700).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("g")
            ),
            path,
        )
        return path

    def test_sealed_blob_roundtrips_and_carries_crc(self, spark, tmp_path):
        path = self._mk(spark, tmp_path)
        v = M.current_version(path)
        raw = open(self._blob(path, v), "rb").read()
        assert b'"crc"' in raw
        m = M.read_manifest(path)  # verifies the crc
        assert "crc" not in m  # integrity field never leaks to consumers
        assert len(m["files"]) >= 4

    @pytest.mark.parametrize("cut", ["head", "mid", "tail"])
    def test_truncated_blob_raises_typed_error(self, spark, tmp_path, cut):
        path = self._mk(spark, tmp_path, f"torn_{cut}")
        v = M.current_version(path)
        blob = self._blob(path, v)
        raw = open(blob, "rb").read()
        keep = {"head": 10, "mid": len(raw) // 2, "tail": len(raw) - 2}[cut]
        open(blob, "wb").write(raw[:keep])
        with pytest.raises(M.ManifestCorrupt):
            M.read_manifest(path)
        with pytest.raises(M.ManifestCorrupt):
            M.history(path)

    def test_garbled_but_valid_json_caught_by_crc(self, spark, tmp_path):
        # Flip bytes INSIDE a quoted string: the blob stays parseable
        # JSON, so only the checksum can catch it.
        path = self._mk(spark, tmp_path, "torn_crc")
        v = M.current_version(path)
        blob = self._blob(path, v)
        raw = open(blob, "rb").read()
        i = raw.index(b".parquet")
        open(blob, "wb").write(raw[:i] + b".parqueX" + raw[i + 8 :])
        with pytest.raises(M.ManifestCorrupt, match="checksum mismatch"):
            M.read_manifest(path)

    def test_vacuum_and_restore_refuse_past_corruption(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "torn_ops")
        v = M.current_version(path)
        assert v >= 2
        blob = self._blob(path, v - 1)  # damage a RETAINED older version
        raw = open(blob, "rb").read()
        open(blob, "wb").write(raw[: len(raw) // 2])
        # vacuum's census reads every retained version: it must refuse,
        # not treat the unreadable version's files as unreferenced.
        with pytest.raises(M.ManifestCorrupt):
            M.vacuum(path, retain_versions=2, min_age_seconds=0)
        # restore targets the damaged version: refuse, don't roll back
        # to a half-read file list.
        with pytest.raises(M.ManifestCorrupt):
            M.restore(path, v - 1)
        # data files are all still there (nothing was collected)
        assert M.load_manifest_table(spark, path).count() == 700

    def test_segment_blob_corruption_detected(self, spark, tmp_path, monkeypatch):
        monkeypatch.setattr(M, "MANIFEST_SEGMENT_THRESHOLD", 2)
        path = str(tmp_path / "torn_seg")
        df = spark.range(300).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("g")
        )
        write_range_sorted(df, path, "k", num_partitions=4)
        M.manifest_init(path, stat_cols=["k"])
        segs = M.read_manifest(path).get("segments")
        assert segs  # two-level form engaged under the lowered threshold
        seg_file = os.path.join(path, segs[0])
        raw = open(seg_file, "rb").read()
        i = raw.index(b".parquet")
        open(seg_file, "wb").write(raw[:i] + b".parqueX" + raw[i + 8 :])
        M._SEGMENT_CACHE.clear()
        M._SEGMENT_FILES_MEMO.clear()
        with pytest.raises(M.ManifestCorrupt, match="checksum mismatch"):
            M.read_manifest(path)

    def test_pre_crc_blob_reads_unchecked(self, spark, tmp_path):
        # Backward compatibility: blobs committed before the crc field
        # read fine (absent = unchecked), so existing tables need no
        # migration.
        path = self._mk(spark, tmp_path, "torn_legacy")
        v = M.current_version(path)
        blob = self._blob(path, v)
        import json as _json

        doc = _json.loads(open(blob, "rb").read())
        doc.pop("crc", None)
        open(blob, "wb").write(_json.dumps(doc, indent=0).encode())
        m = M.read_manifest(path)
        assert len(m["files"]) >= 4


class TestReaderVacuumRace:
    """r11 (VERDICT r10 task 3): the reader side of the vacuum contract,
    crash/race-matrix style. (1) vacuum never removes anything a
    RETAINED snapshot references, so a reader pinned inside the
    retention window survives a concurrent vacuum; (2) a reader of an
    EXPIRED snapshot fails with the typed SnapshotExpired error at plan
    time — never a partial result or a FileNotFound mid-collect; (3)
    the reader retention FLOOR mirrors the concurrent-writer age guard:
    a version superseded less than min_age_seconds ago stays fully
    readable, because a long scan may have pinned it while it was
    latest."""

    def _mk(self, spark, tmp_path, name, cdf=False):
        path = str(tmp_path / name)
        spark.range(100).selectExpr(
            "id AS k", "CAST(id % 5 AS DOUBLE) AS v"
        ).coalesce(2).write.parquet(path)
        M.manifest_init(path, stat_cols=["k"])
        if cdf:
            M.enable_cdf(path)
        M.append(
            spark.range(100, 150).selectExpr(
                "id AS k", "CAST(1 AS DOUBLE) AS v"
            ),
            path,
        )
        M.append(
            spark.range(150, 160).selectExpr(
                "id AS k", "CAST(2 AS DOUBLE) AS v"
            ),
            path,
        )
        return path

    @pytest.mark.parametrize("reader", ["time_travel", "cdf_range", "cdf_stream"])
    def test_vacuum_during_read_keeps_retained_snapshots(
        self, spark, tmp_path, reader
    ):
        path = self._mk(spark, tmp_path, f"rv_keep_{reader}", cdf=True)
        cur = M.current_version(path)
        pin = cur - 1  # inside the retain_versions=2 window
        if reader == "time_travel":
            df = M.load_manifest_table(spark, path, version=pin)
        elif reader == "cdf_range":
            df = M.read_changes(spark, path, from_version=pin)
        else:
            from pspcz_analyzer_spark.streaming.cdf_source import (
                register_cdf_source,
            )

            register_cdf_source(spark)
        # vacuum lands BETWEEN plan time and collect time
        M.vacuum(path, retain_versions=2, min_age_seconds=0)
        if reader == "time_travel":
            assert df.count() == 150
        elif reader == "cdf_range":
            got = df.collect()
            assert len(got) == 10
            assert {r["_change_type"] for r in got} == {"insert"}
        else:
            out = str(tmp_path / "rv_keep_out")
            q = (
                spark.readStream.format("manifest")
                .option("tablePath", path)
                .option("startVersion", str(pin))
                .option("readChanges", "true")
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / "rv_keep_ck"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            assert spark.read.parquet(out).count() == 10

    @pytest.mark.parametrize("reader", ["time_travel", "cdf_range", "cdf_stream"])
    def test_expired_snapshot_fails_clean(self, spark, tmp_path, reader):
        path = self._mk(spark, tmp_path, f"rv_exp_{reader}", cdf=True)
        cur = M.current_version(path)
        expired = cur - 1
        M.vacuum(path, retain_versions=1, min_age_seconds=0)
        if reader == "time_travel":
            with pytest.raises(M.SnapshotExpired, match="expired"):
                M.load_manifest_table(spark, path, version=expired)
            # SnapshotExpired IS a FileNotFoundError: pre-r11 handlers
            # keep working
            with pytest.raises(FileNotFoundError):
                M.read_manifest(path, expired)
        elif reader == "cdf_range":
            with pytest.raises(M.SnapshotExpired, match="expired"):
                M.read_changes(spark, path, from_version=expired - 1)
        else:
            from pspcz_analyzer_spark.streaming.cdf_source import (
                register_cdf_source,
            )

            register_cdf_source(spark)
            q = (
                spark.readStream.format("manifest")
                .option("tablePath", path)
                .option("startVersion", str(expired - 1))
                .option("readChanges", "true")
                .load()
                .writeStream.format("parquet")
                .option("path", str(tmp_path / "rv_exp_out"))
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / "rv_exp_ck"))
                .trigger(availableNow=True)
                .start()
            )
            with pytest.raises(Exception, match="expired"):
                q.awaitTermination()
        # the LATEST snapshot is untouched either way
        assert M.load_manifest_table(spark, path).count() == 160

    def test_reader_retention_floor(self, spark, tmp_path):
        path = self._mk(spark, tmp_path, "rv_floor")
        # A rewrite makes the old versions' files real garbage once they
        # expire — an append-only history shares every file with the
        # latest version and vacuum would trivially remove nothing.
        M.delete_where(spark, path, "k < 50")
        cur = M.current_version(path)
        # Every superseded version was retired seconds ago: the floor
        # (min_age mirror of the writer guard) keeps ALL of them fully
        # readable — manifests AND files — so this vacuum removes nothing.
        assert M.vacuum(path, retain_versions=1, min_age_seconds=3600) == 0
        for v in range(1, cur + 1):
            assert M.read_manifest(path, v)["version"] == v
        assert M.load_manifest_table(spark, path, version=1).count() == 100
        # Age 0 disables the floor (single-writer maintenance window):
        # now the old versions really expire and the replaced files go.
        assert M.vacuum(path, retain_versions=1, min_age_seconds=0) > 0
        with pytest.raises(M.SnapshotExpired):
            M.read_manifest(path, 1)
        assert M.load_manifest_table(spark, path).count() == 110
