"""One snapshot per manifest operation: scans plan and read the version
they read once, even when a commit lands mid-plan; DML stages under the
column mapping of the version it read; metadata-only commits
carry every field they do not own; adopted Parquet timestamps keep the
type Spark reads them back as."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from pspcz_analyzer_spark import manifest as M
from pspcz_analyzer_spark.jobs import write_range_sorted


def _small_file_table(spark, tmp_path, name="snap"):
    df = spark.range(600).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g")
    )
    path = str(tmp_path / name)
    write_range_sorted(df, path, "k", num_partitions=6)
    M.manifest_init(path, stat_cols=["k"])
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "pred",
    [{"eq": {"k": 42}}, {"ranges": {"k": (100, 450)}}],
    ids=["eq", "ranges"],
)
def test_scan_auto_reads_the_version_it_planned(
    spark, tmp_path, monkeypatch, pred
):
    """A compaction committing right after the scan's manifest read must
    not change what the scan returns: every pruning source and the read
    itself use the snapshot read first."""
    path = _small_file_table(spark, tmp_path)
    v = M.current_version(path)
    real_read = M.read_manifest
    fired = {"v": None}

    def read_then_compact(p, version=None):
        m = real_read(p, version)
        if fired["v"] is None:
            fired["v"] = m["version"]
            merged, _written = M.compact_small_files(
                spark, p, target_bytes=1 << 20
            )
            assert merged == 6  # every file of the read version replaced
        return m

    monkeypatch.setattr(M, "read_manifest", read_then_compact)
    got = _rows(M.scan_auto(spark, path, **pred))
    monkeypatch.setattr(M, "read_manifest", real_read)
    assert fired["v"] == v and M.current_version(path) == v + 1
    eq = pred.get("eq", {})
    ranges = pred.get("ranges", {})
    cond = F.lit(True)
    for c, val in eq.items():
        cond = cond & (F.col(c) == val)
    for c, (lo, hi) in ranges.items():
        cond = cond & F.col(c).between(lo, hi)
    want = _rows(M.load_manifest_table(spark, path, v).filter(cond))
    assert want and got == want


def test_scans_read_the_manifest_once(spark, tmp_path, monkeypatch):
    path = _small_file_table(spark, tmp_path)
    M.ensure_blooms(spark, path, "g")
    real_read = M.read_manifest
    calls = []

    def counting(p, version=None):
        calls.append(version)
        return real_read(p, version)

    monkeypatch.setattr(M, "read_manifest", counting)
    scans = {
        "scan_auto eq": lambda: M.scan_auto(spark, path, eq={"k": 5, "g": 5}),
        "scan_auto ranges+nulls": lambda: M.scan_auto(
            spark, path, ranges={"k": (10, 90)}, nulls={"g": False}
        ),
        "scan_auto no file kept": lambda: M.scan_auto(
            spark, path, ranges={"k": (10_000, 20_000)}
        ),
        "scan_dnf": lambda: M.scan_dnf(
            spark, path, [{"eq": {"k": 5}}, {"ranges": {"k": (300, 320)}}]
        ),
        "scan_estimate": lambda: M.scan_estimate(path, eq={"g": 3}),
    }
    for name, scan in scans.items():
        del calls[:]
        scan()
        assert len(calls) == 1, (name, calls)


# op name -> (call, manifest fields the op may change)
_METADATA_OPS = {
    "set_constraint": (
        lambda spark, p: M.set_constraint(spark, p, "k_nonneg", "k >= 0"),
        {"constraints"},
    ),
    "drop_constraint": (
        lambda spark, p: M.drop_constraint(p, "g_small"),
        {"constraints"},
    ),
    "set_table_properties": (
        lambda spark, p: M.set_table_properties(p, owner="etl"),
        {"props"},
    ),
    "add_column": (
        lambda spark, p: M.add_column(p, "note", "string"),
        {"schema"},
    ),
    "rename_column": (
        lambda spark, p: M.rename_column(p, "v", "w"),
        {"schema", "colmap"},
    ),
    "analyze_columns": (
        lambda spark, p: M.analyze_columns(p, ["g"]),
        {"stats", "stat_cols"},
    ),
}
# Fields every commit sets for itself.
_PER_COMMIT = {"version", "ts", "op", "protocol", "cdf_files"}


@pytest.fixture(scope="module")
def rich_base(spark, tmp_path_factory):
    """A table whose manifest fills every carried field a metadata-only
    commit could drop: stats, rows, seq, blooms, partition spec and
    values, constraints, props, writer watermarks, pending deletes."""
    path = str(tmp_path_factory.mktemp("carry") / "t")
    df = spark.range(60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    write_range_sorted(df.filter("k < 30"), path, "k", num_partitions=2)
    M.manifest_init(path, stat_cols=["k"])
    M.set_partition_spec(path, ["g"])
    M.append(df.filter("k >= 30"), path, txn=("app", 7))
    M.set_constraint(spark, path, "g_small", "g < 3")
    M.set_table_properties(path, team="lake")
    M.ensure_blooms(spark, path, "k")
    M.delete_keys_mor(spark, path, "k", [1, 2])
    base = M.read_manifest(path)
    for field in ("stats", "rows", "seq", "blooms", "partitions", "specs",
                  "constraints", "props", "txns", "deletes"):
        assert base.get(field), field
    return path


@pytest.mark.parametrize("op", sorted(_METADATA_OPS))
def test_metadata_commit_carries_every_field_it_does_not_own(
    spark, rich_base, tmp_path, op
):
    path = str(tmp_path / "copy")
    shutil.copytree(rich_base, path)
    base = M.read_manifest(path)
    call, owned = _METADATA_OPS[op]
    v = call(spark, path)
    new = M.read_manifest(path)
    assert v == new["version"] == base["version"] + 1
    skip = owned | _PER_COMMIT
    assert {k: x for k, x in new.items() if k not in skip} == {
        k: x for k, x in base.items() if k not in skip
    }
    assert any(new.get(k) != base.get(k) for k in owned), owned


@pytest.mark.parametrize("adopt", ["manifest_init", "convert_to_manifest"])
def test_adopted_ntz_timestamps_accept_their_own_data(
    spark, tmp_path, adopt
):
    """Spark writes TIMESTAMP_NTZ as Parquet TIMESTAMP(isAdjustedToUTC=
    false); adoption must record it as timestamp_ntz, or the first append
    of the same data is refused as a type change."""
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 12, 0), 0),
         (2, dt.datetime(2024, 1, 2, 8, 30), 1)],
        "k long, ts timestamp_ntz, p long",
    )
    path = str(tmp_path / adopt)
    if adopt == "manifest_init":
        df.write.parquet(path)
        M.manifest_init(path)
    else:
        df.write.partitionBy("p").parquet(path)
        M.convert_to_manifest(path)
    assert dict(M.read_manifest(path)["schema"])["ts"] == "timestamp_ntz"
    M.append(df, path)
    got = M.load_manifest_table(spark, path)
    assert got.count() == 4
    assert _rows(got.filter("k = 2").select("ts")) == [
        (dt.datetime(2024, 1, 2, 8, 30),)
    ] * 2


def test_datetime_bounds_prune_against_iso_stats(spark, tmp_path):
    """Timestamp and date stats are stored as ISO strings; datetime and
    date bounds must compare in that form instead of raising TypeError."""
    m = {"files": ["a"], "stats": {"a": {"ts": ["2024-01-01T00:00:00", "2024-01-02T00:00:00", 0]}}}
    assert M.prune_files_multi(
        m, {"ts": (dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 3))}
    ) == (["a"], 1)
    assert M.prune_files_multi(m, {"ts": (dt.date(2024, 1, 3), dt.date(2024, 1, 9))}) == ([], 1)

    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1 + i // 3, i % 3)) for i in range(12)],
        "k long, ts timestamp_ntz",
    )
    path = str(tmp_path / "ts_stats")
    write_range_sorted(df, path, "ts", num_partitions=4)
    M.manifest_init(path, stat_cols=["ts"])
    lo, hi = dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 2, 23)
    kept, total = M.prune_files_multi(M.read_manifest(path), {"ts": (lo, hi)})
    assert total == 4 and len(kept) == 1
    got = M.scan_auto(spark, path, ranges={"ts": (lo, hi)})
    assert sorted(r.k for r in got.collect()) == [3, 4, 5]


def _dml_table(spark, tmp_path):
    """(k, g, w) table of 60 rows in 3 files whose column w is physically
    v: one rename already committed, so staging must map w -> v."""
    df = spark.range(60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    path = str(tmp_path / "dml")
    write_range_sorted(df, path, "k", num_partitions=3)
    M.manifest_init(path, stat_cols=["k"])
    M.rename_column(path, "v", "w")
    return path


def _dml_ops(spark):
    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            (F.col("id") * 2).alias("w"),
        )

    return {
        "append": lambda p: M.append(batch(100, 110), p),
        "delete_where": lambda p: M.delete_where(spark, p, "k < 5"),
        "update_where": lambda p: M.update_where(
            spark, p, "k < 5", {"g": "g + 10"}
        ),
        "merge_into": lambda p: M.merge_into(spark, p, batch(55, 65), "k"),
    }


@pytest.mark.parametrize("op", ["append", "delete_where", "update_where", "merge_into"])
def test_dml_reads_the_manifest_once(spark, tmp_path, monkeypatch, op):
    """Staging takes its column mapping (and append its partition spec)
    from the operation's snapshot instead of reading the latest manifest
    again."""
    path = _dml_table(spark, tmp_path)
    real_read = M.read_manifest
    calls = []

    def counting(p, version=None):
        calls.append(version)
        return real_read(p, version)

    monkeypatch.setattr(M, "read_manifest", counting)
    _dml_ops(spark)[op](path)
    assert len(calls) == 1, calls


@pytest.mark.parametrize("op", ["append", "delete_where", "update_where", "merge_into"])
def test_staging_keeps_the_snapshot_column_mapping(spark, tmp_path, monkeypatch, op):
    """A second rename (w -> x) committing right after the operation's
    manifest read must not re-map the rows it stages: they carry the
    snapshot's logical w, physically v, and must be written as v — under
    the latest mapping they would be written as w, a column no version
    maps. The rename then refuses the commit, as any concurrent schema
    change does."""
    path = _dml_table(spark, tmp_path)
    real_read, real_stage = M.read_manifest, M._stage_rewrites
    fired, staged = [], []

    def read_then_rename(p, version=None):
        m = real_read(p, version)
        if not fired:
            fired.append(m["version"])
            M.rename_column(p, "w", "x")
        return m

    def recording(df, p, *args):
        names = real_stage(df, p, *args)
        staged.extend(pq.read_schema(os.path.join(p, n)).names for n in names)
        return names

    monkeypatch.setattr(M, "read_manifest", read_then_rename)
    monkeypatch.setattr(M, "_stage_rewrites", recording)
    with pytest.raises(M.CommitConflict):
        _dml_ops(spark)[op](path)
    assert fired and staged
    for names in staged:
        assert "v" in names and "w" not in names, names
