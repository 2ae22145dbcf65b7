"""``lake``: one client reading and writing a manifest table.

The table is created with ``create_table`` and seeded with an orders-shaped
batch via ``append``. Each cycle lands a micro-batch and drains it with
``stream_append_manifest``, runs ``delete_where``, ``update_where`` and
``merge_into`` on key ranges that favour recent keys, then reads with
``scan_auto`` (a point and a range) and with a time-travel
``load_manifest_table``; every round of three cycles ends with
``compact_small_files``.

Correctness: after the timed phase the operation log is replayed into a
DuckDB model of the table. Every DML's reported counts, every read and
every time-travel read must match the model at that version, the row
count must obey ``rows(v) = rows(v-1) + inserted - deleted``, and a
compaction must leave the contents unchanged.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq

import oplists
import stats
from layers import idle_layers

KEYHASH = "(o_orderkey * 2654435761) % 1000003"
AGG_SQL = f"SELECT count(*), sum(o_totalprice), sum({KEYHASH}) FROM t"
COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
MATCHED_UPDATE = {"o_totalprice": "s.o_totalprice", "o_orderstatus": "s.o_orderstatus"}
MIN_ROUNDS = 2
TAIL_PERCENTILE = stats.tail_percentile(MIN_ROUNDS * oplists.LAKE_ROUND)  # p77
WRITES = ("drain", "delete_where", "update_where", "merge_into")
READS = ("point_read", "range_read", "time_travel")


def user_bytes(rows) -> int:
    """Logical bytes of orders rows: fixed-width fields plus string lengths."""
    return sum(8 + 8 + len(r[2]) + 8 + 4 + len(r[5]) for r in rows)


def _norm_row(r) -> tuple:
    return tuple(round(x, 6) if isinstance(x, float) else x for x in r)


def _rows(rows) -> list:
    return sorted(_norm_row(r) for r in rows)


def _agg_equal(a, b) -> bool:
    (n1, s1, h1), (n2, s2, h2) = a, b
    return n1 == n2 and h1 == h2 and abs((s1 or 0.0) - (s2 or 0.0)) <= 1e-6 * max(1.0, abs(s1 or 0.0))


class Model:
    """The table as DuckDB sees it, with an aggregate snapshot per version."""

    def __init__(self, seed_rows):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE t (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR, "
            "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority VARCHAR)"
        )
        self.insert(seed_rows)
        self.snapshots = {}

    def insert(self, arrow_rows) -> None:
        self.con.register("batch", arrow_rows)
        self.con.execute("INSERT INTO t SELECT * FROM batch")
        self.con.unregister("batch")

    def count(self, where: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM t WHERE {where}").fetchone()[0]

    def agg(self) -> tuple:
        return self.con.execute(AGG_SQL).fetchone()

    def rows(self, where: str = "true") -> list:
        return _rows(self.con.execute(f"SELECT * FROM t WHERE {where}").fetchall())


def check_log(seed_rows, seed_version: int, log: list[dict]) -> tuple[list[str], Model]:
    """Replay the operation log into the model; return errors and the model."""
    m = Model(seed_rows)
    m.snapshots[seed_version] = m.agg()
    version = seed_version
    errors = []

    def commit(e, inserted: int, deleted: int) -> None:
        nonlocal version
        rows_before = m.snapshots[version][0]
        if e["version"] != version:
            version = e["version"]
            m.snapshots[version] = m.agg()
        if m.snapshots[version][0] != rows_before + inserted - deleted:
            errors.append(f"v{version}: rows {m.snapshots[version][0]} != "
                          f"{rows_before} + {inserted} - {deleted}")

    for i, e in enumerate(log):
        kind, p, out = e["kind"], e["p"], e["out"]
        where = f"op {i} {kind}"
        if kind == "drain":
            m.insert(p["rows"])
            if len(out) != 1:
                errors.append(f"{where}: drained {len(out)} batches, landed 1")
            commit(e, p["rows"].num_rows, 0)
        elif kind == "delete_where":
            n = m.count(p["predicate"])
            if out[1] != n:
                errors.append(f"{where}: reported {out[1]} deleted, model matches {n}")
            m.con.execute(f"DELETE FROM t WHERE {p['predicate']}")
            commit(e, 0, out[1])
        elif kind == "update_where":
            n = m.count(p["predicate"])
            if out[1] != n:
                errors.append(f"{where}: reported {out[1]} updated, model matches {n}")
            sets = ", ".join(f"{c} = {x}" for c, x in p["set"].items())
            m.con.execute(f"UPDATE t SET {sets} WHERE {p['predicate']}")
            commit(e, 0, 0)
        elif kind == "merge_into":
            m.con.register("s", p["rows"])
            matched = m.con.execute(
                "SELECT count(*) FROM s JOIN t USING (o_orderkey)").fetchone()[0]
            if (out["updated"], out["inserted"], out["deleted"]) != (
                    matched, p["rows"].num_rows - matched, 0):
                errors.append(f"{where}: reported {out}, model matched {matched}")
            m.con.execute(
                "UPDATE t SET o_totalprice = s.o_totalprice, o_orderstatus = s.o_orderstatus "
                "FROM s WHERE t.o_orderkey = s.o_orderkey")
            m.con.execute("INSERT INTO t SELECT * FROM s WHERE o_orderkey NOT IN "
                          "(SELECT o_orderkey FROM t)")
            m.con.unregister("s")
            commit(e, out["inserted"], 0)
        elif kind == "compact":
            commit(e, 0, 0)
        elif kind == "point_read":
            if _rows(out) != m.rows(f"o_orderkey = {p['key']}"):
                errors.append(f"{where}: rows differ from the model")
        elif kind == "range_read":
            if _rows(out) != m.rows(f"o_orderkey BETWEEN {p['lo']} AND {p['hi']}"):
                errors.append(f"{where}: rows differ from the model")
        elif kind == "time_travel":
            want = m.snapshots.get(e["read_version"])
            if want is None or not _agg_equal(tuple(out), want):
                errors.append(f"{where}: v{e['read_version']} reads {out}, model {want}")
    return errors, m


def spark_agg(M, spark, table: str, version: int | None = None):
    import pyspark.sql.functions as F

    df = M.load_manifest_table(spark, table, version=version)
    r = df.agg(F.count(F.lit(1)), F.sum("o_totalprice"), F.sum(F.expr(KEYHASH))).collect()[0]
    return tuple(r)


def data_files(table: str) -> dict[str, int]:
    """Data files on disk in the table directory, by name, with sizes."""
    return {
        n: os.path.getsize(os.path.join(table, n))
        for n in os.listdir(table)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    }


def run(h) -> dict[str, tuple[float, str]]:
    import pspcz_analyzer_spark.manifest as M
    from pspcz_analyzer_spark.streaming import lake as L

    root = os.path.join(h.work, "lake")
    table, landing, ckpt = (os.path.join(root, d) for d in ("orders", "landing", "ckpt"))
    os.makedirs(landing)
    plan = oplists.LakePlan(h.seed)
    seed_rows = plan.seed_rows()
    seed_path = os.path.join(root, "seed.parquet")
    pq.write_table(seed_rows, seed_path)
    spark = h.start()
    M.create_table(table, oplists.LAKE_DDL, stat_cols=["o_orderkey"])
    M.append(spark.read.schema(oplists.LAKE_DDL).parquet(seed_path), table)
    seed_version = M.current_version(table)
    read_manifest = M.read_manifest  # unwrapped, for the tracer's own bookkeeping

    log: list[dict] = []
    files_read: list[tuple[int, int]] = []

    def scan(df):
        if h.tracer:
            live = len(read_manifest(table)["files"])
            files_read.append((len(df.inputFiles()), live))
        return [tuple(r) for r in df.collect()]

    def execute(op):
        kind, p = op
        e = {"kind": kind, "p": p}
        if kind == "drain":
            pq.write_table(p["rows"], os.path.join(landing, f"batch-{len(log):06d}.parquet"))
            e["out"] = L.stream_append_manifest(
                spark, landing, table, ckpt, schema=oplists.LAKE_DDL)
        elif kind == "delete_where":
            e["out"] = M.delete_where(spark, table, p["predicate"])
        elif kind == "update_where":
            e["out"] = M.update_where(spark, table, p["predicate"], p["set"])
        elif kind == "merge_into":
            src = spark.createDataFrame(
                [tuple(r.values()) for r in p["rows"].to_pylist()], oplists.LAKE_DDL)
            e["out"] = M.merge_into(spark, table, src, "o_orderkey",
                                    when_matched_update=MATCHED_UPDATE)
        elif kind == "compact":
            e["out"] = M.compact_small_files(spark, table)
        elif kind == "point_read":
            e["out"] = scan(M.scan_auto(spark, table, eq={"o_orderkey": p["key"]}))
        elif kind == "range_read":
            e["out"] = scan(M.scan_auto(spark, table, ranges={"o_orderkey": (p["lo"], p["hi"])}))
        elif kind == "time_travel":
            v = max(seed_version, M.current_version(table) - p["back"])
            e["read_version"] = v
            e["out"] = spark_agg(M, spark, table, v)
        e["version"] = M.current_version(table)
        log.append(e)

    h.note("table seeded")
    for op in plan.warmup():
        execute(op)
        h.note(f"warm-up {op[0]}")
    n_warm = len(log)
    files0 = data_files(table)
    t = h.tracer
    if t:
        t.install_spark()
        t.install_manifest(M, L)
    h.timed(plan.next_round, execute, MIN_ROUNDS)

    # The log holds the operations that returned; a failed one that still
    # committed shows as a version the model cannot account for.
    errors, model = check_log(seed_rows, seed_version, log)
    h.errors.extend(errors)
    # Spark-side reads the timed phase did not make: every compaction
    # kept its input's contents, and the latest version equals the model.
    for i, e in enumerate(log):
        if e["kind"] == "compact" and i > 0:
            before = log[i - 1]["version"]
            if not _agg_equal(spark_agg(M, spark, table, e["version"]),
                              spark_agg(M, spark, table, before)):
                h.errors.append(f"compaction v{before}->v{e['version']} changed contents")
    final = [tuple(r) for r in M.load_manifest_table(spark, table).collect()]
    if _rows(final) != model.rows():
        h.errors.append("latest version differs from the model")
    h.checked = True

    metrics = h.end_to_end(TAIL_PERCENTILE)
    if not t:
        return metrics
    timed = log[n_warm:]
    n = h.attempted
    lat = {k: [x * 1000 for x, kk in zip(h.latencies, h.kinds) if kk == k]
           for k in set(h.kinds)}
    writes = [x for k in WRITES for x in lat.get(k, [])]
    reads = [x for k in READS for x in lat.get(k, [])]
    live = read_manifest(table)["files"]
    on_disk = data_files(table)
    referenced = set()
    for v in range(1, M.current_version(table) + 1):
        referenced.update(read_manifest(table, v)["files"])
    if set(on_disk) != referenced:
        h.errors.append(f"{len(set(on_disk) ^ referenced)} data files on disk and in "
                        "the manifest history disagree")
    model_rows = model.rows()
    written = sum(sz for f, sz in on_disk.items() if f not in files0)
    landed = [e["p"]["rows"] for e in timed if e["kind"] in ("drain", "merge_into")]
    user_written = sum(user_bytes([tuple(r.values()) for r in b.to_pylist()]) for b in landed)
    dml = [e for e in timed if e["kind"] in ("delete_where", "update_where", "merge_into")]
    rewritten = sum(e["out"]["files_rewritten"] if isinstance(e["out"], dict) else e["out"][0]
                    for e in dml)
    drains = [e for e in timed if e["kind"] == "drain"]
    drain_ms = lat.get("drain", [0.0])
    reads_ratio = [a / b for a, b in files_read if b]
    manifest_spans = [s for s in t.spans if s["name"] == "manifest.read_manifest"]
    layer = h.exec_layer()
    layer.update({
        "manifest.read_manifest_calls": (len(manifest_spans) / n, "count"),
        "manifest.read_manifest_ms": (t.self_ms("manifest.read_manifest") / n, "ms"),
        "manifest.log_bytes": (t.manifest_bytes / n, "bytes"),
        "manifest.versions": (float(M.current_version(table)), "count"),
        "manifest.files_live": (float(len(live)), "count"),
        "manifest.files_read_ratio": (sum(reads_ratio) / max(1, len(reads_ratio)), "ratio"),
        "manifest.files_rewritten": (rewritten / max(1, len(dml)), "count"),
        "manifest.write_p50_ms": (stats.percentile(writes, 50), "ms"),
        "manifest.read_p50_ms": (stats.percentile(reads, 50), "ms"),
        "manifest.maintenance_ms": (sum(lat.get("compact", [])) / max(1, len(lat.get("compact", []))), "ms"),
        "manifest.bytes_written_per_user_byte": (written / max(1, user_written), "ratio"),
        "manifest.bytes_stored_per_user_byte": (
            sum(on_disk[f] for f in live) / max(1, user_bytes(model_rows)), "ratio"),
        "streaming.drain_ms": (sum(drain_ms) / len(drain_ms), "ms"),
        "streaming.batches": (sum(len(e["out"]) for e in drains) / max(1, len(drains)), "count"),
        "streaming.rows_per_s": (
            sum(e["p"]["rows"].num_rows for e in drains) / (sum(drain_ms) / 1000.0), "1/s"),
    })
    h.write_trace()
    return {**layer, **idle_layers("serving")}
