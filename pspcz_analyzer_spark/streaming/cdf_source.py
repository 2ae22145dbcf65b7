"""Streaming change-data-feed SOURCE for manifest tables — Delta's
``spark.readStream.format("delta").option("readChangeFeed", ...)`` in
minimal form, built on Spark 4's Python DataSource API (SPARK-44076).

The manifest's per-file SEQUENCE numbers (the version each data file was
added at) are a ready-made change feed for append-only tables: an offset
is just a table version, a micro-batch is "files with seq in
(start, end]", and each file becomes one input partition read
EXECUTOR-side as Arrow batches. No listener, no polling state, no side
checkpoint — the streaming engine's own offset log holds the version
watermark, so restarts resume exactly-once from the committed version.

Contract: APPEND-ONLY change feed (the same contract as
``manifest.read_version_delta``): delete/upsert/compaction REWRITES
surface their output files as adds — run the feed on ingest tables, or
route through ``snapshot_diff`` for rewrite-aware deltas.

Usage::

    from pspcz_analyzer_spark.streaming.cdf_source import register_cdf_source
    register_cdf_source(spark)
    stream = (spark.readStream.format("manifest")
              .option("tablePath", path)
              .option("startVersion", "0")   # 0 = current snapshot first
              .load())

and the EXACTLY-ONCE sink direction (Delta's transactional streaming
write) through the same format::

    (df.writeStream.format("manifest")
       .option("tablePath", path)
       .option("txnAppId", "my_pipeline")    # idempotence scope
       .option("checkpointLocation", ck).start())

Every output row carries ``_commit_version`` — the version whose commit
added it (Delta's ``_commit_version`` CDF column).

With ``.option("readChanges", "true")`` (requires ``manifest.enable_cdf``
on the table) the stream serves the ROW-LEVEL feed instead — Delta's
``readChangeFeed``: DML commits arrive as typed change rows
(``_change_type`` in insert / update_preimage / update_postimage /
delete) from their recorded ``_changes/`` files, appends as synthesized
inserts, data-neutral commits as nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)


class _FileSlice(InputPartition):
    """One added data file: absolute path, its commit version, the
    (logical name, ddl type, physical name) triples to reassemble the
    declared schema from the file's physical columns, plus the file's
    initial-default fill values and identity specs (batch/stream reads
    must match load_manifest_table row-for-row)."""

    def __init__(
        self,
        abs_path: str,
        version: int,
        cols: list,
        fills: "list | None" = None,
        ident: "list | None" = None,
    ):
        self.abs_path = abs_path
        self.version = version
        self.cols = cols
        self.fills = fills
        self.ident = ident


def _slice_features(doc: dict, fname: str) -> "tuple[list | None, list | None]":
    """(fills, ident) for one data file. ``fills`` holds the PYTHON
    values of initial defaults for columns the file physically predates
    (the SQL literal is evaluated here, driver-side, via DuckDB so
    executors never parse SQL); ``ident`` holds (col, start, step, base)
    for identity columns with the file's ordinal base. Mirrors the
    file->seq / file->base broadcast joins of manifest._read_files."""
    fills = []
    seq = int((doc.get("seq") or {}).get(fname, 0))
    types = {n: t for n, t in (doc.get("schema") or [])}
    for c, d in (doc.get("defaults") or {}).items():
        lit = d.get("initial")
        if lit is None or c not in types or seq >= int(d.get("since", 0)):
            continue
        fills.append((c, _eval_default_literal(lit, types[c])))
    # Hive-adopted partition columns (convert_to_manifest): the value
    # lives in the file's recorded directory token, not its bytes — a
    # per-file constant, exactly like an initial default. Physical
    # values still win (fills apply only when the column is absent), so
    # rewrite outputs are unaffected.
    from pspcz_analyzer_spark.manifest import HIVE_NULL_TOKEN

    pf = [
        c
        for c in ((doc.get("props") or {}).get("pfill") or "").split(",")
        if c
    ]
    ptoks = (doc.get("partitions") or {}).get(fname) or {}
    for c in pf:
        tok = ptoks.get(c)
        if c not in types or tok is None or tok == HIVE_NULL_TOKEN:
            continue
        lit = "'" + str(tok).replace("'", "''") + "'"
        fills.append((c, _eval_default_literal(lit, types[c])))
    ident = [
        (
            c,
            int(spec.get("start", 1)),
            int(spec.get("step", 1)),
            (
                int((spec.get("base") or {})[fname])
                if fname in (spec.get("base") or {})
                else None
            ),
        )
        for c, spec in (doc.get("identity") or {}).items()
        if c in types
    ]
    return fills or None, ident or None


_DEFAULT_LIT_CACHE: dict = {}


def _eval_default_literal(lit: str, ddl: str):
    """Evaluate one initial-default SQL literal to a Python value,
    memoized per (literal, type) — the plan builds one slice PER FILE,
    and a million-file table must not run a million DuckDB casts."""
    key = (lit, ddl)
    if key not in _DEFAULT_LIT_CACHE:
        import duckdb

        _DEFAULT_LIT_CACHE[key] = duckdb.sql(
            f"SELECT CAST(({lit}) AS {_duck_type(ddl)})"
        ).fetchone()[0]
    return _DEFAULT_LIT_CACHE[key]


def _apply_slice_features(tbl, arr, n: int, logical: str, partition):
    """Layer a slice's default fill / identity computation onto one
    column array (physical value wins per row, like the batch reader)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    fillmap = dict(partition.fills or [])
    identmap = {
        c: (s, st, b) for c, s, st, b in (getattr(partition, "ident", None) or [])
    }
    if arr is None and logical in fillmap:
        arr = pa.array([fillmap[logical]] * n)
    if logical in identmap:
        s, st, b = identmap[logical]
        if b is not None:
            computed = pa.array(
                [s + st * (b + i) for i in range(n)], type=pa.int64()
            )
            arr = computed if arr is None else pc.coalesce(arr, computed)
    return arr if arr is not None else pa.nulls(n)


def _check_stream_schema(pinned: "list | None", cols: list, path: str, v: int):
    """A batch version whose schema no longer matches the stream's pinned
    one must FAIL the stream, loudly (Delta's rule: schema changes
    require a stream restart, which re-pins and resumes from the
    checkpointed offset) — yielding shape-mismatched batches instead
    would corrupt or crypticly kill the query."""
    if pinned is None:
        return
    data_cols = [n for n in pinned if not n.startswith("_")]
    now = [n for n, _t, _p in cols]
    if now != data_cols:
        raise RuntimeError(
            f"{path}@{v}: table schema changed mid-stream "
            f"({data_cols} -> {now}); restart the stream to pick up the "
            "new schema (the checkpoint resumes from the same offset)"
        )


class ManifestCDFStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        table_path: str,
        start_version: int,
        pinned_cols: "list | None" = None,
    ):
        self._path = table_path
        self._start = start_version
        self._pinned = pinned_cols

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        from pspcz_analyzer_spark.manifest import current_version

        return {"version": current_version(self._path)}

    def partitions(self, start: dict, end: dict):
        from pspcz_analyzer_spark.manifest import read_manifest

        sv, ev = int(start["version"]), int(end["version"])
        if ev <= sv:
            return []

        m = read_manifest(self._path, ev)
        seq = m.get("seq") or {}
        colmap = m.get("colmap") or {}
        cols = [
            (n, t, colmap.get(n, n)) for n, t in (m.get("schema") or [])
        ]
        _check_stream_schema(self._pinned, cols, self._path, ev)
        return [
            _FileSlice(
                os.path.join(self._path, f), int(seq.get(f, 0)), cols,
                *_slice_features(m, f),
            )
            for f in m["files"]
            if sv < int(seq.get(f, 0)) <= ev
        ]

    def read(self, partition: _FileSlice):
        yield from _read_file_slice(partition)

    def commit(self, end: dict) -> None:
        pass


def _read_file_slice(partition: _FileSlice):
    """Executor-side: one parquet file -> Arrow batches projected to the
    declared logical schema (physical->logical mapping and null-fill for
    pre-evolution files happen here, mirroring manifest._read_files) +
    the constant _commit_version column. Shared by the streaming and
    batch read paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(partition.abs_path)
    n = tbl.num_rows
    arrays, names = [], []
    for logical, _ddl, physical in partition.cols:
        arr = tbl[physical] if physical in tbl.column_names else None
        arrays.append(_apply_slice_features(tbl, arr, n, logical, partition))
        names.append(logical)
    arrays.append(pa.array([partition.version] * n, type=pa.int64()))
    names.append("_commit_version")
    out = pa.table(arrays, names=names)
    yield from out.to_batches(max_chunksize=1 << 16)


class _ChangeSlice(InputPartition):
    """One change-feed input: a change file (carries its own
    _change_type column) or an appended data file (every row a constant
    'insert'), plus the commit version and schema triples."""

    def __init__(
        self, abs_path, version, cols, fixed_type,
        fills=None, ident=None,
    ):
        self.abs_path = abs_path
        self.version = version
        self.cols = cols
        self.fixed_type = fixed_type
        # Change files carry explicit values (staged from the alive view,
        # defaults/identity already applied); synthesized-insert slices
        # read raw appended files and need the fill/identity plan.
        self.fills = fills
        self.ident = ident


class ManifestRowCDFStreamReader(DataSourceStreamReader):
    """Streaming ROW-LEVEL change feed (Delta readChangeFeed streaming):
    each micro-batch serves the versions in (start, end] as change rows
    — DML commits from their recorded cdf_files (insert /
    update_preimage / update_postimage / delete), pure appends
    synthesized as inserts from the sequence map, data-neutral commits
    as nothing. A version the feed cannot represent fails the stream
    (the same honesty rule as manifest.read_changes). Offsets are table
    versions held in the engine's checkpoint — exactly-once restarts
    for free, like the adds-only reader."""

    def __init__(
        self,
        table_path: str,
        start_version: int,
        pinned_cols: "list | None" = None,
    ):
        self._path = table_path
        self._start = start_version
        self._pinned = pinned_cols

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        from pspcz_analyzer_spark.manifest import current_version

        return {"version": current_version(self._path)}

    def partitions(self, start: dict, end: dict):
        from pspcz_analyzer_spark.manifest import _cdf_on, read_manifest

        sv, ev = int(start["version"]), int(end["version"])
        if ev <= sv:
            return []
        out = []
        for v in range(sv + 1, ev + 1):
            doc = read_manifest(self._path, v)
            colmap = doc.get("colmap") or {}
            cols = [
                (n, t, colmap.get(n, n)) for n, t in (doc.get("schema") or [])
            ]
            _check_stream_schema(self._pinned, cols, self._path, v)
            if "cdf_files" in doc:
                out += [
                    _ChangeSlice(
                        os.path.join(self._path, f), v, cols, None
                    )
                    for f in doc["cdf_files"]
                ]
                continue
            if not _cdf_on(doc):
                raise ValueError(
                    f"change feed not enabled as of version {v} of "
                    f"{self._path}"
                )
            prev = read_manifest(self._path, v - 1)
            pure_append = set(prev["files"]) <= set(doc["files"]) and (
                prev.get("deletes") or []
            ) == (doc.get("deletes") or [])
            if not pure_append:
                raise ValueError(
                    f"version {v} of {self._path} was committed by an "
                    "operation that does not record a change feed"
                )
            seq = doc.get("seq") or {}
            out += [
                _ChangeSlice(
                    os.path.join(self._path, f), v, cols, "insert",
                    *_slice_features(doc, f),
                )
                for f in doc["files"]
                if int(seq.get(f, 0)) == v
            ]
        return out

    def read(self, partition: _ChangeSlice):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pq.read_table(partition.abs_path)
        n = tbl.num_rows
        arrays, names = [], []
        for logical, _ddl, physical in partition.cols:
            # Change files are written under LOGICAL names at their
            # commit; appended data files carry physical names.
            if logical in tbl.column_names:
                arr = tbl[logical]
            elif physical in tbl.column_names:
                arr = tbl[physical]
            else:
                arr = None
            arrays.append(
                _apply_slice_features(tbl, arr, n, logical, partition)
            )
            names.append(logical)
        if partition.fixed_type is not None:
            arrays.append(
                pa.array([partition.fixed_type] * n, type=pa.string())
            )
        else:
            arrays.append(tbl["_change_type"])
        names.append("_change_type")
        arrays.append(pa.array([partition.version] * n, type=pa.int64()))
        names.append("_commit_version")
        yield from pa.table(arrays, names=names).to_batches(
            max_chunksize=1 << 16
        )

    def commit(self, end: dict) -> None:
        pass


class ManifestBatchReader(DataSourceReader):
    """Batch read of a manifest table through the same format —
    ``spark.read.format("manifest").option("tablePath", p)`` — with
    ``versionAsOf`` time travel. The snapshot (file list + schema +
    colmap, pinned at reader construction like load_manifest_table) maps
    to one Arrow partition per data file; rows carry _commit_version
    from the seq map. NB: pending merge-on-read delete entries are NOT
    applied on this path (it is the raw-adds view, same contract as the
    change feed); use load_manifest_table for delete-aware reads."""

    def __init__(self, table_path: str, version: "int | None"):
        from pspcz_analyzer_spark.manifest import read_manifest

        self._path = table_path
        m = read_manifest(table_path, version)
        seq = m.get("seq") or {}
        colmap = m.get("colmap") or {}
        cols = [(n, t, colmap.get(n, n)) for n, t in (m.get("schema") or [])]
        self._slices = [
            _FileSlice(
                os.path.join(table_path, f), int(seq.get(f, 0)), cols,
                *_slice_features(m, f),
            )
            for f in m["files"]
        ]

    def partitions(self):
        return self._slices

    def read(self, partition: _FileSlice):
        yield from _read_file_slice(partition)


class ManifestCDFDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "manifest"

    def schema(self) -> str:
        from pspcz_analyzer_spark.manifest import read_manifest

        path = self.options.get("tablepath") or self.options.get("tablePath")
        if not path:
            raise ValueError("manifest source/sink requires option 'tablePath'")
        v = self.options.get("versionasof")
        schema = read_manifest(
            path, int(v) if v is not None else None
        ).get("schema") or []
        if not schema:
            raise ValueError(
                f"{path} has no manifest schema; init or append first"
            )
        ddl = ", ".join(f"{n} {t}" for n, t in schema)
        if self.options.get("readchanges", "").lower() == "true":
            return f"{ddl}, _change_type string, _commit_version bigint"
        return f"{ddl}, _commit_version bigint"

    def streamReader(self, schema):
        path = self.options["tablePath"]
        start = int(self.options.get("startversion", 0))
        pinned = [f.name for f in schema.fields]
        if self.options.get("readchanges", "").lower() == "true":
            return ManifestRowCDFStreamReader(path, start, pinned)
        return ManifestCDFStreamReader(path, start, pinned)

    def reader(self, schema) -> ManifestBatchReader:
        path = self.options.get("tablepath") or self.options.get("tablePath")
        if not path:
            raise ValueError("manifest source requires option 'tablePath'")
        v = self.options.get("versionasof")
        return ManifestBatchReader(path, int(v) if v is not None else None)

    def streamWriter(self, schema, overwrite: bool) -> "ManifestStreamWriter":
        if overwrite:
            raise ValueError("manifest sink is append-only (outputMode append)")
        path = self.options.get("tablepath") or self.options.get("tablePath")
        if not path:
            raise ValueError("manifest sink requires option 'tablePath'")
        app = self.options.get("txnappid", "manifest_sink")
        return ManifestStreamWriter(path, app)


class _SinkMsg(WriterCommitMessage):
    def __init__(self, names: list):
        self.names = names


def _duck_type(spark_type: str) -> str:
    """Spark SQL type name -> DuckDB type name for generated-column
    casts (the handful the engine's schemas actually use)."""
    t = spark_type.lower()
    return {
        "string": "VARCHAR",
        "binary": "BLOB",
        "long": "BIGINT",
        "int": "INTEGER",
        "short": "SMALLINT",
        "byte": "TINYINT",
        "float": "REAL",
    }.get(t, t)


class ManifestStreamWriter(DataSourceStreamArrowWriter):
    """Exactly-once streaming SINK: each task writes its Arrow batches
    as ONE additive parquet file directly into the table directory
    (invisible to readers until the commit — the manifest's staging
    convention), under PHYSICAL column names; the driver-side commit
    publishes one manifest version referencing old + new files with the
    txn watermark (txnAppId, batchId), so a replayed micro-batch after
    a crash is a metadata no-op and its re-written files are removed
    instead of double-appended — Delta's transactional sink protocol on
    the Python DataSource API instead of foreachBatch."""

    def __init__(self, table_path: str, app_id: str):
        from pspcz_analyzer_spark.manifest import read_manifest

        self._path = table_path
        self._app = app_id
        m = read_manifest(table_path)
        self._schema = m.get("schema") or []
        self._colmap = m.get("colmap") or {}
        self._constraints = m.get("constraints") or {}
        self._generated = m.get("generated") or {}
        self._identity = sorted(m.get("identity") or {})
        self._defaults = {
            c: d["write"]
            for c, d in (m.get("defaults") or {}).items()
            if d.get("write") is not None
        }
        self._types = {n: t for n, t in self._schema}

    # -- executor side -----------------------------------------------
    def _validate_batch(self, tbl):
        """Enforce the table's invariants on one task's Arrow batches —
        the same gate :func:`manifest.append` runs (CHECK constraints,
        generated-column fill/validate, no unknown columns), evaluated
        HERE on the Arrow data via DuckDB so a stream can never commit
        rows the batch writer would have rejected. Declared-but-absent
        table columns stay legal (the reader null-fills, `_check_schema`'s
        subset rule); violations raise, failing the micro-batch before
        any file lands. Returns the (possibly generated-extended) table."""
        known = {n for n, _ in self._schema}
        if known:
            extra = [c for c in tbl.column_names if c not in known]
            if extra:
                raise ValueError(
                    f"stream batch has columns {extra} not in the table "
                    "schema — the manifest sink does not evolve schema"
                )
        supplied_identity = [
            c for c in self._identity if c in tbl.column_names
        ]
        if supplied_identity:
            raise ValueError(
                f"identity column(s) {supplied_identity} are GENERATED "
                "ALWAYS; stream batches must not supply them (values "
                "allocate metadata-only at commit)"
            )
        fill = {
            c: lit
            for c, lit in self._defaults.items()
            if c not in tbl.column_names
        }
        if not (self._constraints or self._generated or fill):
            return tbl
        try:
            import duckdb
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise RuntimeError(
                "table declares CHECK constraints / generated columns; "
                "the manifest stream sink validates them per-batch with "
                "duckdb, which is not importable on this executor"
            ) from exc
        con = duckdb.connect()
        con.register("__batch", tbl)
        # Write defaults materialize BEFORE constraints/generated run —
        # same ordering as manifest.append (a constraint may reference
        # the defaulted column).
        for name, lit in fill.items():
            dtype = _duck_type(self._types.get(name, "string"))
            tbl = con.execute(
                f'SELECT *, CAST(({lit}) AS {dtype}) AS "{name}" '
                "FROM __batch"
            ).fetch_arrow_table()
            con.unregister("__batch")
            con.register("__batch", tbl)
        for name, expr in self._constraints.items():
            # NULL counts as a violation (Delta CHECK: must be TRUE).
            bad = con.execute(
                f"SELECT count(*) FROM __batch WHERE ({expr}) IS DISTINCT FROM TRUE"
            ).fetchone()[0]
            if bad:
                raise ValueError(
                    f"stream batch violates constraint {name!r} "
                    f"({expr}): {bad} rows"
                )
        for name, expr in self._generated.items():
            dtype = _duck_type(self._types.get(name, "string"))
            if name not in tbl.column_names:
                tbl = con.execute(
                    f'SELECT *, CAST(({expr}) AS {dtype}) AS "{name}" '
                    "FROM __batch"
                ).fetch_arrow_table()
                con.unregister("__batch")
                con.register("__batch", tbl)
            else:
                bad = con.execute(
                    f'SELECT count(*) FROM __batch WHERE "{name}" IS '
                    f"DISTINCT FROM CAST(({expr}) AS {dtype})"
                ).fetchone()[0]
                if bad:
                    raise ValueError(
                        f"stream batch supplies generated column {name!r}"
                        f" with values differing from ({expr}): {bad} rows"
                    )
        return tbl

    def write(self, iterator):
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _SinkMsg([])
        tbl = self._validate_batch(pa.Table.from_batches(batches))
        tbl = tbl.rename_columns(
            [self._colmap.get(c, c) for c in tbl.column_names]
        )
        name = f"dsink-{_uuid.uuid4().hex[:12]}.parquet"
        pq.write_table(tbl, os.path.join(self._path, name))
        return _SinkMsg([name])

    # -- driver side -------------------------------------------------
    def _cleanup(self, names):
        from pspcz_analyzer_spark import manifest as M
        from pspcz_analyzer_spark.fs import get_fs

        M._remove_quietly(*get_fs(self._path), names)

    def commit(self, messages, batchId: int) -> None:
        from pspcz_analyzer_spark import manifest as M

        names = sorted(
            n for msg in messages if msg is not None for n in msg.names
        )
        m = M.read_manifest(self._path)
        while True:
            if (m.get("txns") or {}).get(self._app, -1) >= batchId:
                # Replay: the batch is already durable in some version;
                # this attempt's files are unreferenced duplicates.
                self._cleanup(names)
                return
            txns = dict(m.get("txns") or {})
            txns[self._app] = batchId
            try:
                M._commit(
                    self._path, m, m["files"] + names,
                    txns=txns, op="STREAMING WRITE",
                )
                return
            except M.CommitConflict:
                # Same contract as append(max_commit_retries): files are
                # staged once; only the metadata publish retries against
                # the re-read manifest.
                m = M.read_manifest(self._path)

    def abort(self, messages, batchId: int) -> None:
        self._cleanup(
            [n for msg in messages if msg is not None for n in msg.names]
        )


def register_cdf_source(spark: SparkSession) -> None:
    """Idempotent registration of the ``manifest`` source/sink format."""
    spark.dataSource.register(ManifestCDFDataSource)
