"""Manifest-committed table layout — the object-store-safe commit path.

The plain lake ops (``jobs.delete_keys`` / ``compact_small_files``) commit
by swapping a staged DIRECTORY into place — correct on a POSIX filesystem
(one atomic rename) but meaningless on an object store, where "rename" is
copy+delete per object and a directory is a prefix. What production table
formats (Delta, Iceberg) do instead, and what this module implements in
minimal form, is: make every pre-commit step ADDITIVE (new uniquely-named
data files, invisible to readers), and make the commit a single
CREATE-EXCLUSIVE of the next numbered manifest file. Readers resolve the
table as "highest manifest version's file list"; old data files stay
behind for time travel until vacuumed.

Layout::

    <table>/part-*.parquet            data files (never mutated)
    <table>/_manifest/00000001.json   {"version": 1, "files": [...]}
    <table>/_manifest/00000002.json   ...

Commit protocol: write the new manifest under a temp name, then
``os.link``/create-exclusive it at ``_manifest/<next>.json``. If two
writers race, exactly one create succeeds; the loser gets
:class:`CommitConflict` and must re-plan against the new version
(optimistic concurrency, Delta's protocol). On HDFS create-with-overwrite
=false gives the same guarantee; on S3 the equivalent is a conditional
PUT (If-None-Match), noted per-op. Spark ignores ``_``-prefixed
directories, so plain ``spark.read.parquet(<table>)`` still works — it
just sees ALL files (every version's); manifest-aware readers use
:func:`load_manifest_table`.

Crash semantics by construction: every failure before the create-exclusive
leaves the previous version fully intact and serves it; after it, the new
version is complete (its data files were written before the manifest
referencing them). There is no window where a reader can observe a
partial file set — the property the directory-swap path achieves with
POSIX rename, achieved here with object-store-compatible primitives.
"""

from __future__ import annotations

import json
import os
import re
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from pspcz_analyzer_spark.fs import get_fs

MANIFEST_DIR = "_manifest"
HIVE_NULL_TOKEN = "__HIVE_DEFAULT_PARTITION__"


# Highest manifest reader version this build understands. 1 = plain
# file lists + additive metadata; 2 = merge-on-read delete entries
# (equality + positional), column mapping, generated columns — features
# a version-1 reader would silently MISREAD, not merely miss; 3 =
# two-level manifests (the per-file maps live in immutable SEGMENT blobs
# referenced by name — Iceberg's manifest-list design in minimal form).
SUPPORTED_READER_VERSION = 3

# Two-level manifests: above this file count the version blob stores the
# per-file maps (files/seq/stats/rows/blooms/partitions/row_base) as
# references to immutable SEGMENT blobs, so a commit writes O(delta)
# segment bytes + one small blob instead of re-serializing every file's
# metadata (at a million files: KBs per append, not a ~100 MB blob).
# Unchanged segments carry by NAME; a segment is rewritten only when one
# of its files left the table or changed metadata. Below the threshold
# blobs stay flat (reader v1/v2-compatible; zero churn for small tables).
MANIFEST_SEGMENT_THRESHOLD = 64
SEGMENT_TARGET_FILES = 512
SEG_DIR = "_manifest/segments"

# Segment blobs are named by uuid and immutable once written; cache
# keyed by resolved path can never serve stale content.
_SEGMENT_CACHE: "dict[str, dict]" = {}
# File-set memo for _segmentize's reuse check, SIDE-CAR to the blob
# cache (never injected into the cached dict itself: a '__files'
# frozenset stuffed onto the blob would make every cached segment
# non-JSON-serializable for any consumer that re-dumps or key-iterates
# it). Same key space and lifetime as _SEGMENT_CACHE.
_SEGMENT_FILES_MEMO: "dict[str, frozenset]" = {}

# Highest manifest WRITER version this build can commit against (Delta's
# minWriterVersion in minimal form). 1 = plain appends; 2 = tables whose
# WRITE-TIME invariants must be enforced by every writer — CHECK
# constraints, generated columns, identity allocation, write defaults,
# row tracking: a version-1 writer appending blindly would corrupt the
# invariant (not just miss a feature), so commits refuse, reads still
# work (writer gates never block readers — Delta's split too).
SUPPORTED_WRITER_VERSION = 2


class CommitConflict(RuntimeError):
    """Another writer committed this version first; re-plan and retry."""


class ConstraintViolation(ValueError):
    """Rows violate a table CHECK constraint; nothing was committed."""


class SnapshotExpired(FileNotFoundError):
    """Time travel / CDF asked for a version older than the earliest
    retained manifest: vacuum already collected it. Subclasses
    FileNotFoundError (the pre-r11 error type) so existing handlers keep
    working, but readers get the honest story — the snapshot EXPIRED
    under retention, it is not a typo'd version number."""


class ManifestCorrupt(RuntimeError):
    """A committed manifest or segment blob failed its integrity check
    (truncated/garbled JSON, or the embedded crc/length disagrees with
    the body). Raised on READ — commit-side atomicity is proven by the
    crash matrix, but a blob damaged after commit (bit rot, torn copy,
    partial restore from backup) must surface as this typed error at
    the first read, not as a JSON parse stack or a silent misread
    somewhere downstream; vacuum/restore refuse to proceed past it."""


def _seal_doc(doc: dict) -> bytes:
    """Serialize ``doc`` with a trailing ``crc`` field: crc32 and byte
    length of the serialization WITHOUT that field. Readers that predate
    the field ignore the extra key; readers that know it re-serialize
    the crc-stripped doc (json object order round-trips) and compare.

    Coverage limit (inherent to any OPTIONAL checksum, pinned by the
    seal/unseal property test): damage landing INSIDE the trailing crc
    field itself can at worst garble the field's NAME, which degrades
    the blob to a legacy unchecked read (possibly with the crc token
    sprayed into one stray key) — it can never silently alter a doc
    field's value; damage anywhere ELSE is either detected
    (:class:`ManifestCorrupt`) or provably byte-benign."""
    import zlib as _zlib

    body = json.dumps(doc, indent=0).encode()
    sealed = dict(doc)
    sealed["crc"] = f"{_zlib.crc32(body) & 0xFFFFFFFF:08x}:{len(body)}"
    return json.dumps(sealed, indent=0).encode()


def _unseal(raw: bytes, where: str) -> dict:
    """Parse a committed blob and verify its ``crc`` field if present
    (absent = pre-crc blob, unchecked — backward compatible). Raises
    :class:`ManifestCorrupt` on parse failure or checksum mismatch."""
    import zlib as _zlib

    try:
        doc = json.loads(raw)
    except Exception as e:
        raise ManifestCorrupt(
            f"{where}: blob is not valid JSON ({e}); the table's commit "
            "log is damaged — restore the blob from a replica before "
            "reading, vacuuming, or restoring"
        ) from e
    stored = doc.pop("crc", None)
    if stored is None:
        return doc
    try:
        want_crc, want_len = str(stored).split(":")
        want_len = int(want_len)
    except ValueError as e:
        raise ManifestCorrupt(f"{where}: malformed crc field {stored!r}") from e
    body = json.dumps(doc, indent=0).encode()
    got_crc = f"{_zlib.crc32(body) & 0xFFFFFFFF:08x}"
    if len(body) != want_len or got_crc != want_crc:
        raise ManifestCorrupt(
            f"{where}: checksum mismatch (recorded {stored}, got "
            f"{got_crc}:{len(body)}); the blob was altered after commit"
        )
    return doc


def _manifest_dir(path: str) -> str:
    return os.path.join(path, MANIFEST_DIR)


def _remove_quietly(fs, rel: str, names) -> None:
    """Best-effort removal of files no manifest references — a batch
    staged for a commit that lost its race or turned out to be a replay,
    a lost commit's fresh segments or sidecar. Vacuum collects whatever
    survives, so a failed remove is skipped, never raised."""
    for n in names:
        try:
            fs.remove(os.path.join(rel, n))
        except OSError:
            pass


def _versions(path: str) -> list[int]:
    fs, path = get_fs(path)
    d = _manifest_dir(path)
    if not fs.isdir(d):
        return []
    out = []
    for f in fs.listdir(d):
        if f.endswith(".json"):
            try:
                out.append(int(f[:-5]))
            except ValueError:
                continue
    return sorted(out)


def current_version(path: str) -> int:
    """Latest committed manifest version (0 = no manifest)."""
    vs = _versions(path)
    return vs[-1] if vs else 0


_SEG_FIELDS = ("seq", "stats", "rows", "blooms", "partitions", "row_base")


def _load_segment(fs, rel: str, name: str) -> dict:
    """Load (and cache) one immutable manifest segment blob."""
    full = os.path.join(rel, name)
    doc = _SEGMENT_CACHE.get(full)
    if doc is None:
        doc = _unseal(fs.read_bytes(full), full)
        if len(_SEGMENT_CACHE) > 256:
            _SEGMENT_CACHE.clear()
            _SEGMENT_FILES_MEMO.clear()
        _SEGMENT_CACHE[full] = doc
    return doc


def _expand_segments(fs, rel: str, doc: dict) -> dict:
    """Rebuild the flat per-file maps of a TWO-LEVEL manifest from its
    segment blobs — every consumer keeps seeing the v1 shape
    (``files`` + per-file maps); ``segments`` stays on the doc for
    commit-time reuse and vacuum's reference census."""
    files: "list[str]" = []
    maps: "dict[str, dict]" = {k: {} for k in _SEG_FIELDS}
    for name in doc["segments"]:
        seg = _load_segment(fs, rel, name)
        for rec in seg["entries"]:
            f = rec["f"]
            files.append(f)
            for k in _SEG_FIELDS:
                if rec.get(k) is not None:
                    maps[k][f] = rec[k]
    doc["files"] = sorted(files)
    for k in _SEG_FIELDS:
        if maps[k]:
            doc[k] = maps[k]
    return doc


def read_manifest(path: str, version: int | None = None) -> dict:
    """The manifest dict {version, files} for ``version`` (default latest)."""
    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no manifest at {path}; run manifest_init")
    v = vs[-1] if version is None else version
    if v not in vs:
        # Versions commit contiguously from 1, so any gap below the
        # latest retained version is a vacuumed snapshot (including
        # holes around tagged pins), not a typo'd future version.
        if 1 <= v < vs[-1]:
            raise SnapshotExpired(
                f"version {v} of {path} expired: vacuum collected it "
                f"(earliest retained is {vs[0]}). Readers needing longer "
                "time travel must raise retain_versions or pin a tag."
            )
        raise FileNotFoundError(f"version {v} not in {vs}")
    fs, path = get_fs(path)
    doc = _unseal(
        fs.read_bytes(os.path.join(_manifest_dir(path), f"{v:08d}.json")),
        f"{path}@{v}",
    )
    # Protocol gate (Delta-style): refuse versions written by a future
    # format rather than silently misreading them (e.g. ignoring a
    # delete feature we don't know = resurrecting rows). Manifests
    # without a protocol key predate the field and read as version 1.
    # Gate BEFORE segment expansion — a future format's segment encoding
    # must fail here, not crash cryptically inside the expander.
    reader = (doc.get("protocol") or {}).get("reader", 1)
    if reader > SUPPORTED_READER_VERSION:
        raise RuntimeError(
            f"{path}@{v} requires manifest reader version {reader}; this "
            f"build supports <= {SUPPORTED_READER_VERSION} — upgrade "
            "before reading (a silent partial read would be WRONG, not "
            "just incomplete)"
        )
    if "segments" in doc:
        doc = _expand_segments(fs, path, doc)
    return doc


def _rec_of(f: str, d: dict) -> dict:
    """One file's segment record: its entries across the per-file maps."""
    r = {"f": f}
    for k in _SEG_FIELDS:
        v = (d.get(k) or {}).get(f)
        if v is not None:
            r[k] = v
    return r


def _rec_same(f: str, docmaps, r: dict) -> bool:
    """Is ``doc``'s record for file ``f`` identical to the stored segment
    entry ``r``? Identity-first per field: every commit path carries
    surviving files' metadata values forward BY REFERENCE (``{**prev,
    **delta}``-style merges, or the whole map verbatim), so for a clean
    file each field is one pointer compare — never a JSON
    canonicalization. Equality is the fallback for callers that rebuilt
    equal values."""
    for k, mp in docmaps:
        v = mp.get(f)
        w = r.get(k)
        if v is not w and v != w:
            return False
    return True


def _segmentize(fs, rel: str, doc: dict, prev_doc: dict):
    """Rewrite ``doc`` into TWO-LEVEL form: per-file maps move into
    immutable segment blobs, unchanged prev segments carry by NAME (a
    segment is dirty only if one of its files left the table or changed
    metadata — so an append writes one new segment, a targeted DML
    rewrites the victims' segments, and everything else is a name list).
    Returns (two-level doc, names of segments written this call).

    The reuse check is driver-CPU-bounded by design: per clean file it
    costs len(_SEG_FIELDS) pointer compares (see :func:`_rec_same`) plus
    one frozenset membership pass, memoized per cached segment blob —
    the earlier shape re-serialized EVERY file record to canonical JSON
    on EVERY commit (~1M ``json.dumps`` per append at a million files).
    """
    files = doc["files"]
    fset = set(files)
    reused: "list[str]" = []
    covered: "set[str]" = set()
    docmaps = [(k, doc.get(k) or {}) for k in _SEG_FIELDS]
    for name in prev_doc.get("segments") or []:
        try:
            seg = _load_segment(fs, rel, name)
        except (FileNotFoundError, OSError, ValueError):
            continue
        memo_key = os.path.join(rel, name)
        sfiles = _SEGMENT_FILES_MEMO.get(memo_key)
        if sfiles is None:
            # Memoized in a SIDE dict keyed by segment path (not on the
            # cached blob itself — segments must stay pure JSON), so
            # repeated commits pay the scan once per cached load.
            sfiles = frozenset(r["f"] for r in seg["entries"])
            _SEGMENT_FILES_MEMO[memo_key] = sfiles
        ok = sfiles <= fset and all(
            _rec_same(r["f"], docmaps, r) for r in seg["entries"]
        )
        if ok:
            reused.append(name)
            covered.update(sfiles)
    fresh = [f for f in files if f not in covered]
    new_names: "list[str]" = []
    if fresh:
        fs.makedirs(os.path.join(rel, SEG_DIR))
    for i in range(0, len(fresh), SEGMENT_TARGET_FILES):
        chunk = fresh[i : i + SEGMENT_TARGET_FILES]
        name = f"{SEG_DIR}/seg-{uuid.uuid4().hex[:12]}.json"
        fs.create_exclusive(
            os.path.join(rel, name),
            _seal_doc({"entries": [_rec_of(f, doc) for f in chunk]}),
        )
        new_names.append(name)
    out = {
        k: v for k, v in doc.items() if k != "files" and k not in _SEG_FIELDS
    }
    out["segments"] = sorted(reused) + new_names
    out["n_files"] = len(files)
    return out, new_names


def compact_segments(path: str) -> int:
    """Metadata-only OPTIMIZE for the two-level manifest itself: re-chunk
    the per-file records into target-size segments and publish as one
    version. A standing append loop leaves one tiny segment per commit
    (that IS the O(delta) contract); after enough of them the name list
    and the per-read segment fetches grow linearly, so maintenance
    consolidates — same economics as small-file compaction, at metadata
    cost (no data IO, no Spark job). Returns segments merged (0 = table
    flat or not fragmented)."""
    m = read_manifest(path)
    segs = m.get("segments") or []
    want = -(-len(m["files"]) // SEGMENT_TARGET_FILES)  # ceil
    if len(segs) <= max(want, 1):
        return 0  # already optimally chunked: no version churn
    _commit(path, m, op="OPTIMIZE", reseg=True)
    m2 = read_manifest(path)
    return len(segs) - len(m2.get("segments") or [])


# Manifest fields a commit may change; every one the caller leaves out
# carries forward from the base snapshot.
_COMMIT_FIELDS = frozenset({
    "txns", "schema", "stats", "stat_cols", "constraints", "rows",
    "deletes", "seq", "blooms", "partitions", "specs", "current_spec",
    "colmap", "generated", "defaults", "identity", "dropped", "props",
    "row_base", "row_next",
})


def _commit(
    path: str,
    m: dict,
    files: "list[str] | None" = None,
    op: str | None = None,
    cdf_files: "list | None" = None,
    reseg: bool = False,
    **changed,
) -> int:
    """Commit the version after snapshot ``m`` via create-exclusive;
    raises :class:`CommitConflict` if someone else committed
    ``m["version"] + 1`` first. ``files`` is the new file list (default:
    ``m``'s). Returns the committed version.

    Every field of :data:`_COMMIT_FIELDS` the caller does not pass in
    ``changed`` carries forward from ``m``; a passed value — ``None``,
    ``{}`` and ``[]`` included — replaces it. The per-file maps follow
    the file list instead of carrying verbatim: surviving files keep
    their ``seq``/``stats``/``rows``/``blooms``/``partitions``/
    ``row_base`` entries, and files new in this commit get ``seq`` =
    the new version (Iceberg's sequence numbers in minimal form —
    equality-delete entries apply only to files with a LOWER sequence,
    so a later re-insert of a deleted key is not suppressed), footer
    stats over ``stat_cols`` and footer row counts; they have no bloom
    until :func:`ensure_blooms` backfills one. A passed ``partitions``
    map holds the new files' values and merges over the survivors'.
    ``restore`` and ``clone_table`` pass whole maps, which replace the
    derived ones (a ``None`` ``seq`` or ``row_base`` is derived as if not
    passed). ``txns`` holds the idempotent-writer watermarks (app_id ->
    last applied batch id — Delta's ``txn`` action in minimal form).
    ``cdf_files`` (this commit's change files) and ``op`` describe one
    transition and never carry. Table-creating commits pass the empty
    base ``{"version": 0, "files": []}``."""
    unknown = set(changed) - _COMMIT_FIELDS
    if unknown:
        raise TypeError(f"_commit got unknown manifest fields {sorted(unknown)}")

    def val(k):
        return changed[k] if k in changed else m.get(k)

    new_v = m["version"] + 1
    prev_files = m.get("files") or []
    files = list(prev_files if files is None else files)
    fset = set(files)
    new = sorted(fset - set(prev_files))
    # Writer protocol gate: refuse to commit against a table written by
    # a future format whose WRITE-TIME invariants this build cannot
    # enforce — committing blind would corrupt them silently. Reads are
    # never blocked by the writer version (only by the reader gate).
    prev_writer = (m.get("protocol") or {}).get("writer", 1)
    if prev_writer > SUPPORTED_WRITER_VERSION:
        raise RuntimeError(
            f"{path} requires manifest writer version {prev_writer}; this "
            f"build supports <= {SUPPORTED_WRITER_VERSION} — upgrade before "
            "writing (a blind commit would corrupt invariants this build "
            "does not know how to enforce)"
        )
    fs, path = get_fs(path)

    def survivors(k):
        prev = m.get(k) or {}
        return {f: prev[f] for f in files if f in prev}

    seq = changed.get("seq")
    if seq is None:
        prev_seq = m.get("seq") or {}
        seq = {f: prev_seq.get(f, new_v) for f in files}
    rows = changed["rows"] if "rows" in changed else {
        **survivors("rows"),
        **{
            f: fs.parquet_file(os.path.join(path, f)).metadata.num_rows
            for f in new
        },
    }
    stat_cols = val("stat_cols")
    if "stats" in changed:
        stats = changed["stats"]
    elif stat_cols:
        stats = {**survivors("stats"), **_file_stats(fs, path, new, stat_cols)}
    else:
        stats = None if m.get("stats") is None else survivors("stats")
    # Data files are immutable, so a bloom computed at version v stays
    # valid until its file leaves the table; bloom-less files are simply
    # conservative at prune time.
    blooms = changed["blooms"] if "blooms" in changed else survivors("blooms")
    merged_parts = survivors("partitions")
    merged_parts.update(
        {f: p for f, p in (changed.get("partitions") or {}).items() if f in fset}
    )
    props = val("props")

    def n_rows(f):
        n = (rows or {}).get(f)
        if n is None:
            n = fs.parquet_file(os.path.join(path, f)).metadata.num_rows
        return int(n)

    # Row tracking (Delta row lineage in minimal form): every file gets a
    # BASE row id; fresh files allocate [row_next, row_next + rows) —
    # metadata-only, appends pay zero storage (ids are base + row index
    # at read time); rewrite outputs materialize survivors' ids as a
    # physical __row_id column that wins per row. restore() passes the
    # target's map verbatim (ids time-travel exactly).
    row_base = row_next = None
    if (props or {}).get("row_tracking"):
        row_base = changed.get("row_base")
        if row_base is None:
            row_base = survivors("row_base")
            row_next = int(m.get("row_next") or 0)
            for f in sorted(fset - set(row_base)):
                row_base[f] = row_next
                row_next += n_rows(f)
        else:
            row_next = changed.get("row_next")
    # Identity columns (Delta GENERATED ALWAYS AS IDENTITY in minimal
    # form) allocate per-file ORDINAL bases exactly like row tracking:
    # value = start + step * (base + row index) at read time, so appends
    # pay zero storage and assignment is atomic with the commit (no
    # cross-writer counter race — the optimistic commit IS the counter).
    # Rewrite outputs carry the column physically (it is in the schema),
    # which wins over the computed value per file; their base entries are
    # allocated but unused — gaps, which identity semantics permit.
    identity = val("identity")
    if identity:
        identity = {c: dict(spec) for c, spec in identity.items()}
        for c, spec in identity.items():
            base = {
                f: b for f, b in (spec.get("base") or {}).items() if f in fset
            }
            nxt = int(spec.get("next") or 0)
            for f in sorted(fset - set(base)):
                base[f] = nxt
                nxt += n_rows(f)
            spec["base"] = base
            spec["next"] = nxt
    schema, constraints, deletes = (
        val("schema"), val("constraints"), val("deletes"),
    )
    specs, colmap, generated = val("specs"), val("colmap"), val("generated")
    # Column defaults (Iceberg v3 initial/write defaults), colmap
    # (renames are metadata; physical names in data files are immutable),
    # generated expressions and props carry forward verbatim; restore
    # passes {} to clear them (a schema-unit rule). The dropped-physical-
    # names ledger is MONOTONE: restore never passes it, because its
    # sole job is to stop a later ADD COLUMN from re-binding a physical
    # name that still holds old data in some retained file.
    defaults, dropped = val("defaults"), val("dropped")
    d = _manifest_dir(path)
    fs.makedirs(d)
    # In-commit timestamp (Delta ICT in minimal form): the commit time
    # lives INSIDE the blob, immune to mtime loss (object-store copies,
    # backup restores) and forced monotone per table — a writer with a
    # skewed-backward clock stamps the predecessor's time, never an
    # earlier one, so TIMESTAMP AS OF resolution is order-consistent.
    import time as _time

    doc = {
        "version": new_v,
        "files": sorted(files),
        "txns": val("txns") or {},
        "seq": {f: seq[f] for f in sorted(seq)},
        "ts": max(_time.time(), float(m.get("ts") or 0.0)),
    }
    if op:
        # Operation kind (Delta's DESCRIBE HISTORY `operation` column):
        # audit metadata only — never interpreted by readers.
        doc["op"] = op
    if schema is not None:
        doc["schema"] = schema
    if stats is not None:
        doc["stats"] = {f: stats[f] for f in sorted(stats)}
    if stat_cols is not None:
        doc["stat_cols"] = list(stat_cols)
    if constraints is not None:
        doc["constraints"] = dict(constraints)
    if rows is not None:
        doc["rows"] = {f: rows[f] for f in sorted(rows)}
    if deletes:
        doc["deletes"] = [dict(d) for d in deletes]
    if blooms:
        doc["blooms"] = {f: blooms[f] for f in sorted(blooms)}
    if specs is not None:
        doc["specs"] = [list(s) for s in specs]
        doc["current_spec"] = val("current_spec")
    if colmap:
        doc["colmap"] = {k: colmap[k] for k in sorted(colmap)}
    if generated:
        doc["generated"] = {k: generated[k] for k in sorted(generated)}
    if defaults:
        doc["defaults"] = {k: defaults[k] for k in sorted(defaults)}
    if dropped:
        doc["dropped"] = sorted(set(dropped))
    if identity:
        doc["identity"] = {
            c: {
                "start": int(spec.get("start", 1)),
                "step": int(spec.get("step", 1)),
                "base": {
                    f: spec["base"][f] for f in sorted(spec.get("base") or {})
                },
                "next": int(spec.get("next") or 0),
            }
            for c, spec in sorted(identity.items())
        }
    if props:
        doc["props"] = {k: props[k] for k in sorted(props)}
    if cdf_files is not None:
        # This COMMIT's row-level change files (never carried forward —
        # they describe one version transition). Present-but-empty means
        # "no logical change" (compaction; a no-op clause cascade).
        doc["cdf_files"] = sorted(cdf_files)
    if row_base is not None:
        doc["row_base"] = {f: row_base[f] for f in sorted(row_base)}
        doc["row_next"] = int(row_next or 0)
    if merged_parts:
        doc["partitions"] = {
            f: merged_parts[f] for f in sorted(merged_parts)
        }
    # Protocol versioning (Delta's reader-version gate, minimal form):
    # features a naive reader would SILENTLY misread — not just miss —
    # bump the required reader. Merge-on-read delete entries are the
    # canonical case: a reader that ignores `deletes` resurrects rows
    # and calls it a successful scan; column mapping misnames columns;
    # generated columns accept writes that violate the invariant. Purely
    # additive metadata (stats, blooms, tags, row counts) stays at 1.
    reader = 1
    if (
        doc.get("deletes")
        or colmap
        or generated
        # An INITIAL default changes read results for pre-existing rows:
        # a naive reader null-fills where the table says default-fills —
        # a silent misread, so it gates like merge-on-read deletes.
        # Write-only defaults affect writers, not readers, and stay at 1.
        or any(
            d.get("initial") is not None for d in (defaults or {}).values()
        )
        # Identity columns: metadata-only files carry their values in the
        # base map — a naive reader null-fills the column.
        or identity
    ):
        reader = 2
    writer = 1
    if (
        constraints
        or generated
        or identity
        or any(
            d.get("write") is not None for d in (defaults or {}).values()
        )
        or (props or {}).get("row_tracking")
    ):
        writer = 2
    doc["protocol"] = {"reader": reader, "writer": writer}
    new_segs: "list[str]" = []
    if len(files) >= MANIFEST_SEGMENT_THRESHOLD:
        # Two-level form: the blob becomes O(delta) — reader 3 (a v1/v2
        # reader sees no file list at all: a hard miss, gated anyway).
        # ``reseg`` (compact_segments) ignores the previous segmentation
        # so fragmented name lists re-chunk to target size.
        doc, new_segs = _segmentize(fs, path, doc, {} if reseg else m)
        doc["protocol"]["reader"] = max(reader, 3)
    body = _seal_doc(doc)  # embedded crc: read-side torn-blob detection
    target = os.path.join(d, f"{new_v:08d}.json")
    try:
        # The one correctness-critical store primitive: atomic publish of
        # a fully-written blob that LOSES if the name exists. LocalFS:
        # fsync'd temp + link(2). HDFS: create(overwrite=false). S3:
        # conditional PUT — see fs.py for the per-store contract.
        fs.create_exclusive(target, body)
    except FileExistsError as e:
        # Lost the race: this attempt's fresh segments are referenced by
        # nothing — drop them now (vacuum would get them, but why wait).
        _remove_quietly(fs, path, new_segs)
        raise CommitConflict(
            f"version {new_v} already committed at {path}; re-plan"
        ) from e
    return new_v


def create_table(
    path: str,
    schema: "list",
    partition_spec: "list | None" = None,
    stat_cols: "list | None" = None,
    props: dict | None = None,
) -> int:
    """CREATE TABLE: an EMPTY manifest table declared up front — schema,
    optional partition spec (hidden-partitioning transforms), stat
    columns, and table properties all land in version 1 before any data
    exists, so the first append is already governed (enforced schema,
    partition layout, CDF/row-tracking from row one). ``schema`` is
    ``[[name, ddl-type], ...]`` or a DDL string ``"k bigint, v string"``.
    Raises if the path already holds a manifest table."""
    if _versions(path):
        raise ValueError(f"{path} is already a manifest table")
    if isinstance(schema, str):
        schema = [
            [p.strip().split(None, 1)[0], p.strip().split(None, 1)[1]]
            for p in schema.split(",")
        ]
    schema = [[n, t] for n, t in schema]
    if not schema:
        raise ValueError("create_table needs at least one column")
    names = {n for n, _ in schema}
    if partition_spec:
        for entry in partition_spec:
            src = _parse_transform(entry)[2]
            if src not in names:
                raise ValueError(
                    f"partition transform {entry!r} references unknown "
                    f"column {src!r}"
                )
    fs, rel = get_fs(path)
    fs.makedirs(rel)
    return _commit(
        path, {"version": 0, "files": []},
        schema=schema,
        stat_cols=stat_cols,
        specs=[list(partition_spec)] if partition_spec else None,
        current_spec=0 if partition_spec else None,
        props=props,
        op="CREATE TABLE",
    )


def manifest_init(path: str, stat_cols: "list | None" = None) -> int:
    """Adopt an existing plain Parquet directory: version 1 = its current
    file list. No-op (returns the current version) if already initialized.

    ``stat_cols`` turns on manifest-level file statistics: per-file
    [min, max] for those columns are computed from the footers ONCE here
    (and per-commit for new files) and stored in the manifest, so
    :func:`scan_auto` plans file-skipping scans from metadata
    alone — at 100 TB the difference between planning from one small JSON
    and opening a million footers."""
    if _versions(path):
        return current_version(path)
    fs, rel = get_fs(path)
    files = sorted(f for f in fs.listdir(rel) if f.endswith(".parquet"))
    return _commit(
        path, {"version": 0, "files": []}, files,
        schema=_table_schema_list(path, files),
        stat_cols=stat_cols,
        op="CREATE TABLE",
    )


def convert_to_manifest(
    path: str,
    stat_cols: "list | None" = None,
    partition_schema: "dict[str, str] | None" = None,
) -> int:
    """Adopt a HIVE-PARTITIONED parquet directory IN PLACE (Delta's
    ``CONVERT TO DELTA`` / Iceberg's ``migrate``): walk the
    ``col=value`` directory tree, record every leaf file with its
    partition values, declare an identity partition spec over the
    discovered keys, and commit it all as version 1 — zero data IO at
    any size, the adoption story for an existing 100 TB hive lake.

    Hive layout keeps partition columns in DIRECTORY NAMES, not file
    bytes, so two contracts make the adopted table a full citizen:

    * reads restore the values per file from the manifest's recorded
      tokens (``props["pfill"]`` drives a broadcast per-file join in
      :func:`_read_files` — the Iceberg ``add_files`` read contract);
      rewrites materialize them into ordinary columns, after which the
      physical value wins per row;
    * leaf files are RENAMED to uuid-unique names inside their
      directories first: ``partitionBy`` writers reuse task names
      (``part-00000-...``) across partition dirs, and every
      basename-keyed feature (positional deletes, row tracking,
      identity, the partition fill itself) requires table-wide
      uniqueness. Renames are same-directory metadata ops; hive-path
      readers that list directories keep working.

    Partition column types come from ``partition_schema`` when given,
    else every token parsing as an integer types the column ``bigint``
    and anything else ``string``. Flat directories degrade to exactly
    :func:`manifest_init` semantics. No-op (returns the current version)
    if already a manifest table."""
    from urllib.parse import unquote

    if _versions(path):
        return current_version(path)
    fs, rel = get_fs(path)
    leaves: "list[tuple[str, dict]]" = []
    pcols: "list[str]" = []
    stack = [("", {})]
    while stack:
        sub, vals = stack.pop()
        d = os.path.join(rel, sub) if sub else rel
        for base in sorted(fs.listdir(d)):
            if base.startswith(("_", ".")):
                continue
            p = os.path.join(d, base)
            child = os.path.join(sub, base) if sub else base
            if fs.isdir(p):
                if "=" in base:
                    c, _, tok = base.partition("=")
                    if c not in pcols:
                        pcols.append(c)
                    stack.append((child, {**vals, c: unquote(tok)}))
                else:
                    stack.append((child, dict(vals)))
            elif base.endswith(".parquet"):
                leaves.append((child, dict(vals)))
    if not leaves:
        raise FileNotFoundError(f"no parquet files to adopt at {path}")
    files: "list[str]" = []
    parts: dict = {}
    for i, (f, vals) in enumerate(sorted(leaves)):
        if os.path.dirname(f):
            new = os.path.join(
                os.path.dirname(f),
                f"adopt-{uuid.uuid4().hex[:12]}-{i}.parquet",
            )
            fs.rename(os.path.join(rel, f), os.path.join(rel, new))
            f = new
        files.append(f)
        if vals:
            parts[f] = vals
    ptypes = dict(partition_schema or {})
    for c in pcols:
        if c in ptypes:
            continue
        toks = [
            v[c]
            for _f, v in leaves
            if c in v and v[c] != HIVE_NULL_TOKEN
        ]
        ptypes[c] = (
            "bigint"
            if toks and all(_INT_TOKEN.match(t) for t in toks)
            else "string"
        )
    schema = _table_schema_list(path, files)
    have = {n for n, _t in schema}
    schema += [[c, ptypes[c]] for c in pcols if c not in have]
    fill = [c for c in pcols if c not in have]
    return _commit(
        path, {"version": 0, "files": []}, files,
        schema=schema,
        stat_cols=stat_cols,
        partitions=parts,
        specs=[list(pcols)] if pcols else None,
        current_spec=0 if pcols else None,
        props={"pfill": ",".join(fill)} if fill else None,
        op="CONVERT",
    )


_INT_TOKEN = re.compile(r"^-?\d+$")


def _df_schema_list(df: DataFrame) -> list:
    """[[name, ddl-type], ...] in column order — the manifest's schema
    encoding. simpleString keeps it engine-readable and diffable."""
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


def _table_schema_list(path: str, files: list[str]) -> list:
    """Schema of an adopted plain-Parquet table, from one file's footer
    (Spark wrote all parts with one schema), typed the way Spark reads
    the file back: a timestamp NOT adjusted to UTC is ``timestamp_ntz``,
    an INT96 or UTC-adjusted one is ``timestamp``. Arrow shows INT96 and
    not-adjusted timestamps alike (no time zone), so the physical type
    tells them apart — a wrong type here refuses the first append of
    the very data the table was adopted from."""
    from pyspark.sql.pandas.types import from_arrow_schema

    if not files:
        return []
    fs, rel = get_fs(path)
    pf = fs.parquet_file(os.path.join(rel, files[0]))
    int96 = {
        pf.schema.column(i).path
        for i in range(len(pf.schema))
        if pf.schema.column(i).physical_type == "INT96"
    }
    return [
        [f.name, "timestamp" if f.name in int96 else f.dataType.simpleString()]
        for f in from_arrow_schema(
            pf.schema_arrow, prefer_timestamp_ntz=True
        ).fields
    ]


class SchemaMismatch(ValueError):
    """Batch schema conflicts with the table schema (Delta's write-time
    schema enforcement): raised for a new column without merge_schema, or
    a type change on an existing column (never allowed — no widening)."""


# Lossless type-widening lattice (Delta 3.x type widening in minimal
# form). Keyed by the NARROW type; values are the wider types it can
# move to (or be read under) without data change. Both Spark DDL
# spellings and simpleString() forms appear so callers can pass either.
_WIDENINGS = {
    "tinyint": {"smallint", "short", "int", "bigint", "long"},
    "byte": {"smallint", "short", "int", "bigint", "long"},
    "smallint": {"int", "bigint", "long"},
    "short": {"int", "bigint", "long"},
    "int": {"bigint", "long"},
    "integer": {"bigint", "long"},
    "float": {"double"},
    "real": {"double"},
    # Spark 4 parquet read-side widening also covers date -> timestampNTZ
    # (midnight semantics, probed green on this build).
    "date": {"timestamp_ntz"},
}


def _check_schema(
    table_schema: list, df: DataFrame, merge_schema: bool
) -> list:
    """Enforce-or-evolve: returns the (possibly extended) table schema.

    * shared column with a different type -> SchemaMismatch, always;
    * batch column absent from the table -> SchemaMismatch unless
      ``merge_schema``, which appends it (readers fill old rows with
      null — Delta's additive evolution);
    * table column absent from the batch -> fine; the reader null-fills
      (the batch wrote a subset of nullable columns).
    """
    types = {n: t for n, t in table_schema}
    out = [list(x) for x in table_schema]
    for name, dtype in _df_schema_list(df):
        if name in types:
            if types[name] != dtype:
                # A batch NARROWER than the (widened) table type is fine:
                # the file keeps its narrow physical type and the
                # requested-schema read upcasts it per file — same rule
                # that makes widen_column_type metadata-only.
                if types[name].lower() in _WIDENINGS.get(dtype.lower(), set()):
                    continue
                raise SchemaMismatch(
                    f"column {name!r}: table has {types[name]}, batch has "
                    f"{dtype}; type changes are not supported"
                )
        elif merge_schema:
            out.append([name, dtype])
        else:
            raise SchemaMismatch(
                f"batch adds column {name!r} not in the table schema; pass "
                "merge_schema=True to evolve (append-only, no type changes)"
            )
    return out


def load_manifest_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    with_row_ids: bool = False,
) -> DataFrame:
    """Read the table AS OF ``version`` (default latest) — the file list
    pinned at plan time, so a concurrent commit cannot shift the snapshot
    mid-query (and old versions stay readable until vacuumed: time
    travel). ``with_row_ids=True`` (requires
    :func:`enable_row_tracking`) appends the stable ``_row_id``
    column."""
    m = read_manifest(path, version)
    if with_row_ids and not _row_tracking_on(m):
        raise ValueError(
            f"row tracking is not enabled on {path}; call "
            "enable_row_tracking() first"
        )
    return _snapshot_df(spark, path, m, with_row_ids)


def _snapshot_df(
    spark: SparkSession, path: str, m: dict, with_row_ids: bool = False
) -> DataFrame:
    """The whole of snapshot ``m`` as a DataFrame (the body of
    :func:`load_manifest_table` for a snapshot already read)."""
    schema = m.get("schema")
    if not m["files"]:
        if schema:
            ddl = ", ".join(f"{n} {t}" for n, t in schema)
            if with_row_ids:
                ddl += f", {ROW_ID_COL} bigint"
            return spark.createDataFrame([], ddl)
        return spark.createDataFrame([], spark.read.parquet(path).schema)
    # Project to THIS version's schema: columns only later versions know
    # are invisible here even if mergeSchema surfaced them from shared
    # files (there are none today — data files are never rewritten across
    # schema changes — but the projection is the contract); columns added
    # metadata-only (add_column) or by a later evolved append null-fill
    # for files written before them.
    return _with_deletes(
        spark, path, m, m["files"], with_row_ids=with_row_ids
    )


ROW_ID_COL = "_row_id"       # logical output column
ROW_ID_PHYS = "__row_id"     # materialized physical column in rewrites


def _row_tracking_on(m: dict) -> bool:
    return bool((m.get("props") or {}).get("row_tracking"))


def _row_base_df(spark: SparkSession, m: dict):
    """(file basename, base) frame from the manifest's row_base map —
    one row per FILE (metadata scale), broadcast into the read."""
    base = m.get("row_base") or {}
    rows = [(os.path.basename(f), int(b)) for f, b in base.items()]
    if not rows:
        rows = [("", -1)]
    return F.broadcast(
        spark.createDataFrame(rows, "__file string, __base long")
    )


def _read_files(
    spark: SparkSession,
    path: str,
    m: dict,
    files: "list[str]",
    with_meta: bool = False,
    with_row_ids: bool = False,
) -> DataFrame:
    """Read a SUBSET of a manifest table's data files the way
    :func:`load_manifest_table` reads the whole table: mergeSchema union
    plus projection/null-fill to the manifest's recorded schema. Every
    rewrite path (delete/upsert/compact) MUST read through this — after a
    merge_schema append the subset has heterogeneous schemas, and a plain
    ``spark.read.parquet`` would infer from one file and silently drop the
    evolved columns from the rewritten survivors (permanent nulls).

    ``with_meta`` appends ``__file`` (basename) and ``__row`` (position
    in file, from the parquet reader's ``_metadata.row_index``) — the
    coordinates positional deletes are defined over."""
    paths = [os.path.join(path, f) for f in files]
    schema = m.get("schema")
    if not schema:
        df = spark.read.option("mergeSchema", "true").parquet(*paths)
        if not (with_meta or with_row_ids):
            return df
        out = df.select(
            "*",
            F.col("_metadata.file_name").alias("__file"),
            F.col("_metadata.row_index").alias("__row"),
        )
        if with_row_ids:
            out = _attach_row_ids(spark, m, out, drop_meta=not with_meta)
        return out
    # REQUESTED-SCHEMA read (not mergeSchema inference): the parquet
    # reader projects each file onto the declared physical schema —
    # missing columns null-fill (pre-evolution files) and NARROWER
    # physical types upcast per file (int32 under a widened bigint,
    # float under double — Spark 4 read-side type widening), which
    # mergeSchema cannot do (mixed-width unions fail to merge). This is
    # what makes ALTER COLUMN TYPE widening metadata-only.
    from pyspark.sql.types import StructType, _parse_datatype_string

    colmap = m.get("colmap") or {}
    req = StructType()
    for n, t in schema:
        req = req.add(colmap.get(n, n), _parse_datatype_string(t))
    if with_row_ids:
        req = req.add(ROW_ID_PHYS, _parse_datatype_string("bigint"))
    df = spark.read.schema(req).parquet(*paths)
    cols = [F.col(colmap.get(n, n)).alias(n) for n, t in schema]
    dplan = _initial_defaults_plan(m, files)
    ident = m.get("identity") or {}
    pfill = [
        c
        for c in ((m.get("props") or {}).get("pfill") or "").split(",")
        if c
    ]
    if with_meta or with_row_ids or dplan or ident or pfill:
        cols += [
            F.col("_metadata.file_name").alias("__file"),
            F.col("_metadata.row_index").alias("__row"),
        ]
        if with_row_ids:
            cols.append(F.col(ROW_ID_PHYS))
    out = df.select(*cols)
    if dplan:
        # Initial defaults (Iceberg v3): default-fill EXACTLY the files
        # whose sequence number predates the column (they physically
        # lack it) — an explicit NULL written later stays NULL. The
        # file->seq map is manifest metadata, broadcast like row bases.
        order = out.columns
        out = out.join(_file_seq_df(spark, m), "__file", "left")
        for c, t, lit, since in dplan:
            out = out.withColumn(
                c,
                F.when(
                    F.col("__seq") < F.lit(since),
                    F.coalesce(F.col(c), F.expr(lit).cast(t)),
                ).otherwise(F.col(c)),
            )
        out = out.select(*order).drop("__seq")
    for c, spec in ident.items():
        # Identity columns: a physical value (rewrite output) wins per
        # row; metadata-only files compute start + step * (base + row
        # index) through one broadcast file->base join per column.
        order = out.columns
        out = out.join(_identity_base_df(spark, spec, c), "__file", "left")
        out = out.withColumn(
            c,
            F.coalesce(
                F.col(c),
                (
                    F.lit(int(spec.get("start", 1)))
                    + F.lit(int(spec.get("step", 1)))
                    * (F.col(f"__ibase_{c}") + F.col("__row"))
                ).cast("long"),
            ),
        ).select(*order)
    if pfill:
        # Hive-adopted files (convert_to_manifest) carry their partition
        # columns in DIRECTORY TOKENS, not bytes — the requested-schema
        # read null-fills them, and this per-file broadcast join restores
        # the value (the Iceberg add_files read contract). A physical
        # value wins per row (rewrite outputs embed the columns), same
        # coalesce rule as identity columns.
        types_all = {n: t for n, t in schema}
        parts_all = m.get("partitions") or {}
        for c in pfill:
            if c not in types_all:
                continue
            rows = []
            for f in files:
                tok = (parts_all.get(f) or {}).get(c)
                rows.append(
                    (
                        os.path.basename(f),
                        None if tok in (None, HIVE_NULL_TOKEN) else tok,
                    )
                )
            fill = F.broadcast(
                spark.createDataFrame(
                    rows, f"__file string, __pf_{c} string"
                )
            )
            order = out.columns
            out = (
                out.join(fill, "__file", "left")
                .withColumn(
                    c,
                    F.coalesce(
                        F.col(c), F.col(f"__pf_{c}").cast(types_all[c])
                    ),
                )
                .select(*order)
            )
    if (dplan or ident or pfill) and not (with_meta or with_row_ids):
        out = out.drop("__file", "__row")
    if with_row_ids:
        out = _attach_row_ids(spark, m, out, drop_meta=not with_meta)
    return out


def _identity_base_df(spark: SparkSession, spec: dict, col: str):
    """(file basename, ordinal base) frame for one identity column —
    one row per FILE (metadata scale), broadcast into the read."""
    base = spec.get("base") or {}
    rows = [(os.path.basename(f), int(b)) for f, b in base.items()]
    if not rows:
        rows = [("", -1)]
    return F.broadcast(
        spark.createDataFrame(rows, f"__file string, __ibase_{col} long")
    )


def _initial_defaults_plan(
    m: dict, files: "list[str]"
) -> "list[tuple[str, str, str, int]]":
    """[(col, dtype, literal, since)] for columns whose INITIAL default
    applies to at least one of ``files`` — a metadata-only decision from
    the manifest's defaults + sequence maps, so the common case (no
    defaults, or every file newer than every default) adds nothing to
    the plan."""
    defaults = m.get("defaults") or {}
    if not defaults:
        return []
    schema = {n: t for n, t in (m.get("schema") or [])}
    seq = m.get("seq") or {}
    plan = []
    for c, d in defaults.items():
        lit = d.get("initial")
        if lit is None or c not in schema:
            continue
        since = int(d.get("since", 0))
        if any(int(seq.get(f, since)) < since for f in files):
            plan.append((c, schema[c], lit, since))
    return plan


def _file_seq_df(spark: SparkSession, m: dict):
    """(file basename, seq) frame from the manifest's sequence map — one
    row per FILE (metadata scale), broadcast into the read."""
    seq = m.get("seq") or {}
    rows = [(os.path.basename(f), int(v)) for f, v in seq.items()]
    if not rows:
        rows = [("", -1)]
    return F.broadcast(
        spark.createDataFrame(rows, "__file string, __seq long")
    )


def _attach_row_ids(
    spark: SparkSession, m: dict, df: DataFrame, drop_meta: bool
) -> DataFrame:
    """Compute the stable ``_row_id``: a rewrite-materialized
    ``__row_id`` column wins per row; otherwise the file's allocated
    base + the parquet reader's row index (Delta row tracking's
    metadata-only fresh-row path — appends pay ZERO storage for ids)."""
    df = df.join(_row_base_df(spark, m), "__file", "left")
    rid = F.col("__base") + F.col("__row")
    if ROW_ID_PHYS in df.columns:
        rid = F.coalesce(F.col(ROW_ID_PHYS), rid)
        df = df.withColumn(ROW_ID_COL, rid.cast("long")).drop(ROW_ID_PHYS)
    else:
        df = df.withColumn(ROW_ID_COL, rid.cast("long"))
    df = df.drop("__base")
    if drop_meta:
        df = df.drop("__file", "__row")
    return df


def _physical_col(m: dict, col: str) -> str:
    """The physical (data-file) name of a logical column — identity when
    the table has no column mapping or the column was never renamed.
    Footer stats, manifest stats, and bloom/key files are ALL keyed by
    physical names, so every metadata lookup routes through here."""
    return (m.get("colmap") or {}).get(col, col)


def _logical_col(m: dict, phys: str) -> str:
    """The current logical name of a physical column (inverse of
    :func:`_physical_col`)."""
    for logical, p in (m.get("colmap") or {}).items():
        if p == phys:
            return logical
    return phys


def _with_deletes(
    spark: SparkSession,
    path: str,
    m: dict,
    files: "list[str]",
    keep_meta: bool = False,
    with_row_ids: bool = False,
) -> DataFrame:
    """Read ``files`` with the manifest's pending equality-delete entries
    applied (merge-on-read — Iceberg v2 equality deletes in minimal
    form). Each delete entry applies only to data files whose sequence
    is LOWER than the entry's (the file predates the delete); files are
    grouped by their applicable entry set, each group anti-joined against
    the union of that set's key files (small, broadcast), groups unioned
    back. With no pending deletes this IS :func:`_read_files`.

    ``keep_meta`` retains the ``__file``/``__row`` physical coordinates
    of each ALIVE row in the output — what merge-on-read UPDATE needs to
    invalidate exactly the rows it rewrites (:func:`update_where_pos`)."""
    dels = [
        d for d in (m.get("deletes") or []) if d.get("kind") != "pos"
    ]
    pos = [d for d in (m.get("deletes") or []) if d.get("kind") == "pos"]
    if not (dels or pos) or not files:
        return _read_files(
            spark, path, m, files,
            with_meta=keep_meta, with_row_ids=with_row_ids,
        )
    # Positional entries (deletion vectors): DV files hold (__file,
    # __row) coordinates; one broadcast anti-join on the parquet
    # reader's _metadata coordinates filters them out inside each
    # group read below. DV rows naming files outside the subset are
    # inert (anti-join misses), and file names are uuid-unique so a
    # stale row can never hit a later file.
    seq = m.get("seq") or {}
    groups: "dict[tuple, list[str]]" = {}
    for f in files:
        fseq = seq.get(f, 0)
        key = tuple(i for i, d in enumerate(dels) if d["seq"] > fseq)
        groups.setdefault(key, []).append(f)
    parts = []
    for applicable, grp in groups.items():
        df = _read_files(
            spark, path, m, grp,
            with_meta=bool(pos) or keep_meta,
            with_row_ids=with_row_ids,
        )
        if pos:
            dv = (
                spark.read.parquet(
                    *[os.path.join(path, d["file"]) for d in pos]
                )
                .select("__file", "__row")
                .distinct()
            )
            df = df.join(F.broadcast(dv), ["__file", "__row"], "left_anti")
            if not keep_meta:
                df = df.drop("__file", "__row")
        bycol: "dict[str, list[str]]" = {}
        for i in applicable:
            bycol.setdefault(dels[i]["key_col"], []).append(dels[i]["file"])
        for col, dfiles in bycol.items():
            # Entries store the PHYSICAL key column (what the key files
            # carry); the anti-join runs on its CURRENT logical name, so
            # pending deletes survive a later rename.
            logical = _logical_col(m, col)
            keys_df = (
                spark.read.parquet(*[os.path.join(path, x) for x in dfiles])
                .select(F.col(col).alias(logical))
                .distinct()
            )
            df = df.join(F.broadcast(keys_df), logical, "left_anti")
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _json_stat(v):
    """Footer min/max -> JSON-storable value, or None when the type has no
    total order JSON can carry faithfully (binary, timestamps...). A None
    min/max simply disables pruning for that (file, column) — never
    correctness."""
    import datetime as _dt

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (_dt.date, _dt.datetime)):
        return v.isoformat()
    return None


def _file_stats(fs, rel: str, names: list, stat_cols: list) -> dict:
    """Per-file [min, max] for ``stat_cols``, read from the freshly
    written footers — computed ONCE at commit time so scans never touch
    data-file metadata again (the Iceberg/Delta move: stats live in the
    table metadata, planning is metadata-only).

    String columns are safe to prune on: Parquet writers may TRUNCATE
    long string stats, but per the format contract a truncated min is a
    prefix (<= the true min) and a truncated max is incremented past the
    true max — both directions stay conservative for the overlap test in
    :func:`prune_files_multi`, so truncation can only keep an extra file,
    never skip a matching one."""
    out: dict = {}
    for name in names:
        meta = fs.parquet_file(os.path.join(rel, name)).metadata
        if meta.num_row_groups == 0:
            out[name] = {c: None for c in stat_cols}
            continue
        idx = {
            meta.row_group(0).column(i).path_in_schema: i
            for i in range(meta.num_columns)
        }
        fstats: dict = {}
        for c in stat_cols:
            ci = idx.get(c)
            lo = hi = None
            nulls = 0
            ok = ci is not None
            ok_null = ci is not None
            if ci is not None:
                for g in range(meta.num_row_groups):
                    st = meta.row_group(g).column(ci).statistics
                    if st is None:
                        ok = ok_null = False
                        break
                    # Null counts are independent of min/max validity:
                    # an ALL-NULL column chunk has no min/max but a
                    # perfectly good null_count — exactly the file the
                    # IS NOT NULL pruning wants to skip.
                    if st.null_count is None:
                        ok_null = False
                    else:
                        nulls += st.null_count
                    if not ok or st.min is None:
                        ok = False
                        continue
                    gmin, gmax = _json_stat(st.min), _json_stat(st.max)
                    if gmin is None or gmax is None:
                        ok = False
                        continue
                    lo = gmin if lo is None else min(lo, gmin)
                    hi = gmax if hi is None else max(hi, gmax)
            if not ok:
                lo = hi = None
            # Entry: [min, max, null_count] — consumers read by index,
            # so pre-round-6 two-element entries stay readable (their
            # missing null slot reads as untracked via len checks).
            fstats[c] = (
                None if not (ok or ok_null) else [lo, hi, nulls if ok_null else None]
            )
        out[name] = fstats
    return out


def prune_files_multi(
    m: dict, predicates: "dict[str, tuple]"
) -> "tuple[list[str], int]":
    """(files of snapshot ``m`` whose stored [min, max] overlaps EVERY
    ``col: (lo, hi)`` predicate, total files) — decided ENTIRELY from the
    manifest's stored stats (zero file opens, zero data IO:
    Iceberg/Delta's metadata-only planning). One predicate is a range
    scan; several are the box query a Z-ordered layout exists for (each
    Z-ordered file is a narrow bounding box in every listed dimension,
    so a small box prunes on all of them at once). Unknown stats on a
    column keep the file for that column: skipping is only ever an
    optimization, never a filter. Date and datetime bounds compare in
    the ISO form :func:`_json_stat` stores their stats in."""
    import datetime as _dt

    def _as_stat(v):
        return v.isoformat() if isinstance(v, (_dt.date, _dt.datetime)) else v

    predicates = {
        col: (_as_stat(lo), _as_stat(hi)) for col, (lo, hi) in predicates.items()
    }
    stats = m.get("stats") or {}
    kept = []
    for f in m["files"]:
        keep = True
        for col, (lo, hi) in predicates.items():
            s = (stats.get(f) or {}).get(_physical_col(m, col))
            if s is None or s[0] is None:
                continue  # unknown -> cannot prune on this column
            if hi < s[0] or lo > s[1]:
                keep = False
                break
        if keep:
            kept.append(f)
    return kept, len(m["files"])


def prune_files_null(
    m: dict, col: str, want_null: bool
) -> "tuple[list[str], int]":
    """(files that may contain matching rows, total files) for an
    ``IS NULL`` (``want_null=True``) or ``IS NOT NULL`` predicate on
    ``col`` — metadata-only, from the per-file null counts the stats
    layer records at commit time (Delta's ``nullCount`` in minimal
    form): a file with ZERO nulls can't satisfy IS NULL, and a file
    whose null count equals its row count (all-null — the case with no
    min/max at all, which range stats are blind to) can't satisfy
    IS NOT NULL. Files without a tracked null count (pre-round-6
    commits, untracked columns) are conservatively kept."""
    pcol = _physical_col(m, col)
    stats = m.get("stats") or {}
    rows = m.get("rows") or {}
    kept = []
    for f in m["files"]:
        s = (stats.get(f) or {}).get(pcol)
        nulls = s[2] if s is not None and len(s) > 2 else None
        if nulls is None:
            kept.append(f)
            continue
        if want_null and nulls == 0:
            continue
        nrows = rows.get(f)
        if not want_null and nrows is not None and nulls == nrows:
            continue
        kept.append(f)
    return kept, len(m["files"])


def files_table(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The table's FILE-LEVEL metadata as a queryable DataFrame —
    Iceberg's ``db.table.files`` metadata table in minimal form: one row
    per data file with its sequence number, row count, byte size,
    recorded partition values, per-column [min, max] stats (JSON), and
    whether a bloom filter is stored. Built entirely from the manifest +
    one fs.size stat per file — no data IO, bounded by file count (this
    is planning metadata, not data), so ops queries like "which
    partitions are small-file-heavy" or "what fraction of files carry
    stats on col X" are ordinary DataFrame aggregations."""
    import json as _json

    m = read_manifest(path, version)
    fs, rel = get_fs(path)
    stats = m.get("stats") or {}
    rows_meta = m.get("rows") or {}
    seq = m.get("seq") or {}
    parts = m.get("partitions") or {}
    blooms = m.get("blooms") or {}
    recs = []
    for f in m["files"]:
        recs.append(
            (
                f,
                int(seq.get(f, 0)),
                int(rows_meta[f]) if f in rows_meta else None,
                int(fs.size(os.path.join(rel, f))),
                parts.get(f) or {},
                _json.dumps(stats.get(f)) if f in stats else None,
                sorted(blooms.get(f) or {}),
            )
        )
    return spark.createDataFrame(
        recs,
        "file string, seq int, n_rows long, size_bytes long, "
        "partitions map<string,string>, stats_json string, "
        "bloom_cols array<string>",
    )


def partitions_table(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The table's PARTITION-LEVEL rollup as a queryable DataFrame —
    Iceberg's ``db.table.partitions`` metadata table in minimal form:
    one row per recorded partition tuple with its file count, row count
    (stored footer counts — upper bounds while merge-on-read deletes
    are pending), and byte size. Files with no recorded partition
    values (pre-evolution data, rewrites that mixed partitions) group
    under a NULL partition rather than disappearing — the honest bucket
    an operator needs when deciding whether a re-layout is due. Built
    from the manifest + one fs.size stat per file; no data IO, so
    "which partitions went small-file-heavy since the last OPTIMIZE"
    is answerable at a million files without touching the lake."""
    m = read_manifest(path, version)
    fs, rel = get_fs(path)
    rows_meta = m.get("rows") or {}
    parts = m.get("partitions") or {}
    agg: "dict[str | None, list]" = {}
    for f in m["files"]:
        p = parts.get(f)
        token = (
            "/".join(f"{k}={p[k]}" for k in sorted(p)) if p else None
        )
        ent = agg.setdefault(token, [0, 0, 0, True])
        ent[0] += 1
        r = rows_meta.get(f)
        if r is None:
            ent[3] = False  # a file without a stored count: rows unknown
        else:
            ent[1] += int(r)
        ent[2] += int(fs.size(os.path.join(rel, f)))
    recs = [
        (tok, n, rows if known else None, size)
        for tok, (n, rows, size, known) in sorted(
            agg.items(), key=lambda kv: (kv[0] is None, kv[0] or "")
        )
    ]
    return spark.createDataFrame(
        recs,
        "partition string, n_files int, n_rows long, size_bytes long",
    )


def refs_table(spark: SparkSession, path: str) -> DataFrame:
    """The table's NAMED REFS as a queryable DataFrame — Iceberg's
    ``db.table.refs`` metadata table in minimal form: one row per tag
    (kind='tag', pinned version) and per staged WAP ref (kind='staged',
    version = the base it staged against, n_files = its pending files).
    Metadata-only."""
    recs = [
        (name, "tag", int(v), None)
        for name, v in sorted(list_tags(path).items())
    ]
    for ref in sorted(list_staged(path)):
        doc = _read_staged(path, ref)
        recs.append(
            (ref, "staged", int(doc.get("base_version") or 0),
             len(doc["files"]))
        )
    return spark.createDataFrame(
        recs, "name string, kind string, version int, n_files int"
    )


def history_table(spark: SparkSession, path: str) -> DataFrame:
    """:func:`history` as a DataFrame (DESCRIBE HISTORY, queryable)."""
    recs = [
        (
            int(h["version"]),
            h.get("op"),
            float(h["ts"]) if h.get("ts") is not None else None,
            int(h["n_files"]),
            h.get("n_rows"),
            h.get("rows_added"),
            h.get("rows_removed"),
            int(h.get("files_added") or 0),
            int(h.get("files_removed") or 0),
        )
        for h in history(path)
    ]
    return spark.createDataFrame(
        recs,
        "version int, op string, ts double, n_files int, n_rows long, rows_added long, "
        "rows_removed long, files_added int, files_removed int",
    )


def history(path: str) -> "list[dict]":
    """Per-version accounting from the manifests alone (metadata-only):
    version, file count, total rows, and net rows/files added and removed
    vs the previous retained version. Versions written before row
    tracking report ``n_rows=None``. The audit surface a lake table needs
    ("what did that ingest actually do?") without replaying any data.

    ``n_rows`` counts PHYSICAL rows in the version's data files; pending
    merge-on-read delete entries (:func:`delete_keys_mor`) are not
    subtracted — the logical count catches up when
    :func:`materialize_deletes` folds them in (Iceberg reports the same
    way: equality deletes are separate accounting until compaction)."""
    out = []
    prev_files: dict = {}
    for v in _versions(path):
        m = read_manifest(path, v)
        rows = m.get("rows")
        cur = {f: (rows or {}).get(f) for f in m["files"]}
        added = [f for f in cur if f not in prev_files]
        removed = [f for f in prev_files if f not in cur]
        def _tot(d, names):
            vals = [d[f] for f in names]
            return None if any(x is None for x in vals) else sum(vals)
        out.append(
            {
                "version": v,
                # In-commit timestamp (None for pre-ICT manifests).
                "ts": m.get("ts"),
                # Operation kind (None for commits predating the field).
                "op": m.get("op"),
                "n_files": len(cur),
                "n_rows": _tot(cur, list(cur)) if rows is not None else None,
                "files_added": len(added),
                "files_removed": len(removed),
                "rows_added": _tot(cur, added) if rows is not None else None,
                "rows_removed": (
                    _tot(prev_files, removed) if prev_files and rows is not None else 0
                ),
            }
        )
        prev_files = cur
    return out


def read_version_delta(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: "int | None" = None,
) -> DataFrame:
    """Rows APPENDED between two manifest versions, planned from metadata
    alone: the file lists of the two manifests are set-differenced and
    ONLY the added files enter the scan — the incremental-consumer fast
    path (Delta's CDF for append-only flows). At 100 TB an hourly reader
    scans the hour's files, never the table.

    Files present in ``from_version`` and absent in ``to_version`` are
    ignored here: a rewrite (delete/upsert victim, compaction) re-adds
    surviving rows under new names, which THIS reader would misreport as
    fresh appends — so rewritten-in files whose rows aren't all new are
    the caller's signal to fall back to the full
    ``operators/joins.py::snapshot_diff`` composite (see
    ``manifest_cdc_roundtrip``). For append-only tables (the streaming
    sink's contract) the result is exactly the appended rows."""
    m_from = read_manifest(path, from_version)
    m_to = read_manifest(path, to_version)
    old = set(m_from["files"])
    added = [f for f in m_to["files"] if f not in old]
    if not added:
        schema = m_to.get("schema")
        if schema:
            ddl = ", ".join(f"{n} {t}" for n, t in schema)
            return spark.createDataFrame([], ddl)
        return load_manifest_table(spark, path, to_version).limit(0)
    return _read_files(spark, path, m_to, added)


CDF_DIR = "_changes"
CDF_TYPE_COL = "_change_type"
CDF_VERSION_COL = "_commit_version"


def _cdf_on(m: dict) -> bool:
    return bool((m.get("props") or {}).get("cdf"))


def set_table_properties(path: str, **props) -> int:
    """ALTER TABLE SET/UNSET TBLPROPERTIES: merge the given key/values
    into the table's properties in one metadata commit (``None`` unsets
    a key). Feature-bearing keys route through their dedicated
    enablement functions because setting the flag is not enough —
    ``row_tracking`` must allocate per-file bases, ``cluster_by``/
    ``cluster_watermark`` belong to :func:`optimize_clustered`'s
    invariants — so this setter refuses them with a pointer."""
    reserved = {
        "row_tracking": "enable_row_tracking()",
        "cdf": "enable_cdf()",
        "cluster_by": "optimize_clustered()",
        "cluster_watermark": "optimize_clustered()",
    }
    for k in props:
        if k in reserved:
            raise ValueError(
                f"property {k!r} is feature-bearing; use {reserved[k]}"
            )
    m = read_manifest(path)
    merged = dict(m.get("props") or {})
    for k, v in props.items():
        if v is None:
            merged.pop(k, None)
        else:
            merged[k] = v
    if merged == (m.get("props") or {}):
        return m["version"]  # no-op: no version churn
    return _commit(path, m, props=merged, op="SET TBLPROPERTIES")


def enable_cdf(path: str) -> int:
    """ALTER TABLE SET TBLPROPERTIES (delta.enableChangeDataFeed = true)
    in minimal form: a metadata-only commit setting the ``cdf`` table
    property. From this version onward the row-level DML paths
    (:func:`delete_where`, :func:`update_where`, :func:`merge_into`,
    :func:`upsert`) record their change rows as parquet files under
    ``_changes/`` referenced by the commit (``cdf_files``), and
    :func:`read_changes` serves the Delta-style feed (``_change_type``
    in insert / update_preimage / update_postimage / delete, plus
    ``_commit_version``). Positional merge-on-read DML
    (:func:`delete_where_pos` / :func:`update_where_pos`) records the
    same feed. Appends need no change files — their adds ARE the
    inserts, synthesized at read time from the sequence map. The feed
    starts HERE: versions before enablement (and commit types that do
    not record changes — equality-MoR deletes, SCD2, restore)
    make read_changes raise rather than guess."""
    m = read_manifest(path)
    props = dict(m.get("props") or {})
    if props.get("cdf"):
        return m["version"]
    props["cdf"] = True
    return _commit(path, m, props=props, cdf_files=[], op="SET TBLPROPERTIES")


def enable_row_tracking(path: str) -> int:
    """ALTER TABLE SET TBLPROPERTIES (delta.enableRowTracking = true) in
    minimal form — Delta's row lineage: every row gets a STABLE
    ``_row_id`` that survives rewrites. Fresh rows are metadata-only
    (file base + parquet row index — appends pay zero storage); rewrite
    paths (DELETE/UPDATE/replace_where/MERGE/upsert/compaction/OPTIMIZE/
    materialize) carry survivors' ids as a materialized ``__row_id``
    column that wins per row at read. Read ids with
    ``load_manifest_table(..., with_row_ids=True)``. Ids are unique and
    stable from enablement on; they are NOT dense (deletes leave
    holes — Delta's contract too)."""
    m = read_manifest(path)
    props = dict(m.get("props") or {})
    if props.get("row_tracking"):
        return m["version"]
    props["row_tracking"] = True
    return _commit(path, m, props=props, op="SET TBLPROPERTIES")


def _materialize_ids(df: DataFrame) -> DataFrame:
    """Rename the read-time ``_row_id`` to the physical ``__row_id`` a
    rewrite stages — survivors keep their identity across the rewrite."""
    return df.withColumnRenamed(ROW_ID_COL, ROW_ID_PHYS)


def _stage_changes(df: DataFrame, path: str) -> "list[str]":
    """Write one commit's change rows (table columns + ``_change_type``)
    as parquet under ``_changes/`` with unique names; returns the names
    relative to the table root. Additive like every pre-commit step —
    invisible until the manifest referencing them publishes; vacuum
    collects orphans by the same age rule as data files."""
    fs, rel = get_fs(path)
    fs.makedirs(os.path.join(rel, CDF_DIR))
    token = uuid.uuid4().hex[:12]
    stage_name = f".stage_cdf_{token}"
    df.write.mode("overwrite").parquet(os.path.join(path, stage_name))
    stage_rel = os.path.join(rel, stage_name)
    names: "list[str]" = []
    for base in sorted(fs.listdir(stage_rel)):
        if not base.endswith(".parquet"):
            continue
        f = os.path.join(stage_rel, base)
        if fs.parquet_file(f).metadata.num_rows == 0:
            continue
        name = f"{CDF_DIR}/cdf-{token}-{len(names):04d}.parquet"
        fs.rename(f, os.path.join(rel, name))
        names.append(name)
    fs.rmtree(stage_rel)
    return names


def read_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: "int | None" = None,
) -> DataFrame:
    """Row-level change feed between two versions (Delta's
    ``table_changes`` / ``readChangeFeed``): for each version in
    ``(from_version, to_version]`` emit its change rows with
    ``_change_type`` and ``_commit_version``. DML commits read their
    recorded ``cdf_files``; pure-append commits synthesize ``insert``
    rows from the files the sequence map stamps with that version (no
    change files needed — Delta's optimization too). Commits that are
    neither (equality-MoR deletes, SCD2, restore,
    pre-enablement versions) raise — a feed that silently guessed would
    be worse than none."""
    m_to = read_manifest(path, to_version)
    to_v = m_to["version"]
    parts: "list[DataFrame]" = []
    schema_cols = [n for n, _ in (m_to.get("schema") or [])]
    for v in range(from_version + 1, to_v + 1):
        doc = read_manifest(path, v)
        if "cdf_files" in doc:
            names = doc["cdf_files"]
            if not names:
                continue  # no logical change in this commit
            # Spark resolves the ORIGINAL path/URI (s3://, hdfs://); the
            # fs/rel shim is only for fs-level ops, never spark.read.
            df = spark.read.parquet(
                *[os.path.join(path, n) for n in names]
            )
            parts.append(df.withColumn(CDF_VERSION_COL, F.lit(v)))
            continue
        if not _cdf_on(doc):
            raise ValueError(
                f"change feed not enabled as of version {v} of {path}; "
                "read_changes serves versions after enable_cdf()"
            )
        prev = read_manifest(path, v - 1)
        pure_append = set(prev["files"]) <= set(doc["files"]) and (
            prev.get("deletes") or []
        ) == (doc.get("deletes") or [])
        if not pure_append:
            raise ValueError(
                f"version {v} of {path} was committed by an operation "
                "that does not record a change feed (positional/MoR DML "
                "or restore); use snapshot_diff for rewrite-aware deltas"
            )
        added = [f for f in doc["files"] if f not in set(prev["files"])]
        if added:
            df = _read_files(spark, path, doc, added).withColumn(
                CDF_TYPE_COL, F.lit("insert")
            )
            parts.append(df.withColumn(CDF_VERSION_COL, F.lit(v)))
    if not parts:
        ddl = ", ".join(
            f"{n} {t}" for n, t in (m_to.get("schema") or [])
        )
        empty = (
            f"{ddl}, {CDF_TYPE_COL} string, {CDF_VERSION_COL} int"
            if ddl
            else f"{CDF_TYPE_COL} string, {CDF_VERSION_COL} int"
        )
        return spark.createDataFrame([], empty)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    if schema_cols:
        out = out.select(
            *[c for c in schema_cols if c in out.columns],
            CDF_TYPE_COL,
            CDF_VERSION_COL,
        )
    return out


def _to_physical(df: DataFrame, colmap: dict | None) -> DataFrame:
    """Rename logical columns to their physical names for staging: data
    files ALWAYS carry physical names (immutable across renames), so a
    rewrite after a rename writes the same column the old files have and
    the read path maps back once."""
    if not colmap:
        return df
    return df.select(
        *[F.col(c).alias(colmap.get(c, c)) for c in df.columns]
    )


def _snapshot_colmap(path: str, m: "dict | None") -> dict:
    """The column mapping staging applies: the operation's snapshot ``m``
    when it has one — so a rename committed after the operation read its
    version cannot re-map the batch — else the latest manifest's, and {}
    before the table has a manifest (adoption paths)."""
    if m is None:
        try:
            m = read_manifest(path)
        except FileNotFoundError:
            return {}
    return m.get("colmap") or {}


def _stage_rewrites(
    spark_df: DataFrame, path: str, prefix: str, m: "dict | None" = None
) -> list[str]:
    """Write a DataFrame as new uniquely-named data files INSIDE the table
    directory (additive — invisible to manifest readers until a commit
    references them). Returns the new basenames.

    Columns are staged under their PHYSICAL names (column mapping): the
    colmap of the operation's snapshot ``m`` (see :func:`_snapshot_colmap`)
    applies to any input column it knows."""
    spark_df = _to_physical(spark_df, _snapshot_colmap(path, m))
    fs, rel = get_fs(path)
    stage_name = f".stage_{uuid.uuid4().hex[:8]}"
    # Spark writes through its own Hadoop connectors (any scheme); the
    # post-write surgery goes through the fs shim. Renames here touch only
    # files no manifest references yet, so object-store copy+delete
    # semantics are fine (see fs.py).
    spark_df.write.mode("overwrite").parquet(os.path.join(path, stage_name))
    stage_rel = os.path.join(rel, stage_name)
    out = []
    for i, base in enumerate(sorted(fs.listdir(stage_rel))):
        if not base.endswith(".parquet"):
            continue
        f = os.path.join(stage_rel, base)
        if fs.parquet_file(f).metadata.num_rows == 0:
            continue  # empty part: referencing it just bloats the manifest
        name = f"{prefix}-{uuid.uuid4().hex[:12]}-{i}.parquet"
        fs.rename(f, os.path.join(rel, name))
        out.append(name)
    fs.rmtree(stage_rel)
    return out


def append(
    df: DataFrame,
    path: str,
    txn: "tuple[str, int] | None" = None,
    merge_schema: bool = False,
    max_commit_retries: int = 0,
) -> int:
    """Manifest-committed append: write the batch as new data files and
    publish one new version referencing old + new. The object-store-safe
    ingestion op — a crashed append leaves unreferenced files for
    :func:`vacuum`, never a partially-visible batch.

    ``txn = (app_id, batch_id)`` makes the append IDEMPOTENT for
    at-least-once callers (streaming foreachBatch): each manifest carries
    per-app watermarks, and a batch at or below the committed watermark
    is skipped — a replay after a crash between sink write and checkpoint
    advance cannot double-append (Delta's txn protocol in minimal form;
    the watermark commits atomically WITH the files it describes).
    Returns the committed (or current, when skipped) version.

    ``max_commit_retries`` absorbs :class:`CommitConflict` internally:
    the batch is STAGED ONCE, and each retry re-reads the manifest and
    re-publishes metadata referencing the SAME staged files — no Spark
    re-execution, no duplicate data files under contention (the property
    streaming/lake.py needs). Constraints are re-validated on retry only
    if the constraint set changed between versions; a replay detected on
    retry (another worker committed our txn watermark) removes the staged
    files and returns the current version. Default 0 preserves the raw
    optimistic protocol: conflicts raise for the caller to re-plan."""
    m = read_manifest(path)
    _reject_identity_supplied(m, df, "append batches")
    # Schema evolution cannot re-bind a DROPPED physical name: old files
    # still hold stale bytes under it, and the requested-schema read
    # would resurrect them. add_column() allocates a fresh physical name
    # for this case — route there.
    if (m.get("dropped") or m.get("colmap")) and m.get("schema"):
        table_cols = {n for n, _ in m["schema"]}
        # A NEW batch column may not re-bind a physical name that old
        # files still populate: dropped columns, and — same stale-byte
        # resurrection through the other door — colmap TARGETS (after
        # rename_column('a','b') the physical 'a' holds b's data; a
        # merge-schema batch introducing logical 'a' would read it).
        # add_column's _fresh_physical covers both via its `taken` set.
        taken = set(m.get("dropped") or ()) | set(
            (m.get("colmap") or {}).values()
        )
        reused = [
            c for c in df.columns if c not in table_cols and c in taken
        ]
        if reused:
            raise SchemaMismatch(
                f"batch column(s) {reused} re-use a DROPPED or renamed-away "
                "physical column name; use add_column() first (it binds a "
                "fresh physical name) and then append"
            )
    # Write defaults fill omitted columns first (generated expressions
    # may reference them), generated columns compute/validate next (the
    # batch may legally omit them), then constraints validate BEFORE
    # staging so a rejected batch leaves zero artifacts.
    df = _apply_write_defaults(m, df)
    df = _apply_generated(m, df)
    _check_schema(m.get("schema") or _df_schema_list(df), df, merge_schema)
    _check_constraints(m, df)
    if txn is not None and (m.get("txns") or {}).get(txn[0], -1) >= txn[1]:
        return m["version"]  # replay: already applied
    spec_cols = [
        c for c in _partition_spec(m) if _parse_transform(c)[2] in df.columns
    ]
    if spec_cols:
        # The table has a partition spec: lay the batch out one partition
        # per file set and record each file's values in the manifest
        # (partition evolution — older files simply have no entries).
        new_names, new_parts = _stage_partitioned(
            df, path, "append", spec_cols, m
        )
    else:
        new_names = _stage_rewrites(df, path, "append", m)
        new_parts = None
    fs, rel = get_fs(path)
    for attempt in range(max_commit_retries + 1):
        schema = _check_schema(
            m.get("schema") or _df_schema_list(df), df, merge_schema
        )
        txns = dict(m.get("txns") or {})
        if txn is not None:
            app_id, batch_id = txn
            if txns.get(app_id, -1) >= batch_id:
                # Replay surfaced by the conflicting commit: our staged
                # files are unreferenced; drop them now rather than
                # leaving vacuum garbage.
                _remove_quietly(fs, rel, new_names)
                return m["version"]
            txns[app_id] = batch_id
        try:
            return _commit(
                path, m, m["files"] + new_names, txns=txns, schema=schema,
                partitions=new_parts, op="WRITE",
            )
        except CommitConflict:
            if attempt == max_commit_retries:
                raise
            m2 = read_manifest(path)
            if (m2.get("constraints") or {}) != (m.get("constraints") or {}):
                _check_constraints(m2, df)  # rules changed underfoot
            m = m2
    raise AssertionError("unreachable")


def _parse_transform(entry: str) -> "tuple[str, int | None, str]":
    """Parse a partition-spec entry into (kind, param, source_col).

    Supported (Iceberg's transform catalog in minimal form):
      ``col``                identity — partition by cast(col as string)
      ``bucket(N, col)``     Knuth multiplicative hash mod N (portable
                             integer arithmetic, replayable in any engine
                             — the same hash the split/bucketing ops use)
      ``truncate(W, col)``   integers: col - (col % W); width-W ranges
      ``day(col)``           yyyy-MM-dd of a timestamp/date column
    """
    import re

    m = re.fullmatch(r"\s*(bucket|truncate)\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*", entry)
    if m:
        return m.group(1), int(m.group(2)), m.group(3)
    m = re.fullmatch(r"\s*day\(\s*(\w+)\s*\)\s*", entry)
    if m:
        return "day", None, m.group(1)
    m = re.fullmatch(r"\s*(\w+)\s*", entry)
    if m:
        return "identity", None, m.group(1)
    raise ValueError(f"unsupported partition transform: {entry!r}")


_KNUTH = 2654435761  # 2^32/phi — the repo's portable multiplicative hash


def _transform_expr(entry: str):
    """The Spark column computing ``entry``'s partition token."""
    kind, param, col = _parse_transform(entry)
    c = F.col(col)
    if kind == "identity":
        return c.cast("string")
    if kind == "bucket":
        return (
            F.pmod(
                F.pmod(c.cast("long") * F.lit(_KNUTH), F.lit(1 << 32)),
                F.lit(param),
            )
        ).cast("string")
    if kind == "truncate":
        return (c.cast("long") - F.pmod(c.cast("long"), F.lit(param))).cast(
            "string"
        )
    if kind == "day":
        return F.date_format(c, "yyyy-MM-dd")
    raise AssertionError(kind)


def _transform_value(entry: str, value) -> str:
    """The token a row with source-column ``value`` lands in — the
    Python twin of :func:`_transform_expr`, evaluated at PLAN time so an
    equality predicate on the SOURCE column prunes through the transform
    (Iceberg's hidden partitioning: the query never mentions the
    transform). Must match the Spark expression token-for-token."""
    import datetime as _dt

    kind, param, _col = _parse_transform(entry)
    if kind == "identity":
        return str(value)
    if kind == "bucket":
        return str(((int(value) * _KNUTH) % (1 << 32)) % param)
    if kind == "truncate":
        v = int(value)
        return str(v - (v % param))  # Python % matches pmod for param > 0
    if kind == "day":
        if isinstance(value, (_dt.datetime, _dt.date)):
            d = value.date() if isinstance(value, _dt.datetime) else value
            return d.isoformat()
        return str(value)[:10]
    raise AssertionError(kind)


def set_partition_spec(path: str, cols: "list[str]") -> int:
    """Evolve the table's partition spec (Iceberg partition evolution in
    minimal form): a METADATA-ONLY commit that appends ``cols`` to the
    spec history and makes it current. Existing data files are NEVER
    rewritten — they simply have no partition values recorded, so
    partition pruning keeps them conservatively (and manifest stats can
    still skip them); every subsequent :func:`append` lays its files out
    one-partition-per-file and records each file's partition values in
    the manifest. Pass ``[]`` to evolve back to unpartitioned.

    Entries may be TRANSFORMS — ``"bucket(16, user_id)"``,
    ``"truncate(100, event_id)"``, ``"day(ts)"`` — Iceberg's hidden
    partitioning: queries keep filtering on the raw column and
    :func:`prune_files_partition` maps predicate values through the same
    transform at plan time, so high-cardinality keys get bounded file
    counts without the query ever naming the transform.

    This is the evolution story object-store tables need: changing the
    layout of 100 TB by rewriting is a week of IO; changing it for data
    written from now on is one JSON commit.
    """
    m = read_manifest(path)
    schema_cols = {n for n, _ in (m.get("schema") or [])}
    parsed = [_parse_transform(c) for c in cols]  # validates syntax
    unknown = [
        e for e, (_k, _p, src) in zip(cols, parsed)
        if schema_cols and src not in schema_cols
    ]
    if unknown:
        raise ValueError(
            f"partition columns {unknown} not in table schema at {path}"
        )
    specs = [list(s) for s in (m.get("specs") or [])]
    if list(cols) in specs:
        spec_id = specs.index(list(cols))
    else:
        specs.append(list(cols))
        spec_id = len(specs) - 1
    return _commit(
        path, m, specs=specs, current_spec=spec_id, op="ALTER PARTITION SPEC",
    )


def current_partition_spec(path: str, version: int | None = None) -> "list[str]":
    """The partition columns appends currently lay out by ([] if the
    table is unpartitioned or predates partition specs)."""
    return _partition_spec(read_manifest(path, version))


def _partition_spec(m: dict) -> "list[str]":
    """The partition columns of manifest snapshot ``m``'s current spec."""
    specs = m.get("specs") or []
    cur = m.get("current_spec")
    return list(specs[cur]) if cur is not None and cur < len(specs) else []


def _stage_partitioned(
    spark_df: DataFrame,
    path: str,
    prefix: str,
    cols: "list[str]",
    m: dict,
) -> "tuple[list[str], dict]":
    """:func:`_stage_rewrites` honoring a partition spec: ONE write job
    partitionBy's STRING COPIES of the partition columns (so the data
    files keep the original columns — each output file is self-contained
    and footer/manifest stats on the partition columns still work), then
    the staged hive-layout leaves are renamed flat into the table dir
    with their partition values parsed from the directory tokens.
    Returns (new basenames, {basename: {col: token}}).

    Tokens are Spark's hive-encoding of ``cast(col as string)`` (nulls
    become ``__HIVE_DEFAULT_PARTITION__``) — equality pruning compares
    the same encoding, so a mismatch genuinely proves absence."""
    from urllib.parse import unquote

    fs, rel = get_fs(path)
    stage_name = f".stage_{uuid.uuid4().hex[:8]}"
    pcols = [f"__p{i}" for i in range(len(cols))]
    staged = spark_df
    for c, pc in zip(cols, pcols):
        staged = staged.withColumn(pc, _transform_expr(c))
    # Transforms are computed on LOGICAL names above; the data columns
    # stage under their physical names in the operation's snapshot ``m``
    # (column mapping), like _stage_rewrites. Renamed partition-source
    # columns are rejected at rename time, so the transform entries stay
    # valid.
    cm = m.get("colmap") or {}
    if cm:
        staged = staged.select(
            *[F.col(c).alias(cm.get(c, c)) for c in staged.columns]
        )
    # One shuffle co-locating each partition value in one task before the
    # hive-layout write (Delta's optimized write): one file per partition
    # value instead of one per (task x value) — the small-file hazard of
    # naive partitionBy at 1000 executors.
    staged = staged.repartition(*[F.col(pc) for pc in pcols])
    staged.write.mode("overwrite").partitionBy(*pcols).parquet(
        os.path.join(path, stage_name)
    )
    stage_rel = os.path.join(rel, stage_name)
    out, parts = [], {}
    stack = [(stage_rel, {})]
    i = 0
    while stack:
        d, vals = stack.pop()
        for base in sorted(fs.listdir(d)):
            p = os.path.join(d, base)
            if "=" in base and not base.endswith(".parquet"):
                pc, _, tok = base.partition("=")
                if pc in pcols:
                    col = cols[pcols.index(pc)]
                    stack.append((p, {**vals, col: unquote(tok)}))
                continue
            if not base.endswith(".parquet"):
                continue
            if fs.parquet_file(p).metadata.num_rows == 0:
                continue
            name = f"{prefix}-{uuid.uuid4().hex[:12]}-{i}.parquet"
            i += 1
            fs.rename(p, os.path.join(rel, name))
            out.append(name)
            parts[name] = dict(vals)
    fs.rmtree(stage_rel)
    return out, parts


def prune_files_partition(
    m: dict, eq: "dict[str, object]"
) -> "tuple[list[str], int]":
    """(files that may contain rows where every ``col = value`` holds,
    total files) — decided from the manifest's recorded partition values
    alone. ``eq`` is keyed by SOURCE columns: a file partitioned by a
    TRANSFORM of the column (bucket/truncate/day — Iceberg's hidden
    partitioning) still prunes, because the same transform maps the
    predicate value to its only possible token at plan time. A file with
    no recorded value involving the column (pre-evolution data, rewrite
    outputs) is conservatively kept; a token mismatch PROVABLY excludes
    every row in the file. Composes with :func:`prune_files_multi`
    stats for the leftovers."""
    parts = m.get("partitions") or {}
    kept = []
    for f in m["files"]:
        p = parts.get(f) or {}
        ok = True
        for entry, token in p.items():
            src = _parse_transform(entry)[2]
            if src in eq and token != _transform_value(entry, eq[src]):
                ok = False
                break
        if ok:
            kept.append(f)
    return kept, len(m["files"])


def prune_files_partition_range(
    m: dict, col: str, lo, hi
) -> "tuple[list[str], int]":
    """(files that may contain rows with ``lo <= col <= hi``, total) from
    recorded partition values — the RANGE complement of
    :func:`prune_files_partition`, which is what a ``day(ts)``- or
    ``truncate(W, k)``-partitioned table exists to answer (time-series
    scans are BETWEEN, not equality). Order-preserving transforms map
    the predicate endpoints to token bounds: identity and ``day`` tokens
    compare lexicographically (ISO dates sort correctly), ``truncate``
    tokens compare numerically; ``bucket`` destroys order, so bucket
    entries never range-prune (conservative keep — same contract as
    every pruning path here: skipping is an optimization, not a
    filter)."""
    parts = m.get("partitions") or {}
    kept = []
    for f in m["files"]:
        ok = True
        for entry, token in (parts.get(f) or {}).items():
            kind, param, src = _parse_transform(entry)
            if src != col or kind == "bucket":
                continue
            if token == HIVE_NULL_TOKEN:
                ok = False  # all-null partition: BETWEEN is never true
                break
            if kind == "truncate":
                t = int(token)
                if t + param <= int(lo) or t > int(hi):
                    ok = False
                    break
            else:
                # identity / day: compare tokens numerically when all
                # three parse as ints ("9" < "10" must hold for integer
                # identity partitions), else lexicographically (ISO day
                # tokens and plain strings both sort correctly).
                tlo = _transform_value(entry, lo)
                thi = _transform_value(entry, hi)
                try:
                    below = int(token) < int(tlo) or int(token) > int(thi)
                except ValueError:
                    below = token < tlo or token > thi
                if below:
                    ok = False
                    break
        if ok:
            kept.append(f)
    return kept, len(m["files"])


def add_column(
    path: str,
    name: str,
    dtype: str,
    initial_default: "str | None" = None,
    write_default: "str | None" = None,
) -> int:
    """Metadata-only ALTER TABLE ADD COLUMN: commits a new version with
    the same file list and an extended schema — zero data IO, the Delta/
    Iceberg DDL fast path. Readers of the new version see the column as
    null for every existing row; readers of pinned old versions never see
    it (schema is versioned with the manifest). ``dtype`` is a Spark DDL
    type string (``int``, ``string``, ``array<double>`` ...).

    ``initial_default`` (Iceberg v3 initial-default in minimal form) is a
    SQL literal existing rows READ instead of null — still metadata-only:
    the manifest records the literal plus the version it appeared
    (``since``), and the read path default-fills exactly the files whose
    sequence number predates it (they physically lack the column), so a
    LATER batch writing an explicit NULL stays NULL. ``write_default``
    is the value WRITTEN when an append batch omits the column (defaults
    to ``initial_default``); unlike the initial default it materializes
    into data files, so changing it later never rewrites history."""
    m = read_manifest(path)
    schema = m.get("schema")
    if not schema:
        raise ValueError(
            f"{path} has no manifest schema (pre-evolution manifest); "
            "re-init or append once to adopt one"
        )
    if any(n == name for n, _ in schema):
        raise SchemaMismatch(f"column {name!r} already exists")
    defaults = dict(m.get("defaults") or {})
    if initial_default is not None or write_default is not None:
        defaults[name] = {
            "initial": initial_default,
            "write": (
                write_default if write_default is not None else initial_default
            ),
            "since": m["version"] + 1,
        }
    colmap = dict(m.get("colmap") or {})
    fresh = _fresh_physical(m, name)
    if fresh:
        # Re-adding a previously dropped name: bind a fresh physical
        # name so old files' retained bytes can never read back.
        colmap[name] = fresh
    return _commit(
        path, m, schema=schema + [[name, dtype]], defaults=defaults,
        colmap=colmap, op="ADD COLUMN",
    )


def add_identity_column(
    path: str, name: str, start: int = 1, step: int = 1
) -> int:
    """ALTER TABLE ADD COLUMN ... GENERATED ALWAYS AS IDENTITY — Delta's
    identity columns in minimal form, strictly more capable (Delta only
    allows them at table creation; here existing rows backfill too).
    METADATA-ONLY at any table size: each file gets an ORDINAL base (the
    row-tracking allocator), existing rows backfill as
    ``start + step * (base + row index)`` with zero data IO, every
    append allocates bases for its new files atomically WITH the commit
    (the optimistic version file is the counter — no cross-writer race,
    no side state), and rewrites materialize survivors' values
    physically (a physical value wins per row, so DML preserves
    identity). Values are unique and monotone per file; gaps appear
    across rewrites, which identity semantics permit (Delta documents
    the same). Batches supplying the column are rejected — GENERATED
    ALWAYS, the engine owns the values."""
    if step == 0:
        raise ValueError("identity step must be nonzero")
    m = read_manifest(path)
    schema = m.get("schema")
    if not schema:
        raise ValueError(
            f"{path} has no manifest schema (pre-evolution manifest); "
            "re-init or append once to adopt one"
        )
    if any(n == name for n, _ in schema):
        raise SchemaMismatch(f"column {name!r} already exists")
    identity = {c: dict(s) for c, s in (m.get("identity") or {}).items()}
    identity[name] = {"start": int(start), "step": int(step), "base": {},
                      "next": 0}
    colmap = dict(m.get("colmap") or {})
    fresh = _fresh_physical(m, name)
    if fresh:
        colmap[name] = fresh
    return _commit(
        path, m, schema=schema + [[name, "bigint"]], identity=identity,
        colmap=colmap, op="ADD COLUMN",
    )


def add_generated_column(
    spark: SparkSession, path: str, name: str, dtype: str, expr: str
) -> int:
    """ALTER TABLE ADD COLUMN ... GENERATED ALWAYS AS (expr) — Delta's
    generated columns in minimal form: the SQL expression is stored in
    the manifest, and every subsequent :func:`append`

    * COMPUTES the column when the batch omits it (writers never need to
      know the derivation — the day/bucket partition helper columns that
      motivate the feature), or
    * VALIDATES it when the batch supplies it (a mismatching value is a
      :class:`ConstraintViolation`, not silent drift).

    Existing rows are untouched (metadata-only DDL like
    :func:`add_column`); readers null-fill them, and pinned old versions
    never see the column. The expression must be deterministic and
    reference only existing columns (checked against an empty frame at
    DDL time, so a typo fails HERE, not at the next append)."""
    m = read_manifest(path)
    schema = m.get("schema")
    if not schema:
        raise ValueError(
            f"{path} has no manifest schema (pre-evolution manifest); "
            "re-init or append once to adopt one"
        )
    if any(n == name for n, _ in schema):
        raise SchemaMismatch(f"column {name!r} already exists")
    # Validate the expression compiles against the table schema now, and
    # canonicalize the declared dtype through Spark's own parser (the
    # caller may say "long", the engine says "bigint" — the stored
    # schema entry must match what an appended batch will carry).
    ddl = ", ".join(f"{n} {t}" for n, t in schema)
    try:
        compiled = spark.createDataFrame([], ddl).select(
            F.expr(expr).cast(dtype).alias(name)
        )
        dtype = compiled.schema.fields[0].dataType.simpleString()
    except Exception as e:
        raise ValueError(
            f"generated-column expression {expr!r} does not compile "
            f"against the table schema: {e}"
        ) from e
    generated = dict(m.get("generated") or {})
    generated[name] = expr
    colmap = dict(m.get("colmap") or {})
    fresh = _fresh_physical(m, name)
    if fresh:
        colmap[name] = fresh
    return _commit(
        path, m, schema=schema + [[name, dtype]], generated=generated,
        colmap=colmap, op="ADD COLUMN",
    )


def _reject_identity_supplied(m: dict, df: DataFrame, op: str) -> None:
    """GENERATED ALWAYS AS IDENTITY: the engine owns the values on EVERY
    write path — a batch/source supplying the column would break
    uniqueness silently."""
    supplied = set(df.columns) & set(m.get("identity") or {})
    if supplied:
        raise SchemaMismatch(
            f"identity column(s) {sorted(supplied)} are GENERATED ALWAYS; "
            f"{op} must not supply them"
        )


def _apply_write_defaults(m: dict, df: DataFrame) -> DataFrame:
    """Fill columns a batch OMITS with their declared WRITE default
    (Iceberg v3 write-default): the literal materializes into the
    batch's data files at write time, so later changes to the default
    never rewrite history. A column the batch supplies is untouched —
    an explicit NULL is a NULL, not a default."""
    defaults = m.get("defaults") or {}
    if not defaults:
        return df
    types = {n: t for n, t in (m.get("schema") or [])}
    have = set(df.columns)
    for c, d in defaults.items():
        lit = d.get("write")
        if lit is None or c in have or c not in types:
            continue
        df = df.withColumn(c, F.expr(lit).cast(types[c]))
    return df


def _apply_generated(m: dict, df: DataFrame) -> DataFrame:
    """Compute missing generated columns / validate supplied ones for an
    append batch (called before schema enforcement)."""
    gen = m.get("generated") or {}
    types = {n: t for n, t in (m.get("schema") or [])}
    for name, expr in gen.items():
        target = F.expr(expr).cast(types.get(name, "string"))
        if name not in df.columns:
            df = df.withColumn(name, target)
        else:
            bad = df.filter(
                ~F.col(name).eqNullSafe(target)
            ).limit(1).count()
            if bad:
                raise ConstraintViolation(
                    f"generated column {name!r} supplied with values that "
                    f"differ from GENERATED ALWAYS AS ({expr})"
                )
    return df


def widen_column_type(path: str, name: str, new_type: str) -> int:
    """Metadata-only ALTER TABLE ALTER COLUMN TYPE — Delta 3.x type
    widening in minimal form: the declared type moves UP a safe lattice
    (byte->short->int->long, float->double) in one metadata commit;
    existing data files keep their narrow physical type and the
    requested-schema read upcasts them per file (zero rewrite), while
    new appends write the wide type. Narrowing or cross-family changes
    raise — they would need a rewrite and can lose data."""
    m = read_manifest(path)
    schema = m.get("schema")
    if not schema:
        raise ValueError(f"{path} has no manifest schema")
    cur = {n: t for n, t in schema}
    if name not in cur:
        raise SchemaMismatch(f"no such column {name!r}")
    old_t = cur[name].lower()
    new_t = new_type.lower()
    if new_t not in _WIDENINGS.get(old_t, set()):
        raise SchemaMismatch(
            f"cannot change column {name!r} from {old_t!r} to {new_t!r}: "
            "only lossless widenings (byte->short->int->long, "
            "float->double) are metadata-only"
        )
    new_schema = [
        [n, new_type if n == name else t] for n, t in schema
    ]
    return _commit(path, m, schema=new_schema, op="ALTER COLUMN TYPE")


def rename_column(path: str, old: str, new: str) -> int:
    """Metadata-only ALTER TABLE RENAME COLUMN — Delta's column mapping
    in minimal form: data files are NEVER rewritten; the manifest's
    ``colmap`` records each logical column's immutable PHYSICAL name
    (the name baked into every existing footer), reads alias physical ->
    logical, and every write path stages under physical names so files
    written before and after the rename stay byte-compatible. Pruning
    (stats, blooms, victim finding) translates through the map, and
    pending merge-on-read delete entries keep applying (they store the
    physical key column and anti-join on its current logical name).

    Renames are versioned like all DDL here: pinned old versions read
    the old name (time travel for renames). Raises if the column anchors
    a CHECK constraint or a partition-spec transform — those record the
    LOGICAL name in expressions this layer does not rewrite; drop the
    constraint / evolve the spec first (Delta blocks the same cases).
    """
    import re as _re

    m = read_manifest(path)
    schema = m.get("schema")
    if not schema:
        raise ValueError(
            f"{path} has no manifest schema (pre-evolution manifest); "
            "re-init or append once to adopt one"
        )
    names = [n for n, _ in schema]
    if old not in names:
        raise SchemaMismatch(f"column {old!r} does not exist")
    if new in names:
        raise SchemaMismatch(f"column {new!r} already exists")
    for cname, cexpr in (m.get("constraints") or {}).items():
        if _re.search(rf"\b{_re.escape(old)}\b", cexpr):
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraint "
                f"{cname!r} ({cexpr}); drop it first"
            )
    for spec in m.get("specs") or []:
        for entry in spec:
            if _parse_transform(entry)[2] == old:
                raise ValueError(
                    f"column {old!r} anchors partition-spec entry "
                    f"{entry!r}; evolve the spec first"
                )
    for gname, gexpr in (m.get("generated") or {}).items():
        if gname == old or _re.search(rf"\b{_re.escape(old)}\b", gexpr):
            raise ValueError(
                f"column {old!r} is part of generated column {gname!r} "
                f"(GENERATED ALWAYS AS ({gexpr})); drop/re-declare it first"
            )
    colmap = dict(m.get("colmap") or {})
    phys = colmap.pop(old, old)
    if phys != new:
        colmap[new] = phys
    new_schema = [[new if n == old else n, t] for n, t in schema]
    # Column defaults key by LOGICAL name: the entry (and its `since`
    # version) follows the rename so old files keep default-filling.
    defaults = dict(m.get("defaults") or {})
    if old in defaults:
        defaults[new] = defaults.pop(old)
    # Identity specs re-key the same way (base maps key by FILE, which a
    # rename never touches).
    identity = {c: dict(s) for c, s in (m.get("identity") or {}).items()}
    if old in identity:
        identity[new] = identity.pop(old)
    return _commit(
        path, m, schema=new_schema, colmap=colmap, defaults=defaults,
        identity=identity, op="RENAME COLUMN",
    )


def drop_column(path: str, name: str) -> int:
    """Metadata-only ALTER TABLE DROP COLUMN — Delta's drop-with-column-
    mapping in minimal form: data files are NEVER rewritten; the column
    leaves the schema (and the requested-schema read stops even SCANNING
    its bytes — drop is also a read-cost win), its colmap/defaults/
    identity/generated/stats entries go with it, and its PHYSICAL name
    enters a monotone ``dropped`` ledger so a later ADD COLUMN with the
    same name binds a FRESH physical name instead of silently reading
    the old data. Pinned old versions still read the column (drops are
    versioned DDL like everything here).

    Raises if the column anchors a CHECK constraint, a partition-spec
    transform, another generated column's expression, or a PENDING
    equality-delete entry (materialize first) — the same cases Delta
    blocks, because this layer does not rewrite those references."""
    import re as _re

    m = read_manifest(path)
    schema = m.get("schema")
    if not schema:
        raise ValueError(
            f"{path} has no manifest schema (pre-evolution manifest); "
            "re-init or append once to adopt one"
        )
    if not any(n == name for n, _ in schema):
        raise SchemaMismatch(f"column {name!r} does not exist")
    for cname, cexpr in (m.get("constraints") or {}).items():
        if _re.search(rf"\b{_re.escape(name)}\b", cexpr):
            raise ValueError(
                f"column {name!r} is referenced by CHECK constraint "
                f"{cname!r} ({cexpr}); drop it first"
            )
    for spec in m.get("specs") or []:
        for entry in spec:
            if _parse_transform(entry)[2] == name:
                raise ValueError(
                    f"column {name!r} anchors partition-spec entry "
                    f"{entry!r}; evolve the spec first"
                )
    generated = dict(m.get("generated") or {})
    generated.pop(name, None)  # dropping a generated column drops its rule
    for gname, gexpr in generated.items():
        if _re.search(rf"\b{_re.escape(name)}\b", gexpr):
            raise ValueError(
                f"column {name!r} is part of generated column {gname!r} "
                f"(GENERATED ALWAYS AS ({gexpr})); drop it first"
            )
    cluster_by = (m.get("props") or {}).get("cluster_by")
    if cluster_by and name in cluster_by.split(","):
        raise ValueError(
            f"column {name!r} is the table's clustering column "
            f"({cluster_by}); re-lay with optimize_zorder/optimize_hilbert "
            "on other columns first (Delta blocks the same case)"
        )
    phys = _physical_col(m, name)
    for d in m.get("deletes") or []:
        if d.get("key_col") == phys:
            raise ValueError(
                f"column {name!r} anchors a pending equality-delete "
                "entry; run materialize_deletes first"
            )
    colmap = dict(m.get("colmap") or {})
    colmap.pop(name, None)
    defaults = dict(m.get("defaults") or {})
    defaults.pop(name, None)
    identity = {c: dict(s) for c, s in (m.get("identity") or {}).items()}
    identity.pop(name, None)
    stat_cols = m.get("stat_cols")
    stats = m.get("stats")
    if stat_cols and name in stat_cols:
        stat_cols = [c for c in stat_cols if c != name]
        stats = {
            f: {c: v for c, v in per.items() if c != phys}
            for f, per in (stats or {}).items()
        }
    return _commit(
        path, m, schema=[[n, t] for n, t in schema if n != name], stats=stats,
        stat_cols=stat_cols, colmap=colmap, generated=generated,
        defaults=defaults, identity=identity,
        dropped=list(m.get("dropped") or []) + [phys], op="DROP COLUMN",
    )


def _fresh_physical(m: dict, name: str) -> "str | None":
    """A physical name for a (re-)added logical column: the name itself
    unless some retained file may still hold old data under it (it is in
    the dropped ledger, or an existing colmap routes another logical
    column to it) — then a version-stamped fresh name that no data file
    can contain."""
    taken = set(m.get("dropped") or []) | set((m.get("colmap") or {}).values())
    if name not in taken:
        return None
    return f"{name}__v{m['version'] + 1}"


def set_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT CHECK (Delta's write-time data-quality
    gate): ``expr`` is a SQL boolean over the table's columns; EXISTING
    rows are validated first (one scan — a constraint that current data
    already violates is rejected, Delta's rule), then a metadata-only
    version commits it. Every subsequent :func:`append`/:func:`upsert`
    batch is validated before anything is staged; violations raise
    :class:`ConstraintViolation` with the offending row count and nothing
    commits."""
    m = read_manifest(path)
    cons = dict(m.get("constraints") or {})
    if name in cons:
        raise ValueError(f"constraint {name!r} already exists: {cons[name]}")
    existing = load_manifest_table(spark, path)
    bad = existing.filter(~F.expr(expr).eqNullSafe(F.lit(True))).count()
    if bad:
        raise ConstraintViolation(
            f"cannot add constraint {name!r}: {bad} existing rows violate "
            f"({expr})"
        )
    cons[name] = expr
    return _commit(path, m, constraints=cons, op="ADD CONSTRAINT")


def drop_constraint(path: str, name: str) -> int:
    """Metadata-only DROP CONSTRAINT; raises KeyError when absent."""
    m = read_manifest(path)
    cons = dict(m.get("constraints") or {})
    del cons[name]
    return _commit(path, m, constraints=cons, op="DROP CONSTRAINT")


def _check_constraints(m: dict, batch: DataFrame) -> None:
    """Validate a write batch against the table's CHECK constraints —
    BEFORE anything is staged, so a violating batch leaves zero
    artifacts. One filter+count per constraint (they could be OR-combined
    into one pass; kept separate so the error names the failing rule).
    NULL results count as violations (Delta's CHECK semantics: the
    constraint must be TRUE)."""
    for name, expr in (m.get("constraints") or {}).items():
        bad = batch.filter(~F.expr(expr).eqNullSafe(F.lit(True))).count()
        if bad:
            raise ConstraintViolation(
                f"batch violates constraint {name!r} ({expr}): {bad} rows"
            )


def _candidate_files(m: dict, fs, rel: str, key_col: str, key_set: set):
    """Files of the current manifest that MAY contain any of the keys.

    When the manifest tracks stats for ``key_col`` the answer comes
    entirely from the stored per-file [min, max] — zero footer opens, the
    metadata-only planning the layer exists for (at a million files: one
    JSON read instead of a million footer opens). Files with no stored
    stats for the column are conservatively kept. Falls back to
    driver-side footer reads (``jobs._file_may_contain``) only for
    untracked columns."""
    pcol = _physical_col(m, key_col)
    if pcol in (m.get("stat_cols") or []):
        stats = m.get("stats") or {}
        out = []
        for f in m["files"]:
            s = (stats.get(f) or {}).get(pcol)
            if s is None or s[0] is None:
                out.append(f)  # unknown stats -> cannot prune
            elif any(
                k is not None and s[0] <= k <= s[1] for k in key_set
            ):
                # None keys are skipped, not compared: NULL never
                # equi-matches, so a file is a candidate only for its
                # non-null keys (and None <= str raises TypeError).
                out.append(f)
        return out
    from pspcz_analyzer_spark.jobs import _file_may_contain

    return [
        f
        for f in m["files"]
        if _file_may_contain(
            os.path.join(rel, f), pcol, key_set, open_parquet=fs.parquet_file
        )
    ]


# Sources whose DISTINCT key count is at or below this limit take the
# driver-side fast path (collect keys -> stats prune -> Catalyst isin /
# broadcast): zero shuffles, right for the dimension-sized upserts the
# layer was built for. ABOVE it, nothing source-sized ever reaches the
# driver — victim files come from a range join of the distinct keys
# against a broadcast, metadata-sized per-file [min,max] stats frame, and
# the purge/merge joins run as ordinary shuffle joins sized by AQE. At
# 100 TB a CDC backfill with 10^9 keys is a shuffle join, not a
# driver OOM + giant-isin AST.
DML_COLLECT_KEY_LIMIT = 100_000
# Cap on LITERAL ``isin(*keys)`` construction, decoupled from key
# COLLECTION above: building the In AST costs ~0.5 ms/literal in py4j
# conversion (measured, tools/measure_isin_knee.py: 10k keys = 6.0 s
# build+analyze, 100k = 51 s) while the equivalent anti/semi JOIN against
# a keys frame is flat at every size. The DML purge builds TWO such ASTs
# (kept = ~isin, dead = isin), so its crossover sits LOWER than the scan
# knee's ~2k: end-to-end delete_keys on the 10x orders replica
# (tools/measure_r11_dml.py, idle box) reads isin 1.0/1.6/2.4/4.5/9.9/
# 19.5 s at 250/500/1k/2k/4k/8k keys vs anti-join flat 1.0-2.3 s —
# crossover ≈ 500. Collecting up to DML_COLLECT_KEY_LIMIT keys stays
# worthwhile (driver-side footer/stats victim pruning needs the Python
# set); only the Catalyst expression must never be key-shaped. The
# anti-join side is still shuffle-free at these sizes: the keys frame is
# tiny, so AQE broadcasts it.
ISIN_LITERAL_LIMIT = 500
# materialize_deletes' stats-intersection check collects an equality-delete
# entry's keys driver-side only below this (footer-read) row count; larger
# entries run the same check as a distributed range join (names-only
# collect). delete_where/DVs are the sanctioned mass-delete path, but a
# caller who equality-deletes millions of keys must degrade gracefully,
# not OOM the driver.
MOR_STATS_KEY_LIMIT = 100_000


def _plan_source_keys(
    spark: SparkSession,
    m: dict,
    fs,
    rel: str,
    source: DataFrame,
    key_col: str,
    limit: "int | None" = None,
):
    """Victim planning for key-addressed DML (upsert / MERGE / SCD2).

    Returns ``(keys_df, key_set, affected)`` where ``keys_df`` is the
    persisted DISTINCT source-key DataFrame (caller unpersists),
    ``key_set`` is the collected Python set on the small-source fast
    path and ``None`` on the large-source path, and ``affected`` is the
    list of current-manifest files that may contain any source key.

    Large-source pruning is metadata×distributed: the per-file [min,max]
    stats (manifest-sized — one row per FILE) broadcast against the
    distinct keys as a range join; only distinct FILE NAMES are ever
    collected, so the driver materialization is bounded by the file
    count regardless of source size. Files without usable stats for the
    key column are conservatively kept (same rule as
    :func:`_candidate_files`)."""
    lim = DML_COLLECT_KEY_LIMIT if limit is None else limit
    keys_df = source.select(key_col).distinct().persist()
    # ONE action probes size AND collects: limit(lim+1) either returns
    # the complete key set (small path — no separate count() job; the
    # count-then-collect pair cost ~0.4 s per DML call at bench scale
    # and was the r7 orders_scd2_asof_segment bench regression) or
    # proves the source exceeds the limit with lim+1 rows.
    head = keys_df.limit(lim + 1).collect()
    if not head:
        return keys_df, set(), []
    if len(head) <= lim:
        key_set = {r[0] for r in head}
        return keys_df, key_set, _candidate_files(m, fs, rel, key_col, key_set)

    pcol = _physical_col(m, key_col)
    stats = m.get("stats") or {}
    if pcol not in (m.get("stat_cols") or []):
        # No tracked stats: footer probing per file against a
        # non-collectable key set is not possible — keep every file.
        return keys_df, None, list(m["files"])
    ranged, affected = [], []
    for f in m["files"]:
        s = (stats.get(f) or {}).get(pcol)
        if s is None or s[0] is None:
            affected.append(f)  # unknown stats -> cannot prune
        else:
            ranged.append((f, s[0], s[1]))
    if ranged:
        fstats = F.broadcast(
            spark.createDataFrame(ranged, ["__file", "__lo", "__hi"])
        )
        hit = (
            keys_df.join(
                fstats,
                (F.col(key_col) >= F.col("__lo"))
                & (F.col(key_col) <= F.col("__hi")),
            )
            .select("__file")
            .distinct()
            .collect()
        )
        affected += [r[0] for r in hit]
    order = {f: i for i, f in enumerate(m["files"])}
    affected.sort(key=order.get)
    return keys_df, None, affected


def _purge_keys(kept: DataFrame, keys_df: DataFrame, key_col: str, key_set):
    """Drop rows whose key is in the source: Catalyst ``isin`` literal
    filter on the fast path (prunable, no shuffle) — but only up to
    ``ISIN_LITERAL_LIMIT`` literals, the measured planner knee — and a
    ``LEFT ANTI`` join (AQE sizes it; nothing driver-side) above it or on
    the uncollected large path.

    None keys are dropped BEFORE the negated isin: NULL never
    equi-matches, so a NULL source key purges nothing — and a None
    literal inside ``NOT (col IN (...))`` would three-value-NULL the
    whole predicate and silently drop EVERY row of the victim files
    (the anti-join path is naturally null-safe)."""
    if key_set is not None:
        live = [k for k in key_set if k is not None]
        if not live:
            return kept
        if len(live) <= ISIN_LITERAL_LIMIT:
            # NULL-keyed DATA rows survive too: ~isin is NULL (not
            # false) for them, so without the isNull arm the fast path
            # would silently drop rows the anti-join path keeps.
            return kept.filter(
                ~F.col(key_col).isin(*live) | F.col(key_col).isNull()
            )
    return kept.join(keys_df, key_col, "left_anti")


def _file_rows(m: dict, fs, rel: str, names: "list[str]") -> int:
    """Total rows across ``names``, preferring the manifest's stored
    per-file counts (metadata-only) over footer opens."""
    known = m.get("rows") or {}
    total = 0
    for f in names:
        n = known.get(f)
        if n is None:
            n = fs.parquet_file(os.path.join(rel, f)).metadata.num_rows
        total += n
    return total


def delete_keys(
    spark: SparkSession,
    path: str,
    key_col: str,
    keys: "list",
) -> "tuple[int, int]":
    """Manifest-committed targeted deletion — ``jobs.delete_keys`` with the
    object-store commit: victims found from the manifest's stored stats
    when ``key_col`` is tracked (zero footer opens; footer min/max reads
    otherwise), survivors rewritten as new data files, and the whole
    change published as one new manifest version. Pre-commit crash:
    previous version intact (new files are unreferenced garbage for
    vacuum). Returns (files_rewritten, rows_deleted)."""
    fs, rel = get_fs(path)
    m = read_manifest(path)
    key_set = set(keys)
    affected = _candidate_files(m, fs, rel, key_col, key_set)
    if not affected:
        return 0, 0
    rt = _row_tracking_on(m)
    alive = _with_deletes(spark, path, m, affected, with_row_ids=rt)
    # rows_before rides the survivor-staging pass as an observed metric
    # when merge-on-read entries are pending (same single-scan fold as
    # delete_where; footer counts stay metadata-only otherwise).
    obs = None
    if m.get("deletes"):
        obs = Observation()
        alive = alive.observe(obs, F.count(F.lit(1)).alias("n"))
    # Literal isin only below the measured planner knee; larger key lists
    # anti/semi-join a keys frame (the In AST costs ~0.5 ms/literal to
    # build — see ISIN_LITERAL_LIMIT).
    # None keys never equi-match: dropped from the NEGATED isin (a None
    # literal would three-value-NULL the predicate and delete every row
    # of the victim files); harmless in the positive one, dropped for
    # symmetry. All-None lists delete nothing (stats-less files stay in
    # ``affected`` conservatively, so this cannot be reached via the
    # candidate check alone).
    key_set = {k for k in key_set if k is not None}
    if not key_set:
        return 0, 0
    if len(key_set) <= ISIN_LITERAL_LIMIT:
        # The isNull arm keeps NULL-keyed DATA rows (three-valued ~isin
        # would drop them); they are never `dead` (positive isin is
        # already null-excluding), matching the anti/semi path exactly.
        kept = alive.filter(
            ~F.col(key_col).isin(*key_set) | F.col(key_col).isNull()
        )
        dead = alive.filter(F.col(key_col).isin(*key_set))
    else:
        keys_df = spark.createDataFrame(
            [(k,) for k in key_set], alive.select(key_col).schema
        )
        kept = alive.join(keys_df, key_col, "left_anti")
        dead = alive.join(keys_df, key_col, "left_semi")
    if rt:
        kept = _materialize_ids(kept)
    cdf_names = None
    if _cdf_on(m):
        cdf_names = _stage_changes(
            dead.drop(ROW_ID_COL).withColumn(CDF_TYPE_COL, F.lit("delete")),
            path,
        )
    new_names = _stage_rewrites(kept, path, "del", m)
    # Same alive-row accounting as delete_where: with pending merge-on-read
    # delete entries, footer counts would also bill rows already dead.
    rows_before = (
        int(obs.get["n"]) if obs is not None
        else _file_rows(m, fs, rel, affected)
    )
    rows_after = sum(
        fs.parquet_file(os.path.join(rel, f)).metadata.num_rows
        for f in new_names
    )
    victims = set(affected)
    # Key deletes commute with concurrent appends like DELETE WHERE
    # (sequence semantics even bless it: a later append re-inserting a
    # deleted key legitimately wins).
    _commit_rewrite_commuting(
        path, m, fs, rel, victims, new_names, cdf_names, op="DELETE"
    )
    return len(affected), rows_before - rows_after


def _predicate_victims(
    spark: SparkSession, m: dict, path: str, predicate: str
) -> "list[str]":
    """Files that CONTAIN at least one row matching ``predicate`` — found
    with ONE filtered scan carrying the parquet reader's
    ``_metadata.file_name`` (input_file_name() rejects plans with more
    than one source, which the merge-on-read DV anti-join introduces).
    The scan is the RAW subset read: a file whose only matches were
    already deleted merge-on-read still lands in the victim set —
    conservative, and rewriting it through :func:`_with_deletes` simply
    materializes those deletes."""
    hit = (
        _read_files(spark, path, m, m["files"], with_meta=True)
        .filter(F.expr(predicate))
        .select("__file")
        .distinct()
        .collect()
    )
    names = {r["__file"] for r in hit}
    # Match by BASENAME: ``_metadata.file_name`` is always a basename,
    # while shallow-cloned manifests carry absolute references
    # (:func:`clone_table`). Basenames are uuid-unique within a table.
    return [f for f in m["files"] if os.path.basename(f) in names]


def replace_where(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    predicate: str,
) -> "tuple[int, int]":
    """Predicate-scoped atomic overwrite — Delta's ``replaceWhere``
    (``INSERT OVERWRITE ... WHERE`` in minimal form), the backfill
    primitive: in ONE committed version, every existing row matching
    ``predicate`` is deleted and ``batch`` takes its place. A reader can
    never observe the deleted-but-not-yet-inserted intermediate state
    that a delete_where + append pair exposes.

    Delta's constraint check applies: every BATCH row must itself
    satisfy the predicate (one filtered count; violating rows raise
    before any IO) — otherwise "replace the P orders" could smuggle
    non-P rows past downstream partition reasoning. Victims are the
    files actually containing matches (one metadata-carrying scan,
    :func:`_predicate_victims`); survivors rewrite through the
    merge-on-read view, untouched files carry over. CHECK constraints
    and generated columns validate on the incoming batch exactly like
    :func:`append`; with the change feed enabled the commit records
    delete rows for the replaced set and insert rows for the batch.
    Returns (rows_deleted, rows_inserted)."""
    fs, rel = get_fs(path)
    m = read_manifest(path)
    _reject_identity_supplied(m, batch, "replace_where batches")
    batch = _apply_write_defaults(m, batch)
    schema = _check_schema(
        m.get("schema") or _df_schema_list(batch), batch, merge_schema=False
    )
    _check_constraints(m, batch)
    batch = _apply_generated(m, batch)
    bad = batch.filter(
        ~F.coalesce(F.expr(predicate), F.lit(False))
    ).limit(1).count()
    if bad:
        raise ConstraintViolation(
            f"replace_where batch contains rows NOT matching the "
            f"predicate ({predicate}); Delta's replaceWhere rule — the "
            "batch must live entirely inside the replaced region"
        )
    pred = F.coalesce(F.expr(predicate), F.lit(False))
    affected = _predicate_victims(spark, m, path, predicate)
    n_deleted = 0
    new_names: "list[str]" = []
    victims: "set[str]" = set()
    cdf_names = None
    rt = _row_tracking_on(m)
    obs = None
    if affected:
        alive = _with_deletes(spark, path, m, affected, with_row_ids=rt)
        # Deleted-row count observed on the survivor-rewrite pass (the
        # CDF pass resolves it first when enabled) — one scan, not two.
        obs = Observation()
        alive = alive.observe(obs, F.sum(pred.cast("long")).alias("n"))
        if _cdf_on(m):
            cdf_names = _stage_changes(
                alive.filter(pred)
                .drop(ROW_ID_COL)
                .withColumn(CDF_TYPE_COL, F.lit("delete"))
                .unionByName(
                    batch.withColumn(CDF_TYPE_COL, F.lit("insert"))
                ),
                path,
            )
        survivors = alive.filter(~pred)
        if rt:
            survivors = _materialize_ids(survivors)
        new_names += _stage_rewrites(survivors, path, "replw", m)
        victims = set(affected)
        n_deleted = int(obs.get["n"] or 0)
    elif _cdf_on(m):
        cdf_names = _stage_changes(
            batch.withColumn(CDF_TYPE_COL, F.lit("insert")), path
        )
    batch_names = _stage_rewrites(batch, path, "replw", m)
    n_inserted = sum(
        fs.parquet_file(os.path.join(rel, f)).metadata.num_rows
        for f in batch_names
    )
    new_names += batch_names
    new_files = [f for f in m["files"] if f not in victims] + new_names
    _commit(
        path, m, new_files, schema=schema, cdf_files=cdf_names,
        op="REPLACE WHERE",
    )
    return n_deleted, n_inserted


def delete_where(
    spark: SparkSession, path: str, predicate: str
) -> "tuple[int, int]":
    """``DELETE FROM table WHERE predicate`` — the general-predicate DML
    statement completing the triad with :func:`delete_keys` (key lists) /
    :func:`delete_keys_mor` (merge-on-read) and :func:`upsert` /
    :func:`scd2_merge` (MERGE): one scan finds the files that actually
    contain matching rows, ONLY those rewrite (survivor rows keep their
    files byte-identical), and the change publishes as one version.
    Returns (files_rewritten, rows_deleted)."""
    fs, rel = get_fs(path)
    m = read_manifest(path)
    affected = _predicate_victims(spark, m, path, predicate)
    if not affected:
        return 0, 0
    rt = _row_tracking_on(m)
    alive = _with_deletes(spark, path, m, affected, with_row_ids=rt)
    # rows_deleted must count only rows ALIVE under pending merge-on-read
    # delete entries — raw footer counts would also bill rows that were
    # already dead. Footer counts (metadata-only) are exact when there
    # are no pending entries; with entries pending the alive count rides
    # the rewrite pass as an observed metric (CollectMetrics sits below
    # the kept-filter — Catalyst never pushes predicates through it — so
    # the metric sees every alive row) instead of paying a second scan.
    obs = None
    if m.get("deletes"):
        obs = Observation()
        alive = alive.observe(obs, F.count(F.lit(1)).alias("n"))
    pred = F.coalesce(F.expr(predicate), F.lit(False))
    kept = alive.filter(~pred)
    if rt:
        kept = _materialize_ids(kept)
    cdf_names = None
    if _cdf_on(m):
        cdf_names = _stage_changes(
            alive.filter(pred)
            .drop(ROW_ID_COL)
            .withColumn(CDF_TYPE_COL, F.lit("delete")),
            path,
        )
    new_names = _stage_rewrites(kept, path, "delw", m)
    rows_before = (
        int(obs.get["n"]) if obs is not None
        else _file_rows(m, fs, rel, affected)
    )
    rows_after = sum(
        fs.parquet_file(os.path.join(rel, f)).metadata.num_rows
        for f in new_names
    )
    victims = set(affected)
    _commit_rewrite_commuting(
        path, m, fs, rel, victims, new_names, cdf_names, op="DELETE"
    )
    return len(affected), rows_before - rows_after


def _commit_rewrite_commuting(
    path: str,
    m: dict,
    fs,
    rel: str,
    victims: set,
    new_names: "list[str]",
    cdf_names: "list | None",
    partitions: dict | None = None,
    op: str | None = None,
    seq_new: "dict[str, int] | None" = None,
) -> None:
    """Publish a rewrite (victims replaced by staged new_names) with
    WriteSerializable conflict resolution — Delta's rule for rewriting
    DML/OPTIMIZE vs a concurrent APPEND: on :class:`CommitConflict`,
    re-read, and if every file we rewrote is still referenced and
    nothing semantics-bearing moved (pending delete entries, schema,
    constraints, column mapping), this operation serializes BEFORE the
    concurrent commit — the SAME staged files re-publish over the new
    file list (appended files carry through untouched; their rows
    arrived "after" this op), with zero Spark re-execution. Anything
    else aborts AND removes the staged files: a blind retry would
    resurrect or miss rows.

    ``seq_new`` optionally pins sequence numbers for specific new files
    (compaction stamping already-clustered merges at the clustering
    watermark); unlisted new files take the commit's version as usual."""
    while True:
        new_files = [f for f in m["files"] if f not in victims] + new_names
        seq = None
        if seq_new:
            prev_seq = m.get("seq") or {}
            nv = m["version"] + 1
            seq = {
                **{
                    f: int(prev_seq.get(f, nv))
                    for f in m["files"]
                    if f not in victims
                },
                **{n: int(seq_new.get(n, nv)) for n in new_names},
            }
        try:
            _commit(
                path, m, new_files, cdf_files=cdf_names,
                partitions=partitions, seq=seq, op=op,
            )
            return
        except CommitConflict:
            m2 = read_manifest(path)
            compatible = (
                victims <= set(m2["files"])
                and (m2.get("deletes") or []) == (m.get("deletes") or [])
                and m2.get("schema") == m.get("schema")
                and m2.get("constraints") == m.get("constraints")
                and m2.get("colmap") == m.get("colmap")
            )
            if not compatible:
                _remove_quietly(fs, rel, new_names + (cdf_names or []))
                raise
            m = m2


def delete_where_pos(
    spark: SparkSession, path: str, predicate: str
) -> "tuple[int, int]":
    """Merge-on-read ``DELETE WHERE`` via POSITIONAL deletes — Delta's
    deletion vectors / Iceberg v2 position deletes in minimal form: one
    scan records the (file, row_index) coordinates of matching rows into
    a single small DV file, the manifest gains one ``kind="pos"`` delete
    entry, and NO data file is rewritten — delete cost is proportional
    to the MATCHES, not to the files containing them (the row-level
    complement of :func:`delete_keys_mor`, which needs a key column;
    this one takes any predicate). Readers anti-join the DV on the
    parquet reader's ``_metadata`` coordinates (broadcast — DVs are
    match-sized); every rewrite path reads through the same view, so
    OPTIMIZE/materialize folds the positions in and they can never
    resurrect. Returns (dv_files_written, rows_deleted)."""
    m = read_manifest(path)
    new_v = m["version"] + 1
    # The alive view keeps each row's physical coordinates (keep_meta;
    # with no pending entries it IS the raw read), and the match count
    # rides the DV-staging pass as an observed metric — no separate
    # counting scan. Staging only ALIVE matching coordinates is enough:
    # already-dead rows stay dead through their own entries (equality
    # entries keep applying by seq, prior DVs stay in the reader's
    # union), the same rule update_where_pos stages by. A no-match
    # predicate stages an empty frame, which _stage_rewrites drops
    # (zero-row parts are never referenced), so the early exit stays
    # write-free from any reader's point of view.
    obs = Observation()
    coords = (
        _with_deletes(spark, path, m, m["files"], keep_meta=True)
        .filter(F.expr(predicate))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .select("__file", "__row")
    )
    staged = _stage_rewrites(coords.coalesce(1), path, "posdel", m)
    matches = int(obs.get["n"])
    if not matches:
        return 0, 0
    [name] = staged
    cdf_names = None
    if _cdf_on(m):
        cdf_names = _stage_changes(
            _with_deletes(spark, path, m, m["files"])
            .filter(F.expr(predicate))
            .withColumn(CDF_TYPE_COL, F.lit("delete")),
            path,
        )
    entry = {"file": name, "kind": "pos", "seq": new_v}
    _commit(
        path, m, deletes=(m.get("deletes") or []) + [entry],
        cdf_files=cdf_names, op="DELETE",
    )
    return 1, matches


def update_where_pos(
    spark: SparkSession,
    path: str,
    predicate: str,
    set_exprs: "dict[str, str]",
) -> "tuple[int, int]":
    """Merge-on-read ``UPDATE ... SET ... WHERE`` — the row-level UPDATE
    Delta performs with deletion vectors: the matched ALIVE rows'
    physical coordinates go into one positional-delete file (their old
    copies become invisible) and their updated copies append as new
    data files stamped with the new sequence. NOTHING rewrites — update
    cost tracks MATCHES, while :func:`update_where` (copy-on-write)
    rewrites every file containing a match. Same validation contract as
    update_where: unknown-column/type-change raises before IO, CHECK
    constraints and generated columns re-verify on the updated batch.
    Returns (dv_files_written, rows_updated)."""
    m = read_manifest(path)
    new_v = m["version"] + 1
    types = {n: t for n, t in (m.get("schema") or [])}
    for col in set_exprs:
        if types and col not in types:
            raise SchemaMismatch(f"UPDATE SET on unknown column {col!r}")
        if col in (m.get("identity") or {}):
            raise SchemaMismatch(
                f"column {col!r} is GENERATED ALWAYS AS IDENTITY; "
                "UPDATE cannot assign it"
            )
    # Coordinates must come from the ALIVE view (keep_meta) — computing
    # them on the raw read would resurrect rows already deleted
    # merge-on-read as freshly-updated appends. One eager checkpoint:
    # the matched set is both the DV payload and the update source.
    matched = (
        _with_deletes(spark, path, m, m["files"], keep_meta=True)
        .filter(F.coalesce(F.expr(predicate), F.lit(False)))
        .localCheckpoint()
    )
    n_updated = matched.count()
    if not n_updated:
        return 0, 0
    updated = matched.drop("__file", "__row")
    for col, expr in set_exprs.items():
        target = F.expr(expr)
        if col in types:
            target = target.cast(types[col])
        updated = updated.withColumn(col, target)
    _check_constraints(m, updated)
    gen = m.get("generated") or {}
    for gname, gexpr in gen.items():
        if gname in updated.columns:
            bad = updated.filter(
                ~F.col(gname).eqNullSafe(
                    F.expr(gexpr).cast(types.get(gname, "string"))
                )
            ).limit(1).count()
            if bad:
                raise ConstraintViolation(
                    f"UPDATE breaks generated column {gname!r} "
                    f"(GENERATED ALWAYS AS ({gexpr}))"
                )
    cdf_names = None
    if _cdf_on(m):
        cdf_names = _stage_changes(
            matched.drop("__file", "__row")
            .withColumn(CDF_TYPE_COL, F.lit("update_preimage"))
            .unionByName(
                updated.withColumn(
                    CDF_TYPE_COL, F.lit("update_postimage")
                )
            ),
            path,
        )
    [dv_name] = _stage_rewrites(
        matched.select("__file", "__row").coalesce(1), path, "posdel", m
    )
    new_names = _stage_rewrites(updated, path, "updmor", m)
    entry = {"file": dv_name, "kind": "pos", "seq": new_v}
    new_files = m["files"] + new_names
    _commit(
        path, m, new_files, deletes=(m.get("deletes") or []) + [entry],
        cdf_files=cdf_names, op="UPDATE",
    )
    return 1, n_updated


def update_where(
    spark: SparkSession,
    path: str,
    predicate: str,
    set_exprs: "dict[str, str]",
) -> "tuple[int, int]":
    """``UPDATE table SET col = expr, ... WHERE predicate`` — files with
    matching rows rewrite with the assignments applied under a CASE WHEN
    (non-matching rows in the same file pass through bit-unchanged);
    untouched files never rewrite. Assignments are validated against the
    schema (unknown column or type change raises before any IO) and the
    rewritten batch re-checks CHECK constraints and generated columns —
    an UPDATE cannot silently break the table's own invariants.
    Returns (files_rewritten, rows_updated)."""
    fs, rel = get_fs(path)
    m = read_manifest(path)
    types = {n: t for n, t in (m.get("schema") or [])}
    for col in set_exprs:
        if types and col not in types:
            raise SchemaMismatch(f"UPDATE SET on unknown column {col!r}")
        if col in (m.get("identity") or {}):
            raise SchemaMismatch(
                f"column {col!r} is GENERATED ALWAYS AS IDENTITY; "
                "UPDATE cannot assign it"
            )
    gen = m.get("generated") or {}
    affected = _predicate_victims(spark, m, path, predicate)
    if not affected:
        return 0, 0
    rt = _row_tracking_on(m)
    src = _with_deletes(spark, path, m, affected, with_row_ids=rt)
    pred = F.coalesce(F.expr(predicate), F.lit(False))
    # The matched-row count rides the rewrite pass as an observed metric
    # (one scan instead of two) — r12: for generated-column tables too.
    # Their verification probe is a limit(1) action whose partial flow
    # would poison the observation, so the probe runs on an UN-observed
    # twin of the same plan (src_plain below) and never touches the
    # observed subtree; the observation completes on the full-flow
    # staging write (or the CDF staging / constraint counts, which scan
    # everything above the CollectMetrics node).
    obs = Observation()
    src_plain = src
    src = src.observe(obs, F.sum(pred.cast("long")).alias("n"))

    def _apply_set(frame: DataFrame) -> DataFrame:
        for col, expr in set_exprs.items():
            target = F.expr(expr)
            if col in types:
                target = target.cast(types[col])
            frame = frame.withColumn(
                col, F.when(pred, target).otherwise(F.col(col))
            )
        return frame

    out = _apply_set(src)
    cdf_names = None
    if _cdf_on(m):
        cdf_names = _stage_changes(
            src.filter(pred)
            .drop(ROW_ID_COL)
            .withColumn(CDF_TYPE_COL, F.lit("update_preimage"))
            .unionByName(
                out.filter(pred)
                .drop(ROW_ID_COL)
                .withColumn(CDF_TYPE_COL, F.lit("update_postimage"))
            ),
            path,
        )
    if rt:
        # UPDATE preserves identity: updated rows keep their row ids —
        # the lineage guarantee row tracking exists for.
        out = _materialize_ids(out)
    # The rewrite must satisfy the table's own invariants. The generated-
    # column probe runs on the un-observed twin (see above): same plan,
    # same limit(1) early-out, zero interaction with the observation.
    _check_constraints(m, out)
    if gen:
        out_probe = _apply_set(src_plain)
        if rt:
            out_probe = _materialize_ids(out_probe)
        for gname, gexpr in gen.items():
            if gname in out_probe.columns:
                bad = out_probe.filter(
                    ~F.col(gname).eqNullSafe(
                        F.expr(gexpr).cast(types.get(gname, "string"))
                    )
                ).limit(1).count()
                if bad:
                    raise ConstraintViolation(
                        f"UPDATE breaks generated column {gname!r} "
                        f"(GENERATED ALWAYS AS ({gexpr})); update its "
                        "sources and let the expression recompute, or set "
                        "both consistently"
                    )
    new_names = _stage_rewrites(out, path, "updw", m)
    n_updated = int(obs.get["n"] or 0)
    # UPDATE commutes with a concurrent APPEND exactly like DELETE does
    # (the appended rows arrived "after" this statement); anything that
    # touched our victims or the table's semantics aborts.
    _commit_rewrite_commuting(
        path, m, fs, rel, set(affected), new_names, cdf_names, op="UPDATE"
    )
    return len(affected), n_updated


def delete_keys_mor(
    spark: SparkSession,
    path: str,
    key_col: str,
    keys: "list",
) -> int:
    """Merge-on-read targeted deletion — Iceberg v2 equality deletes in
    minimal form (the same trade as Delta's deletion vectors): instead of
    rewriting every file that may contain the keys (:func:`delete_keys`,
    copy-on-write), ONE small key file is written and the manifest
    records an equality-delete entry; readers anti-join it (broadcast —
    delete batches are key lists, tiny next to the table). Delete cost is
    O(keys) at ANY table size — the right-to-be-forgotten op you can run
    hourly on 100 TB — while read cost grows by one broadcast anti-join
    per pending entry until :func:`materialize_deletes` (or OPTIMIZE
    ZORDER) folds them into a rewrite.

    Sequence semantics (Iceberg's): the entry applies only to data files
    ADDED BEFORE it, so a later append/upsert may legitimately re-insert
    a deleted key. Returns the committed version."""
    if not keys:
        return current_version(path)
    m = read_manifest(path)
    new_v = m["version"] + 1
    keys_df = spark.createDataFrame(
        [(k,) for k in keys],
        load_manifest_table(spark, path).select(key_col).schema,
    ).distinct()
    [name] = _stage_rewrites(keys_df.coalesce(1), path, "eqdel", m)
    entry = {"file": name, "key_col": _physical_col(m, key_col), "seq": new_v}
    return _commit(
        path, m, deletes=(m.get("deletes") or []) + [entry], op="DELETE",
    )


def materialize_deletes(spark: SparkSession, path: str) -> "tuple[int, int]":
    """Fold pending equality-delete entries into the data files (the
    compaction half of merge-on-read): every data file an entry can
    apply to is rewritten through :func:`_with_deletes` (which applies
    exactly the entries whose sequence exceeds the file's), the entries
    are dropped, and the whole change commits as one version. The key
    files become unreferenced garbage for vacuum. Victim finding is
    metadata-only when the manifest tracks stats for a delete's key
    column: files whose stored [min, max] provably miss every key in the
    entry are carried over untouched. Returns (files_rewritten,
    entries_materialized)."""
    m = read_manifest(path)
    dels = m.get("deletes") or []
    if not dels:
        return 0, 0
    fs, rel = get_fs(path)
    seq = m.get("seq") or {}
    covered = [
        f
        for f in m["files"]
        if any(d["seq"] > seq.get(f, 0) for d in dels)
    ]
    # Positional entries name their victim files explicitly inside the
    # DV — read the (small, match-sized) coordinate files driver-side.
    pos_victims: set = set()
    for d in dels:
        if d.get("kind") == "pos":
            pos_victims.update(
                r[0]
                for r in spark.read.parquet(os.path.join(path, d["file"]))
                .select("__file")
                .distinct()
                .collect()
            )
    # Stats prune per entry: a covered file is a victim only if SOME
    # applicable entry's key set may intersect it. Two-path key handling
    # (the _plan_source_keys design): entries at or below
    # MOR_STATS_KEY_LIMIT keys collect driver-side (right-to-be-forgotten
    # sizes — key count read from the key file's FOOTER, metadata-only);
    # larger entries run the SAME stats-intersection test as a
    # distributed range join against the per-file [min,max] rows, so only
    # distinct file NAMES ever reach the driver and a mass
    # equality-delete cannot materialize an unbounded key list here.
    stat_cols = m.get("stat_cols") or []
    stats = m.get("stats") or {}
    victims_set: set = {
        # DV coordinates store basenames (``_metadata.file_name``);
        # shallow-cloned manifests reference files absolutely.
        f for f in covered if os.path.basename(f) in pos_victims
    }
    for d in dels:
        if d.get("kind") == "pos":
            continue
        applicable = [
            f
            for f in covered
            if f not in victims_set and d["seq"] > seq.get(f, 0)
        ]
        if not applicable:
            continue
        col = d["key_col"]
        if col not in stat_cols:
            victims_set.update(applicable)  # no tracked stats: keep all
            continue
        ranged: "list[tuple]" = []
        for f in applicable:
            s = (stats.get(f) or {}).get(col)
            if s is None or s[0] is None:
                victims_set.add(f)  # unknown stats -> cannot prune
            else:
                ranged.append((f, s[0], s[1]))
        if not ranged:
            continue
        n_keys = fs.parquet_file(
            os.path.join(rel, d["file"])
        ).metadata.num_rows
        if n_keys <= MOR_STATS_KEY_LIMIT:
            keys = [
                r[0]
                for r in spark.read.parquet(
                    os.path.join(path, d["file"])
                ).collect()
            ]
            victims_set.update(
                f
                for f, lo, hi in ranged
                if any(lo <= k <= hi for k in keys)
            )
        else:
            kdf = spark.read.parquet(os.path.join(path, d["file"]))
            kcol = kdf.columns[0]
            fstats = F.broadcast(
                spark.createDataFrame(ranged, ["__file", "__lo", "__hi"])
            )
            hit_rows = (
                kdf.join(
                    fstats,
                    (F.col(kcol) >= F.col("__lo"))
                    & (F.col(kcol) <= F.col("__hi")),
                )
                .select("__file")
                .distinct()
                .collect()
            )
            victims_set.update(r[0] for r in hit_rows)
    victims: "list[str]" = [f for f in covered if f in victims_set]
    new_names: "list[str]" = []
    if victims:
        rewritten = _with_deletes(
            spark, path, m, victims, with_row_ids=_row_tracking_on(m)
        )
        if _row_tracking_on(m):
            rewritten = _materialize_ids(rewritten)
        new_names = _stage_rewrites(rewritten, path, "matdel", m)
    new_files = [f for f in m["files"] if f not in set(victims)] + new_names
    _commit(
        path, m, new_files, deletes=None,
        cdf_files=[] if _cdf_on(m) else None, op="OPTIMIZE",
    )
    return len(victims), len(dels)


def upsert(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_col: str,
    txn: "tuple[str, int] | None" = None,
) -> int:
    """Manifest-committed MERGE by key: batch rows win, existing rows with
    unmatched keys survive — ONE new version publishes both the
    key-purged rewrites of affected files and the batch itself (unlike
    delete-then-append, a reader can never observe the intermediate
    deleted state). Victim files found from the manifest's stored stats
    when the key column is tracked (footer stats otherwise); unaffected
    files carry over untouched. Returns the committed version.

    Victim planning is size-adaptive (:func:`_plan_source_keys`): up to
    ``DML_COLLECT_KEY_LIMIT`` distinct keys the batch's key set is
    collected driver-side for the stats prune and a Catalyst ``isin``
    filter (the dimension-sized incremental-ingestion case, zero
    shuffles); above it nothing source-sized reaches the driver —
    victims come from a stats range join and the purge is a LEFT ANTI
    shuffle join, so a corpus-sized CDC backfill cannot OOM the driver.

    ``txn = (app_id, batch_id)`` gives the same exactly-once watermark
    semantics as :func:`append` — a replayed batch is skipped. Unlike
    append there is NO staged-once conflict retry: an upsert's victim
    set depends on the manifest it planned against, so a conflict
    requires a full re-plan (the caller re-invokes; the txn watermark
    makes that retry safe)."""
    m = read_manifest(path)
    _reject_identity_supplied(m, batch, "upsert batches")
    batch = _apply_write_defaults(m, batch)
    schema = _check_schema(
        m.get("schema") or _df_schema_list(batch), batch, merge_schema=False
    )
    _check_constraints(m, batch)
    txns = dict(m.get("txns") or {})
    if txn is not None:
        app_id, batch_id = txn
        if txns.get(app_id, -1) >= batch_id:
            return m["version"]  # replay: already applied
        txns[app_id] = batch_id
    fs, rel = get_fs(path)
    keys_df, key_set, affected = _plan_source_keys(
        spark, m, fs, rel, batch, key_col
    )
    new_names: list[str] = []
    victims: set[str] = set()
    cdf_names = None
    if _cdf_on(m):
        # Change rows BEFORE the rewrite plan runs (originals stay
        # readable either way — staging is additive): replaced keys emit
        # pre/post images, fresh keys emit inserts.
        if affected:
            alive_aff = _with_deletes(spark, path, m, affected)
            pre = (
                alive_aff.filter(F.col(key_col).isin(*key_set))
                if key_set is not None
                and key_set
                and len(key_set) <= ISIN_LITERAL_LIMIT
                else alive_aff.join(keys_df, key_col, "left_semi")
            ).localCheckpoint()
            pre_keys = pre.select(key_col).distinct()
            changes = (
                pre.withColumn(CDF_TYPE_COL, F.lit("update_preimage"))
                .unionByName(
                    batch.join(pre_keys, key_col, "left_semi").withColumn(
                        CDF_TYPE_COL, F.lit("update_postimage")
                    )
                )
                .unionByName(
                    batch.join(pre_keys, key_col, "left_anti").withColumn(
                        CDF_TYPE_COL, F.lit("insert")
                    )
                )
            )
        else:
            changes = batch.withColumn(CDF_TYPE_COL, F.lit("insert"))
        cdf_names = _stage_changes(changes, path)
    rt = _row_tracking_on(m)
    if affected:
        kept = _purge_keys(
            _with_deletes(spark, path, m, affected, with_row_ids=rt),
            keys_df, key_col, key_set,
        )
        if rt:
            kept = _materialize_ids(kept)
        new_names += _stage_rewrites(kept, path, "upsert", m)
        victims = set(affected)
    keys_df.unpersist()
    new_names += _stage_rewrites(batch, path, "upsert", m)
    new_files = [f for f in m["files"] if f not in victims] + new_names
    return _commit(
        path, m, new_files, txns=txns, schema=schema, cdf_files=cdf_names,
        op="MERGE",
    )


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_col: "str | list[str]",
    when_matched_update: "dict[str, str] | None" = None,
    matched_condition: "str | None" = None,
    when_matched_delete: "str | None" = None,
    when_not_matched_insert: bool = True,
    not_matched_condition: "str | None" = None,
    when_not_matched_by_source_update: "dict[str, str] | None" = None,
    when_not_matched_by_source_delete: "str | bool | None" = None,
    txn: "tuple[str, int] | None" = None,
) -> "dict[str, int]":
    """General ``MERGE INTO`` (the Delta/Iceberg MERGE statement in
    minimal form), superseding the fixed-shape :func:`upsert`:

    - ``WHEN MATCHED AND <when_matched_delete> THEN DELETE`` (checked
      first, Delta's clause-order rule),
    - ``WHEN MATCHED [AND <matched_condition>] THEN UPDATE SET``
      ``when_matched_update`` (col -> SQL expr over ``t.*``/``s.*``),
    - ``WHEN NOT MATCHED [AND <not_matched_condition>] THEN INSERT *``
      (``when_not_matched_insert``; the condition sees ``s.*`` only —
      there is no matched target row — and is what lets a CDC source
      carry tombstones: ``s.op != 'D'`` keeps a delete for an absent
      key a no-op instead of an insert),
    - ``WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE / UPDATE
      SET`` (Delta 2.4 semantics): target rows with no source match
      — delete when ``when_not_matched_by_source_delete`` (``True`` or
      a condition over ``t.*``) holds, else update with
      ``when_not_matched_by_source_update`` exprs (``t.*`` only; there
      is no matched source row to reference).

    ``key_col`` may be one column or a composite list — the join, the
    ambiguity check, and the insert anti-join all use the full key; the
    stats victim prune uses the leading key column (the range-sorted /
    clustered one by layout convention).

    Conditions/exprs are SQL strings over the aliases ``t`` (target)
    and ``s`` (source). A source with duplicate keys raises (the
    standard MERGE ambiguity error — the result would depend on join
    order). Victim planning is size-adaptive (:func:`_plan_source_keys`):
    dimension-sized sources prune from collected keys and broadcast into
    the clause join; above ``DML_COLLECT_KEY_LIMIT`` distinct keys the
    prune is a stats range join and the clause join a shuffle join —
    files without matches never rewrite either way, and a corpus-sized
    CDC source never materializes on the driver. BY SOURCE clauses
    defeat the prune BY DEFINITION (any file may hold unmatched rows),
    so every file becomes a victim — same full-scan cost as Delta's.
    Survivors + inserts publish as ONE new version (no observable
    intermediate state); a MERGE in which every clause is vacuously
    empty commits nothing. CHECK constraints and schema enforcement run
    on the outgoing batch. Returns counts: ``{"updated": u, "deleted":
    d, "inserted": i, "files_rewritten": f, "nms_updated": nu,
    "nms_deleted": nd}`` (nms = the BY SOURCE clauses' rows).
    """
    key_cols = [key_col] if isinstance(key_col, str) else list(key_col)
    has_nms = bool(
        when_not_matched_by_source_update
        or when_not_matched_by_source_delete
    )
    m = read_manifest(path)
    # ``txn = (app_id, batch_id)``: the same exactly-once watermark as
    # append/upsert (Delta's txn action composes with ANY commit) — a
    # replayed MERGE is skipped, and the watermark publishes atomically
    # with the rows it describes (incremental view maintenance needs
    # exactly this: the refreshed-through version commits WITH the
    # merged partials or not at all).
    if txn is not None and (m.get("txns") or {}).get(txn[0], -1) >= txn[1]:
        return {
            "updated": 0, "deleted": 0, "inserted": 0,
            "files_rewritten": 0, "nms_updated": 0, "nms_deleted": 0,
            "replayed": True,
        }
    txns_out = dict(m.get("txns") or {})
    if txn is not None:
        txns_out[txn[0]] = txn[1]
    types = {n: t for n, t in (m.get("schema") or [])}
    for col in {
        **(when_matched_update or {}),
        **(when_not_matched_by_source_update or {}),
    }:
        if types and col not in types:
            raise SchemaMismatch(f"MERGE UPDATE SET on unknown column {col!r}")
        if col in (m.get("identity") or {}):
            raise SchemaMismatch(
                f"column {col!r} is GENERATED ALWAYS AS IDENTITY; "
                "MERGE UPDATE cannot assign it"
            )
    if when_not_matched_insert:
        # Inserted rows may not carry identity values either — the key
        # column itself is exempt only if it is NOT an identity column.
        _reject_identity_supplied(m, source, "MERGE INSERT sources")
    # Materialize the source ONCE, before the first action (Delta's
    # merge does the same — materializeSource): the dup check, the
    # victim-key planning, the clause join and the insert anti-join all
    # re-evaluate the source plan otherwise, and a MERGE source is
    # routinely an aggregate/CDC frame that costs a full upstream job
    # per evaluation. Executor-side blocks (memory+disk), never the
    # driver.
    source = source.localCheckpoint()
    # Ambiguity = a TARGET row could match >1 source row. A source row
    # with a NULL in ANY key component can never match (the ON clause is
    # an equality conjunction, and NULL = x is never TRUE), so NULL-keyed
    # rows are exempt from the dup check — several of them in one batch
    # are legal and all flow to the INSERT clause, exactly as in Delta
    # (r11 self-review: the unfiltered groupBy treated NULL as a regular
    # group and refused harmless batches — the false-refusal mirror of
    # the r10 NULL-key data-loss class).
    non_null_keys = F.lit(True)
    for k in key_cols:
        non_null_keys = non_null_keys & F.col(k).isNotNull()
    dup = (
        source.filter(non_null_keys)
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "MERGE source has multiple rows per key — the result would "
            "depend on join order; deduplicate the source first"
        )
    if when_not_matched_insert:
        # A source column beyond the table schema is allowed ONLY when
        # some clause references it as ``s.<col>`` (a CDC op/tombstone
        # flag, change metadata): INSERT * projects onto the table's
        # columns so it never lands. An extra column NO clause mentions
        # is a misspelling/renamed upstream column — silently dropping
        # it would NULL-fill the real column on every insert, so the
        # original loud SchemaMismatch stays for that case.
        tbl_schema = m.get("schema")
        if tbl_schema:
            clause_text = " ".join(
                [
                    when_matched_delete or "",
                    matched_condition or "",
                    not_matched_condition or "",
                    when_not_matched_by_source_delete
                    if isinstance(when_not_matched_by_source_delete, str)
                    else "",
                    *(when_matched_update or {}).values(),
                    *(when_not_matched_by_source_update or {}).values(),
                ]
            )
            declared = {n for n, _ in tbl_schema}
            # Only REAL column references relax the schema guard: the
            # literal text 's.amt' inside a string constant (e.g.
            # matched_condition "t.note = 's.amt'") is data, not a
            # reference — strip quoted literals ('' / "" with doubled-
            # quote escapes; backticked identifiers survive) before
            # matching, or a misspelled extra source column would be
            # silently exempted whenever a constant happens to spell it.
            ref_text = re.sub(
                r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"", " ", clause_text
            )
            clause_only = {
                c
                for c in source.columns
                if c not in declared
                and re.search(rf"\bs\.`?{re.escape(c)}`?\b", ref_text)
            }
            probe = source.select(
                [c for c in source.columns if c not in clause_only]
            )
        else:
            probe = source
        _check_schema(
            tbl_schema or _df_schema_list(source),
            probe,
            merge_schema=False,
        )
    fs, rel = get_fs(path)
    keys_df, key_set, affected = _plan_source_keys(
        spark, m, fs, rel, source, key_cols[0]
    )
    if has_nms:
        # Unmatched target rows can live anywhere: every file is a victim.
        affected = list(m["files"])
    if not affected and not when_not_matched_insert:
        # No candidate file holds a source key and inserts are off: every
        # clause is vacuously empty. Committing here would publish an
        # identical file list — version churn that only shifts the vacuum
        # retention window. With a txn the watermark still has to
        # advance (a no-op delta re-read forever otherwise): commit a
        # METADATA-ONLY version carrying the file list verbatim.
        keys_df.unpersist()
        if txn is not None:
            _commit(path, m, txns=txns_out, op="MERGE")
        return {
            "updated": 0, "deleted": 0, "inserted": 0,
            "files_rewritten": 0, "nms_updated": 0, "nms_deleted": 0,
        }
    out_cols = [n for n, _ in (m.get("schema") or [])] or [
        c for c in source.columns
    ]
    src = source.withColumn("__s_match", F.lit(True))
    # Dimension-sized sources broadcast (map-side join, no target
    # shuffle); above DML_COLLECT_KEY_LIMIT keys the join ships to AQE
    # as an ordinary shuffle join — a 100 TB CDC batch must never be a
    # broadcast.
    src_side = (lambda d: F.broadcast(d)) if key_set is not None else (
        lambda d: d
    )
    n_updated = n_deleted = n_nms_upd = n_nms_del = 0
    survivors = None
    merge_changes = None
    merge_obs = None
    rt = _row_tracking_on(m)
    if affected:
        t = _with_deletes(
            spark, path, m, affected, with_row_ids=rt
        ).alias("t")
        on = F.lit(True)
        for k in key_cols:
            on = on & (F.col(f"t.{k}") == F.col(f"s.{k}"))
        j = t.join(src_side(src.alias("s")), on, "left")
        # Null-safe matched marker: a NULL key value in the target must
        # read as unmatched, never poison the clause conditions.
        matched = F.col("s.__s_match").isNotNull()
        del_cond = (
            matched & F.coalesce(F.expr(when_matched_delete), F.lit(False))
            if when_matched_delete
            else F.lit(False)
        )
        upd_cond = matched & ~del_cond
        if when_matched_update is None:
            upd_cond = F.lit(False)
        elif matched_condition:
            upd_cond = upd_cond & F.coalesce(
                F.expr(matched_condition), F.lit(False)
            )
        nms_del_cond = F.lit(False)
        if when_not_matched_by_source_delete:
            cond = (
                F.lit(True)
                if when_not_matched_by_source_delete is True
                else F.coalesce(
                    F.expr(when_not_matched_by_source_delete), F.lit(False)
                )
            )
            nms_del_cond = ~matched & cond
        nms_upd_cond = (
            ~matched & ~nms_del_cond
            if when_not_matched_by_source_update
            else F.lit(False)
        )
        # Clause counts ride the survivor-staging pass as observed
        # metrics (CollectMetrics sits below the clause filters and
        # Catalyst never pushes predicates through it, so the metric
        # sees every joined row) — the dedicated j.agg pass re-ran the
        # whole victim-scan + source join just to count. The all-clauses-
        # empty early exit moves AFTER staging in consequence (the
        # staged byte-identical rewrite is discarded unreferenced).
        merge_obs = Observation()
        j = j.observe(
            merge_obs,
            F.sum(del_cond.cast("long")).alias("d"),
            F.sum(upd_cond.cast("long")).alias("u"),
            F.sum(nms_del_cond.cast("long")).alias("nd"),
            F.sum(nms_upd_cond.cast("long")).alias("nu"),
        )
        upd = when_matched_update or {}
        nms_upd = when_not_matched_by_source_update or {}
        proj = []
        for c in out_cols:
            base = F.col(f"t.{c}")
            if c in upd:
                target = F.expr(upd[c])
                if c in types:
                    target = target.cast(types[c])
                base = F.when(upd_cond, target).otherwise(base)
            if c in nms_upd:
                target = F.expr(nms_upd[c])
                if c in types:
                    target = target.cast(types[c])
                base = F.when(nms_upd_cond, target).otherwise(base)
            proj.append(base.alias(c))
        if rt:
            # Survivors — updated or untouched — keep their identity.
            proj.append(F.col(f"t.{ROW_ID_COL}").alias(ROW_ID_PHYS))
        survivors = j.filter(~del_cond & ~nms_del_cond).select(*proj)
        if _cdf_on(m):
            tcols = [F.col(f"t.{c}").alias(c) for c in out_cols]
            pre_all = del_cond | nms_del_cond | upd_cond | nms_upd_cond
            typ = (
                F.when(del_cond | nms_del_cond, F.lit("delete"))
                .otherwise(F.lit("update_preimage"))
            )
            change_parts = [
                j.filter(pre_all).select(
                    *tcols, typ.alias(CDF_TYPE_COL)
                ),
                j.filter(upd_cond | nms_upd_cond)
                .select(*proj)
                .drop(ROW_ID_PHYS)
                .withColumn(CDF_TYPE_COL, F.lit("update_postimage")),
            ]
            merge_changes = change_parts[0].unionByName(change_parts[1])
    if when_not_matched_insert:
        existing = (
            _with_deletes(spark, path, m, affected).select(*key_cols)
            if affected
            else None
        )
        # Columns the source legitimately omits fill per their feature:
        # write-defaulted columns take the declared literal, identity
        # columns stay NULL (values allocate metadata-only at commit),
        # anything else nullable null-fills — the same write contract
        # as append.
        src_ins = src
        if not_matched_condition is not None:
            src_ins = src.alias("s").filter(F.expr(not_matched_condition))
        src_filled = _apply_write_defaults(m, src_ins)
        have = set(src_filled.columns)
        types_all = {n: t for n, t in (m.get("schema") or [])}
        ins_cols = [
            (
                F.col(c)
                if c in have
                else F.lit(None).cast(types_all.get(c, "string")).alias(c)
            )
            for c in out_cols
        ]
        inserts = src_filled.select(*ins_cols)
        if existing is not None:
            inserts = inserts.join(existing, key_cols, "left_anti")
        inserts = inserts.localCheckpoint()
        n_inserted = inserts.count()
        batch = (
            survivors.unionByName(inserts, allowMissingColumns=True)
            if survivors is not None
            else inserts
        )
    else:
        n_inserted = 0
        batch = survivors
    victims = set(affected)
    cdf_names = None
    if _cdf_on(m):
        changes = merge_changes
        if when_not_matched_insert and n_inserted:
            ins = inserts.withColumn(CDF_TYPE_COL, F.lit("insert"))
            changes = (
                changes.unionByName(ins) if changes is not None else ins
            )
        cdf_names = (
            _stage_changes(changes, path) if changes is not None else []
        )
    new_names: "list[str]" = []
    if batch is not None:
        _check_constraints(m, batch)
    # The clause counts are known BEFORE survivor staging when an action
    # over j has already run — the CDF staging write and/or the
    # constraint counts — so the all-clauses-empty case below skips the
    # staged full-rewrite-then-discard outright on CDF/constraint tables.
    # Bare tables learn the counts from the staging action itself (batch
    # is never None when the observation exists, so an action is
    # guaranteed) and pay one discarded staging write on the rare
    # stats-overapproximated no-match MERGE.
    counts_known = merge_obs is not None and (
        (merge_changes is not None and cdf_names is not None)
        or (batch is not None and bool(m.get("constraints")))
    )
    if batch is not None and not counts_known:
        new_names = _stage_rewrites(batch, path, "merge", m)
    if merge_obs is not None:
        vals = merge_obs.get
        n_deleted = int(vals["d"] or 0)
        n_updated = int(vals["u"] or 0)
        n_nms_del = int(vals["nd"] or 0)
        n_nms_upd = int(vals["nu"] or 0)
    no_change = (
        n_updated == 0 and n_deleted == 0 and n_inserted == 0
        and n_nms_upd == 0 and n_nms_del == 0
    )
    if batch is not None and counts_known and not no_change:
        new_names = _stage_rewrites(batch, path, "merge", m)
    if no_change:
        # Candidate files held no row matching any clause (stats are an
        # over-approximation): the staged survivors are byte-identical
        # content. Discard the unreferenced staged files and commit
        # nothing instead of churning a version — except the txn
        # watermark, which must advance metadata-only (same rationale
        # as the vacuous-clause path above).
        for f in new_names + (cdf_names or []):
            fs.remove(os.path.join(rel, f))
        keys_df.unpersist()
        if txn is not None:
            _commit(path, m, txns=txns_out, op="MERGE")
        return {
            "updated": 0, "deleted": 0, "inserted": 0,
            "files_rewritten": 0, "nms_updated": 0, "nms_deleted": 0,
        }
    new_files = [f for f in m["files"] if f not in victims] + new_names
    _commit(
        path, m, new_files, txns=txns_out, cdf_files=cdf_names, op="MERGE"
    )
    keys_df.unpersist()
    return {
        "updated": n_updated,
        "deleted": n_deleted,
        "inserted": n_inserted,
        "files_rewritten": len(victims),
        "nms_updated": n_nms_upd,
        "nms_deleted": n_nms_del,
    }


SCD2_VALID_FROM = "valid_from"
SCD2_VALID_TO = "valid_to"
SCD2_CURRENT = "is_current"


def scd2_init(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_col: str,
    effective_col: str,
) -> int:
    """Create an SCD Type-2 dimension table from an initial snapshot:
    every row becomes current (``valid_from`` = its effective date,
    ``valid_to`` null, ``is_current`` true) and the result is committed
    as manifest version 1. ``effective_col`` must be castable to date."""
    dim = batch.select(
        "*",
        F.col(effective_col).cast("date").alias(SCD2_VALID_FROM),
        F.lit(None).cast("date").alias(SCD2_VALID_TO),
        F.lit(True).alias(SCD2_CURRENT),
    ).drop(effective_col)
    dim.write.mode("overwrite").parquet(path)
    return manifest_init(path, stat_cols=[key_col])


def scd2_merge(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_col: str,
    attr_cols: "list[str]",
    effective_col: str,
) -> "tuple[int, int]":
    """SCD Type-2 MERGE into a manifest dimension table (Kimball's
    slowly-changing-dimension pattern; Delta's ``MERGE ... WHEN MATCHED``
    SCD2 recipe): for each batch row whose attributes DIFFER from the
    key's current row — or whose key is new — the current row is closed
    (``valid_to`` = the batch row's effective date, ``is_current`` false)
    and a new current row inserted; rows re-stating the current
    attributes are no-ops. History rows are never touched. The close and
    the insert publish as ONE manifest version (a reader can never see a
    key with zero or two current rows).

    One batch row per key (raise otherwise — apply multi-change batches
    in effective order, one merge per wave). Victim planning is
    size-adaptive like :func:`upsert` (:func:`_plan_source_keys`):
    dimension-sized batches collect keys and broadcast into the compare
    joins, batches above ``DML_COLLECT_KEY_LIMIT`` keys prune via the
    stats range join and shuffle-join instead — metadata-only either
    way when ``key_col`` stats are tracked (:func:`scd2_init` tracks
    them), and nothing batch-sized on the driver on the large path.

    Returns (changed_keys, new_keys)."""
    m = read_manifest(path)
    cur = load_manifest_table(spark, path).filter(F.col(SCD2_CURRENT))
    b = batch.select(
        F.col(key_col),
        *[F.col(c).alias(f"__b_{c}") for c in attr_cols],
        F.col(effective_col).cast("date").alias("__eff"),
    ).persist()
    # ONE aggregate serves both preconditions (was two jobs: a groupBy
    # dup probe plus a count — part of the r7 bench regression on the
    # SCD2 lifecycle query): rows != distinct keys means some key
    # appears more than once, and the row count sizes the joins.
    n_rows, n_keys, n_null = b.agg(
        F.count(F.lit(1)),
        F.count_distinct(F.col(key_col)),
        F.sum(F.col(key_col).isNull().cast("long")),
    ).first()
    n_null = int(n_null or 0)
    if n_null:
        # A NULL business key can never be matched by a later wave (the
        # key equi-join skips NULLs), so it would become a forever-
        # current row no close-out can reach — refuse it loudly instead
        # of letting count_distinct (which ignores NULLs) misreport it
        # as a duplicate-key wave (r11 self-review).
        raise ValueError(
            f"{n_null} batch row(s) have a NULL {key_col!r}; SCD2 "
            "requires a non-null business key"
        )
    if n_rows != n_keys:
        raise ValueError(
            f"{n_rows - n_keys} batch row(s) re-use a key that appears "
            "more than once in the batch; apply waves in effective "
            "order, one scd2_merge per wave"
        )
    # One row per key post-dup-check, so count == distinct keys; batches
    # above DML_COLLECT_KEY_LIMIT join by shuffle, not broadcast.
    small_batch = n_rows <= DML_COLLECT_KEY_LIMIT
    bcast = (lambda d: F.broadcast(d)) if small_batch else (lambda d: d)
    diff = F.lit(False)
    for c in attr_cols:
        diff = diff | ~F.col(c).eqNullSafe(F.col(f"__b_{c}"))
    changed = (
        cur.join(bcast(b), key_col)
        .filter(diff)
        .select(key_col, "__eff", *[f"__b_{c}" for c in attr_cols])
    )
    new_keys = b.join(cur, key_col, "left_anti").select(
        key_col, "__eff", *[f"__b_{c}" for c in attr_cols]
    )
    # Arm marker instead of a dedicated new_keys.count() pass: that
    # count re-ran the batch-vs-current anti-join (a full current-table
    # scan) when the same information is a cheap aggregate over the
    # persisted union.
    to_insert = changed.withColumn("__is_new", F.lit(False)).unionByName(
        new_keys.withColumn("__is_new", F.lit(True))
    )
    to_insert.persist()
    fs, rel = get_fs(path)
    keys_df, _key_set, affected = _plan_source_keys(
        spark, m, fs, rel, to_insert, key_col
    )
    # Small path: the collected set IS the count (no extra job).
    n_changed_total = (
        len(_key_set) if _key_set is not None else keys_df.count()
    )
    n_new = int(
        to_insert.agg(
            F.sum(F.col("__is_new").cast("long"))
        ).first()[0]
        or 0
    )
    if n_changed_total == 0:
        keys_df.unpersist()
        to_insert.unpersist()
        b.unpersist()
        return 0, 0
    schema_cols = [n for n, _ in (m.get("schema") or [])] or cur.columns
    # Rewrite affected files: close the changed keys' current rows in
    # place, pass everything else through untouched.
    eff_by_key = to_insert.select(
        key_col, F.col("__eff").alias("__close_at")
    )
    new_names: "list[str]" = []
    victims: "set[str]" = set()
    if affected:
        old = _with_deletes(
            spark, path, m, affected, with_row_ids=_row_tracking_on(m)
        )
        closing = F.col(SCD2_CURRENT) & F.col("__close_at").isNotNull()
        rewritten = (
            old.join(bcast(eff_by_key), key_col, "left")
            .select(
                *[
                    c
                    for c in schema_cols
                    if c not in (SCD2_VALID_TO, SCD2_CURRENT)
                ],
                *([ROW_ID_COL] if _row_tracking_on(m) else []),
                F.when(closing, F.col("__close_at"))
                .otherwise(F.col(SCD2_VALID_TO))
                .alias(SCD2_VALID_TO),
                F.when(closing, F.lit(False))
                .otherwise(F.col(SCD2_CURRENT))
                .alias(SCD2_CURRENT),
            )
            .select(
                *schema_cols,
                *([ROW_ID_COL] if _row_tracking_on(m) else []),
            )
        )
        if _row_tracking_on(m):
            rewritten = _materialize_ids(rewritten)
        new_names += _stage_rewrites(rewritten, path, "scd2close", m)
        victims = set(affected)
    inserts = to_insert.select(
        F.col(key_col),
        *[F.col(f"__b_{c}").alias(c) for c in attr_cols],
        F.col("__eff").alias(SCD2_VALID_FROM),
        F.lit(None).cast("date").alias(SCD2_VALID_TO),
        F.lit(True).alias(SCD2_CURRENT),
    ).select(*schema_cols)
    new_names += _stage_rewrites(inserts, path, "scd2ins", m)
    new_files = [f for f in m["files"] if f not in victims] + new_names
    _commit(path, m, new_files, op="MERGE")
    keys_df.unpersist()
    to_insert.unpersist()
    b.unpersist()
    return n_changed_total - n_new, n_new


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    where: "dict[str, str] | None" = None,
) -> "tuple[int, int]":
    """Manifest-committed OPTIMIZE: merge the current version's files below
    half ``target_bytes`` into ~target-size outputs, publish as one new
    version. Cost tracks small-file bytes; large files are never read.

    When the table tracks stats, small files are binned in min-stat order
    of ``stat_cols[0]`` (not uuid-random name order), so each merged
    output covers a contiguous key range and the stats pruning the same
    manifest maintains survives compaction — the ``jobs.py`` twin's
    ``sort_col`` rule, driven here by the manifest's own metadata.

    On a PARTITIONED table, files only ever merge WITHIN one recorded
    partition-value tuple and each output inherits the tuple — so
    compaction never mixes partitions into a file partition pruning
    would then have to keep conservatively (the Iceberg/Delta OPTIMIZE
    rule: compaction is per-partition). Files with no recorded values
    (pre-evolution data) form their own group.

    ``where`` scopes the pass to a partition subset (Delta's ``OPTIMIZE
    ... WHERE``, which likewise accepts only partition predicates):
    a dict of partition-entry -> token (e.g. ``{"day(ts)": "2026-08-15"}``
    — entry and token exactly as recorded per file), and only files whose
    recorded values match EVERY pair are considered. At 100 TB this is
    the difference between "compact yesterday's ingest" and touching the
    whole table's small-file census. Files with no recorded values never
    match a scoped pass (pre-evolution data is compacted by the unscoped
    pass only). Returns (files_merged, files_written)."""
    fs, rel = get_fs(path)
    m = read_manifest(path)
    cand = m["files"]
    if where:
        parts_all = m.get("partitions") or {}
        cand = [
            f
            for f in cand
            if all(
                (parts_all.get(f) or {}).get(k) == v for k, v in where.items()
            )
        ]
    sizes = {f: fs.size(os.path.join(rel, f)) for f in cand}
    small = [f for f in cand if sizes[f] < target_bytes // 2]
    if len(small) < 2:
        return 0, 0
    parts_meta = m.get("partitions") or {}
    groups: "dict[tuple, list[str]]" = {}
    for f in small:
        groups.setdefault(
            tuple(sorted((parts_meta.get(f) or {}).items())), []
        ).append(f)
    stat_cols = m.get("stat_cols") or []
    stats_meta = m.get("stats") or {}

    def _min_stat(f: str):
        s = (stats_meta.get(f) or {}).get(stat_cols[0]) if stat_cols else None
        # Files with unknown stats sort last, grouped together, so
        # they can't widen a range-pure bin's bounding box.
        return (s is None or s[0] is None, s[0] if s else None, f)

    # On a liquid-clustered table, a bin whose inputs are ALL at or below
    # the clustering watermark holds only already-clustered rows: stamp
    # its output at the watermark so optimize_clustered does NOT rewrite
    # the same bytes again next maintenance tick (measured in the round-8
    # lifecycle run: the unstamped compaction wave was re-clustered whole
    # one tick later — 2x write amplification on the compacted volume).
    # Bins mixing pending files stamp normally and stay pending.
    props_c = m.get("props") or {}
    cluster_wm = (
        int(props_c.get("cluster_watermark") or 0)
        if props_c.get("cluster_by")
        else None
    )
    seq_meta = m.get("seq") or {}
    stamped: "dict[str, int]" = {}
    new_names: list[str] = []
    merged: list[str] = []
    new_parts: dict = {}
    for pkey, gfiles in sorted(groups.items()):
        if len(gfiles) < 2:
            continue
        if stat_cols:
            gfiles.sort(key=_min_stat)
        bins: "list[list[str]]" = [[]]
        acc = 0
        for f in gfiles:
            if bins[-1] and acc + sizes[f] > target_bytes:
                bins.append([])
                acc = 0
            bins[-1].append(f)
            acc += sizes[f]
        for b in bins:
            if len(b) < 2:
                continue
            out = _with_deletes(
                spark, path, m, b, with_row_ids=_row_tracking_on(m)
            ).coalesce(1)
            if _row_tracking_on(m):
                out = _materialize_ids(out)
            staged = _stage_rewrites(out, path, "compact", m)
            new_names += staged
            merged += b
            if cluster_wm is not None and all(
                int(seq_meta.get(f, m["version"])) <= cluster_wm for f in b
            ):
                for n in staged:
                    stamped[n] = cluster_wm
            if pkey:
                for n in staged:
                    new_parts[n] = dict(pkey)
    if not merged:
        return 0, 0
    # OPTIMIZE commutes with a concurrent APPEND (Delta auto-resolves
    # the same pair): the merged outputs re-publish over the new file
    # list; an interloper that rewrote one of OUR inputs aborts.
    # Compaction is data-neutral: an enabled change feed records an
    # explicitly EMPTY change set, not a gap.
    _commit_rewrite_commuting(
        path, m, fs, rel, set(merged), new_names,
        [] if _cdf_on(m) else None,
        partitions=new_parts,
        op="OPTIMIZE",
        seq_new=stamped or None,
    )
    return len(merged), len(new_names)


def optimize_zorder(
    spark: SparkSession,
    path: str,
    cols: "list[str]",
    bits: int = 12,
    num_partitions: int = 16,
) -> int:
    """Delta/Iceberg ``OPTIMIZE ... ZORDER BY`` for manifest tables:
    rewrite the CURRENT snapshot into a Z-ordered layout (each new file a
    narrow bounding box in every listed dimension — ``jobs.zorder_value``)
    and publish the whole re-layout as ONE manifest version. Readers
    never see a half-clustered table; the previous version stays
    time-travel-readable until vacuumed; manifest stats (when tracked)
    are recomputed from the new footers in the same commit, so
    :func:`scan_auto` pruning gets the full benefit of the new
    layout on EVERY listed dimension immediately. Returns the committed
    version."""
    from pspcz_analyzer_spark.jobs import zorder_value

    return _optimize_layout(spark, path, zorder_value, cols, bits, num_partitions)


def optimize_hilbert(
    spark: SparkSession,
    path: str,
    cols: "list[str]",
    bits: int = 12,
    num_partitions: int = 16,
) -> int:
    """:func:`optimize_zorder` with a HILBERT key (``jobs.hilbert_value``,
    2 columns): consecutive curve cells are always grid-adjacent, so
    output files get tighter bounding boxes than the Morton curve's
    teleporting layout gives — the Z->Hilbert move liquid clustering
    made. Same one-version commit contract as Z-order."""
    from pspcz_analyzer_spark.jobs import hilbert_value

    return _optimize_layout(
        spark, path, hilbert_value, cols, bits, num_partitions
    )


def _optimize_layout(
    spark: SparkSession,
    path: str,
    key_fn,
    cols: "list[str]",
    bits: int,
    num_partitions: int,
) -> int:
    """Shared OPTIMIZE body: attach a space-filling-curve key, range-
    exchange + sort on it, publish the re-layout as one version."""
    m = read_manifest(path)
    if not m["files"]:
        return m["version"]
    rt = _row_tracking_on(m)
    keyed, zcol = key_fn(
        load_manifest_table(spark, path, with_row_ids=rt), cols, bits
    )
    out = (
        keyed.repartitionByRange(num_partitions, F.col(zcol))
        .sortWithinPartitions(zcol)
        .drop(zcol)
    )
    if rt:
        out = _materialize_ids(out)
    new_names = _stage_rewrites(out, path, "zorder", m)
    # A full re-lay RESETS the incremental-clustering state: the spec
    # becomes these columns and the watermark the new commit (so a later
    # optimize_clustered clusters only post-re-lay arrivals instead of
    # re-clustering everything) — ALTER CLUSTER BY in minimal form.
    props = dict(m.get("props") or {})
    new_v = m["version"] + 1
    if props.get("cluster_by") or len(cols) >= 1:
        props["cluster_by"] = ",".join(cols)
        props["cluster_watermark"] = new_v
    # The whole snapshot was read (deletes applied) and rewritten: this
    # commit IS a full materialization, so the delete entries drop here,
    # and a re-layout is data-neutral for the change feed.
    return _commit(
        path, m, new_names, deletes=None,
        cdf_files=[] if _cdf_on(m) else None, props=props, op="OPTIMIZE",
    )


def optimize_clustered(
    spark: SparkSession,
    path: str,
    cols: "list[str]",
    bits: int = 12,
    num_partitions: int = 4,
    min_files: int = 2,
    curve: str = "zorder",
) -> "tuple[int, int]":
    """INCREMENTAL clustering — Delta liquid clustering's core move, in
    minimal form: cluster ONLY the files added since the last pass, so
    maintenance cost tracks INGEST, not table size (a full OPTIMIZE
    ZORDER of a 100 TB table rewrites 100 TB; this rewrites the day's
    arrivals). Mechanics:

    * the clustering watermark is a SEQUENCE number in table properties;
      pending files are those with a higher sequence (appends since the
      last pass — at any table size, a metadata-only decision);
    * pending files rewrite through the curve layout (pending
      merge-on-read deletes fold in for exactly those files);
    * outputs are stamped with the WATERMARK sequence, not the commit's:
      they are never re-clustered, a concurrent append's files (higher
      seq) stay pending for the NEXT pass, and later equality-delete
      entries still outrank them (the rows inside are old rows);
    * the clustering column set is recorded and later passes must match
      it (switch via a full :func:`optimize_zorder`/:func:`optimize_hilbert`,
      which re-lays the whole table).

    Fewer than ``min_files`` pending files is a no-op (no version churn
    for a single straggler). Returns (files_clustered, files_written)."""
    from pspcz_analyzer_spark.jobs import hilbert_value, zorder_value

    key_fn = {"zorder": zorder_value, "hilbert": hilbert_value}[curve]
    m = read_manifest(path)
    props = dict(m.get("props") or {})
    recorded = props.get("cluster_by")
    spec = ",".join(cols)
    if recorded and recorded != spec:
        raise ValueError(
            f"table is clustered by {recorded!r}; pass the same columns or "
            "re-lay the whole table with optimize_zorder/optimize_hilbert"
        )
    wm = int(props.get("cluster_watermark") or 0)
    seq = m.get("seq") or {}
    pending = [f for f in m["files"] if int(seq.get(f, 0)) > wm]
    if len(pending) < min_files:
        return 0, 0
    new_wm = max(int(seq.get(f, 0)) for f in pending)
    rt = _row_tracking_on(m)
    keyed, zcol = key_fn(
        _with_deletes(spark, path, m, pending, with_row_ids=rt), cols, bits
    )
    out = (
        keyed.repartitionByRange(num_partitions, F.col(zcol))
        .sortWithinPartitions(zcol)
        .drop(zcol)
    )
    if rt:
        out = _materialize_ids(out)
    new_names = _stage_rewrites(out, path, "cluster", m)
    fs, rel = get_fs(path)
    victims = set(pending)
    new_files = [f for f in m["files"] if f not in victims] + new_names
    prev_seq = {f: int(seq.get(f, m["version"] + 1)) for f in m["files"]}
    new_seq = {
        **{f: prev_seq[f] for f in m["files"] if f not in victims},
        **{n: new_wm for n in new_names},
    }
    props["cluster_by"] = spec
    props["cluster_watermark"] = new_wm
    try:
        _commit(
            path, m, new_files, seq=new_seq, props=props,
            cdf_files=[] if _cdf_on(m) else None,  # re-layout: neutral
            op="OPTIMIZE",
        )
    except CommitConflict:
        _remove_quietly(fs, rel, new_names)
        raise
    return len(pending), len(new_names)


def clustering_depth(
    path: str, col: str, version: int | None = None
) -> int:
    """The layout's maximum OVERLAP DEPTH on ``col``: how many files'
    stored [min, max] ranges cover the worst single point — Iceberg's
    clustering metric, and the number that tells you whether range
    pruning still works. Depth 1 = disjoint ranges (a point query plans
    one file); depth == n_files = every file overlaps everything
    (pruning is dead, re-cluster). Computed by a boundary sweep over the
    manifest stats — pure metadata, no data IO. Files with no stats on
    ``col`` count toward every point (they are never prunable), so the
    metric stays honest about unknown files."""
    m = read_manifest(path, version)
    stats = m.get("stats") or {}
    rows_meta = m.get("rows") or {}
    pcol = _physical_col(m, col)
    events = []
    unknown = 0
    for f in m["files"]:
        if rows_meta.get(f) == 0:
            continue  # known-empty file: overlaps nothing
        s = (stats.get(f) or {}).get(pcol)
        if s is None or s[0] is None:
            unknown += 1
            continue
        events.append((s[0], 0))   # open before close at the same key
        events.append((s[1], 1))
    depth = best = 0
    for _, kind in sorted(events, key=lambda e: (e[0], e[1])):
        if kind == 0:
            depth += 1
            best = max(best, depth)
        else:
            depth -= 1
    return best + unknown


def maintain(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    max_small_files: int = 16,
    max_delete_entries: int = 4,
    retain_versions: int = 3,
    vacuum_min_age_seconds: float = 3600.0,
    recluster_col: str | None = None,
    max_depth: int = 8,
    max_staged_age_seconds: "float | None" = None,
) -> dict:
    """Policy-driven table maintenance in one call (the auto-OPTIMIZE /
    auto-VACUUM loop a production lake runs on a schedule): materialize
    pending equality deletes once they pile past ``max_delete_entries``,
    compact once more than ``max_small_files`` files sit below half
    ``target_bytes``, then vacuum behind ``retain_versions`` with the
    concurrent-writer age guard. Each step is the ordinary committed op
    — a crash between steps leaves a normal, consistent table, and a
    concurrent writer just wins/loses individual version commits.
    Returns a dict of what ran: {materialized, compacted, vacuumed,
    reclustered, clustered_incremental, blooms_backfilled,
    staged_expired, segments_compacted}.

    Thresholds are deliberately DECISIONS-from-metadata: the small-file
    census is a listing + size pass, the delete census reads the
    manifest — deciding "nothing to do" costs no data IO at any table
    size. ``recluster_col`` adds the fourth policy: when
    :func:`clustering_depth` on that column exceeds ``max_depth`` (file
    ranges have drifted so overlapped that range pruning stopped
    working — the inevitable fate of an append-only range layout), run
    :func:`optimize_zorder` on it; the decision itself is one sweep
    over the manifest stats."""
    out = {
        "materialized": 0,
        "compacted": 0,
        "vacuumed": 0,
        "reclustered": 0,
        "clustered_incremental": 0,
        "staged_expired": 0,
    }
    # Abandoned WAP refs pin their files against vacuum forever; the
    # optional age policy drops refs whose doc outlived the window
    # (crashed audit jobs, forgotten experiments). Off by default —
    # expiring someone's pending audit is a policy decision.
    if max_staged_age_seconds is not None:
        import time as _t

        fs0, rel0 = get_fs(path)
        for ref in list(list_staged(path)):
            p = os.path.join(_staged_dir(rel0), f"{ref}.json")
            try:
                mt = fs0.mtime(p)
            except Exception:
                mt = None
            if mt is not None and _t.time() - mt >= max_staged_age_seconds:
                drop_staged(path, ref)
                out["staged_expired"] += 1
    m = read_manifest(path)
    if len(m.get("deletes") or []) > max_delete_entries:
        nf, ne = materialize_deletes(spark, path)
        out["materialized"] = ne
        m = read_manifest(path)
    # Liquid-style standing policy: a table with a recorded clustering
    # column set gets its SINCE-LAST-PASS arrivals clustered every
    # maintenance tick — cost tracks ingest (the pending-set decision is
    # metadata-only), and the full-re-lay policy below stays the depth
    # backstop.
    cluster_by = (m.get("props") or {}).get("cluster_by")
    if cluster_by:
        n_inc, _w = optimize_clustered(spark, path, cluster_by.split(","))
        out["clustered_incremental"] = n_inc
        if n_inc:
            m = read_manifest(path)
    fs, rel = get_fs(path)
    small = [
        f
        for f in m["files"]
        if fs.size(os.path.join(rel, f)) < target_bytes // 2
    ]
    if len(small) > max_small_files:
        merged, _written = compact_small_files(spark, path, target_bytes)
        out["compacted"] = merged
        m = read_manifest(path)
    if recluster_col is not None:
        depth = clustering_depth(path, recluster_col)
        if depth > max_depth:
            optimize_zorder(spark, path, [recluster_col])
            out["reclustered"] = depth
            m = read_manifest(path)
    # Standing bloom policy: columns that ever got ensure_blooms keep
    # their point-lookup pruning — new files backfill every tick (cost =
    # a column scan of the MISSING files only; no-op when none). Runs
    # AFTER compaction/recluster so this tick's rewrite outputs get
    # their blooms now instead of waiting a full tick.
    out["blooms_backfilled"] = 0
    for bcol in [
        c
        for c in ((m.get("props") or {}).get("bloom_cols") or "").split(",")
        if c
    ]:
        before = current_version(path)
        if ensure_blooms(spark, path, bcol) != before:
            out["blooms_backfilled"] += 1
    # Two-level housekeeping: a standing append loop leaves one tiny
    # segment per commit; consolidate once the name list is 2x past
    # optimal (metadata-only — no Spark job, no data IO).
    m = read_manifest(path)
    segs = m.get("segments") or []
    want = -(-len(m["files"]) // SEGMENT_TARGET_FILES)
    out["segments_compacted"] = (
        compact_segments(path) if len(segs) > 2 * max(want, 1) else 0
    )
    out["vacuumed"] = vacuum(
        path,
        retain_versions=retain_versions,
        min_age_seconds=vacuum_min_age_seconds,
    )
    return out


def restore(path: str, version: int) -> int:
    """RESTORE TABLE TO VERSION — time-travel rollback, Delta-style: the
    target version's file list (and its schema/stats/row accounting)
    commits as a NEW version, so the rollback is itself versioned,
    auditable in :func:`history`, and concurrency-safe (a racing writer
    conflicts at the version file like any commit). Data files are never
    touched — restore is metadata-only and instant at any table size —
    but it can only reach versions whose files still exist: raises
    FileNotFoundError naming the missing files if :func:`vacuum` already
    collected them (the documented retention trade)."""
    m = read_manifest(path)  # current: carries the txn watermarks forward
    target = read_manifest(path, version)
    fs, rel = get_fs(path)
    needed = list(target["files"]) + [
        d["file"] for d in (target.get("deletes") or [])
    ]
    missing = [f for f in needed if not fs.exists(os.path.join(rel, f))]
    if missing:
        raise FileNotFoundError(
            f"cannot restore {path} to version {version}: "
            f"{len(missing)} data files were vacuumed ({missing[:3]}...)"
        )
    # Writer watermarks, constraints and the dropped-name ledger carry
    # from the current version; everything else restores to the target.
    return _commit(
        path, m, target["files"],
        schema=target.get("schema"),
        stats=target.get("stats"), stat_cols=target.get("stat_cols"),
        # The target's delete entries AND its sequence map pass through
        # verbatim — merge-on-read semantics must time-travel exactly.
        deletes=target.get("deletes"),
        seq=target.get("seq"),
        rows=target.get("rows"),
        # Partition metadata restores with the files it describes (the
        # current version may have dropped entries for files the target
        # still references); spec history restores to the target's view.
        partitions=target.get("partitions"),
        specs=target.get("specs"),
        current_spec=target.get("current_spec"),
        # Explicit {} (not None): restoring to a version that predates a
        # generated column must NOT carry the expression map forward —
        # the restored schema lacks the column, and a carried entry
        # would make the next append compute a column the schema
        # rejects. Schema and generated map restore as one unit.
        generated=target.get("generated") or {},
        # Same unit rule for the column mapping: the CURRENT version's
        # colmap on the restored schema would route the old logical name
        # at the wrong physical column after a restore past a rename
        # (misread, not just a miss).
        colmap=target.get("colmap") or {},
        # ... and for column defaults: a restore past an ADD COLUMN with
        # a default must drop the default with the column.
        defaults=target.get("defaults") or {},
        # Identity allocator state travels with the files it describes
        # (bases + next time-travel exactly, like the row-id map).
        identity=target.get("identity") or {},
        # Table properties restore as a unit too (a restore past
        # enable_cdf rolls the property back; the feed restarts at a
        # future re-enable).
        props=target.get("props") or {},
        # Row-id map travels with the files it describes.
        row_base=target.get("row_base"),
        row_next=target.get("row_next"),
        op="RESTORE",
    )


def export_snapshot(
    spark: SparkSession,
    path: str,
    dst: str,
    version: int | None = None,
    num_partitions: int | None = None,
) -> int:
    """Materialize one version as a PLAIN parquet directory — the
    interchange escape hatch for consumers that read vanilla parquet
    (a training job, another engine): the snapshot view resolves EVERY
    manifest feature (merge-on-read deletes, column mapping, widened
    types, initial defaults, identity values) into ordinary columns and
    bytes, so the export needs no reader support and never drifts from
    what ``load_manifest_table(version)`` shows. Unlike :func:`clone_table`
    this pays full data IO and yields a DEAD copy (no history, no
    features) — use clone for a live branch, export for hand-off.
    Returns the exported row count."""
    df = load_manifest_table(spark, path, version)
    if num_partitions:
        df = df.coalesce(num_partitions)
    df.write.mode("error").parquet(dst)
    return spark.read.parquet(dst).count()


def import_snapshot(
    src: str,
    dst: str,
    stat_cols: "list | None" = None,
    bloom_cols: "list | None" = None,
    copy: bool = True,
) -> int:
    """IMPORT half of the interchange escape hatch (the inverse of
    :func:`export_snapshot`): adopt a plain parquet directory — an
    export, or any engine's output — as a FRESH manifest table at
    ``dst`` WITHOUT mutating the source directory (:func:`manifest_init`
    adopts in place; this one leaves the hand-off artifact untouched).

    ``copy=True`` (default) byte-copies the files into ``dst`` —
    self-contained at copy cost, like a deep clone. ``copy=False``
    references the source files absolutely (zero data IO; same lifetime
    caveat and scheme-less-path rule as shallow clones: deleting the
    source breaks the import; ``dst``'s own vacuum never reaches across).

    Metadata builds on the lazy plan a fresh adoption wants at 100 TB:
    ``stat_cols`` computes per-file [min, max] once from footers
    (metadata-only); ``bloom_cols`` records only the STANDING bloom
    policy — the bitsets build on the first :func:`maintain` tick, a
    column scan that runs when maintenance windows allow rather than
    inside the import. Returns the committed version (1)."""
    if _versions(dst):
        raise ValueError(f"{dst} is already a manifest table")
    fs_s, rel_s = get_fs(src)
    fs_d, rel_d = get_fs(dst)
    src_files = sorted(
        f for f in fs_s.listdir(rel_s) if f.endswith(".parquet")
    )
    if not src_files:
        raise FileNotFoundError(f"no parquet files to import at {src}")
    fs_d.makedirs(rel_d)
    if copy:
        files = []
        for f in src_files:
            fs_d.copy(os.path.join(rel_s, f), os.path.join(rel_d, f))
            files.append(f)
    else:
        if "://" in src or "://" in dst:
            raise ValueError(
                "reference import requires scheme-less paths (absolute "
                "references resolve via os.path.join); use copy=True"
            )
        files = [os.path.join(rel_s, f) for f in src_files]
    props = (
        {"bloom_cols": ",".join(bloom_cols)} if bloom_cols else None
    )
    return _commit(
        dst, {"version": 0, "files": []}, files,
        schema=_table_schema_list(dst, files),
        stat_cols=stat_cols,
        props=props,
        op="CREATE TABLE",
    )


def clone_table(
    path: str,
    dst: str,
    version: int | None = None,
    shallow: bool = True,
) -> int:
    """CLONE a manifest table (Delta's CREATE TABLE ... CLONE): ``dst``
    becomes an independent table whose version 1 is the source's state
    AS OF ``version`` (default latest). Shallow clones are METADATA-ONLY
    — zero bytes of data move, at 100 TB a clone is one small JSON — the
    primitive behind dev/test branches and "pin the corpus my training
    run reads, then keep curating the live table". Writes to either side
    never affect the other: the clone's DML rewrites stage into the
    clone's own directory, and dropped source-file references are only
    ever physically deleted by :func:`vacuum`, which collects strictly
    within its own table directory.

    Shallow-clone lifetime rule (Delta's documented caveat, identical
    here): VACUUMING THE SOURCE can delete files a shallow clone still
    references — the source's vacuum cannot see foreign manifests. Pin
    the cloned version with :func:`create_tag` on the source, or use
    ``shallow=False`` (deep clone: every referenced data + delete file
    byte-copies into ``dst``, self-contained at copy cost).

    Sequence numbers: carried entries remap to ``s - max(s)`` (order
    preserved, all <= 0) so the clone's OWN commits — whose files stamp
    ``seq = version >= 2`` — can never be suppressed by carried
    merge-on-read delete entries; carried deletes keep applying to
    exactly the carried files they outrank. Writer watermarks (``txns``)
    do NOT carry: the clone is a new table, and a streaming writer
    feeding it must replay from its own ledger.

    Shallow clones require plain (scheme-less) paths for both ends:
    references are stored absolute and resolved by the reader's
    ``os.path.join``, which URI schemes would corrupt. Deep clones work
    on any :func:`get_fs`-resolvable pair sharing one filesystem.
    """
    src = read_manifest(path, version)
    if _versions(dst):
        raise ValueError(f"{dst} is already a manifest table")
    fs_s, rel_s = get_fs(path)
    fs_d, rel_d = get_fs(dst)
    if shallow and ("://" in path or "://" in dst):
        raise ValueError(
            "shallow clone requires scheme-less paths (absolute "
            "references resolve via os.path.join); use shallow=False"
        )
    dels = src.get("deletes") or []
    needed = list(src["files"]) + [d["file"] for d in dels]
    missing = [f for f in needed if not fs_s.exists(os.path.join(rel_s, f))]
    if missing:
        raise FileNotFoundError(
            f"cannot clone {path}@{src['version']}: {len(missing)} files "
            f"already vacuumed ({missing[:3]}...)"
        )
    fs_d.makedirs(rel_d)
    if shallow:
        ref = {
            f: (f if os.path.isabs(f) else os.path.join(rel_s, f))
            for f in needed
        }
    else:
        ref = {}
        for f in needed:
            base = os.path.basename(f)
            fs_d.copy(os.path.join(rel_s, f), os.path.join(rel_d, base))
            ref[f] = base

    def _rekey(d: "dict | None") -> "dict | None":
        return {ref[k]: v for k, v in d.items() if k in ref} if d else d

    def _clone_blooms(bl: "dict | None") -> "dict | None":
        # Sidecar refs need the same treatment as data-file refs: shallow
        # clones absolutize them into the source's tree (vacuum there may
        # still collect them — the documented shallow-clone caveat), deep
        # clones copy each referenced blob once into the clone's own
        # bloom dir. Probes fall back to basename lookup inside the blob,
        # so re-keyed file names still resolve.
        if not bl:
            return bl
        copied: "dict[str, str]" = {}
        out: dict = {}
        for f, cols in bl.items():
            if f not in ref:
                continue
            newcols = {}
            for c, spec in cols.items():
                s = spec.get("sidecar")
                if s:
                    if shallow:
                        spec = dict(
                            spec,
                            sidecar=(
                                s
                                if os.path.isabs(s)
                                else os.path.join(rel_s, s)
                            ),
                        )
                    else:
                        if s not in copied:
                            base = os.path.basename(s)
                            fs_d.makedirs(os.path.join(rel_d, BLOOM_DIR))
                            fs_d.copy(
                                s
                                if os.path.isabs(s)
                                else os.path.join(rel_s, s),
                                os.path.join(rel_d, BLOOM_DIR, base),
                            )
                            copied[s] = f"{BLOOM_DIR}/{base}"
                        spec = dict(spec, sidecar=copied[s])
                newcols[c] = spec
            out[ref[f]] = newcols
        return out

    seq = src.get("seq") or {}
    shift = max(list(seq.values()) + [d["seq"] for d in dels], default=0)
    return _commit(
        dst,
        {"version": 0, "files": []},
        [ref[f] for f in src["files"]],
        schema=src.get("schema"),
        stats=_rekey(src.get("stats")),
        stat_cols=src.get("stat_cols"),
        constraints=src.get("constraints"),
        rows=_rekey(src.get("rows")),
        deletes=[
            dict(d, file=ref[d["file"]], seq=d["seq"] - shift) for d in dels
        ]
        or None,
        seq={ref[f]: seq.get(f, 0) - shift for f in src["files"]},
        blooms=_clone_blooms(src.get("blooms")),
        partitions=_rekey(src.get("partitions")),
        specs=src.get("specs"),
        current_spec=src.get("current_spec"),
        colmap=src.get("colmap"),
        generated=src.get("generated"),
        # Column defaults carry with the schema; their `since` version is
        # on the SOURCE's sequence scale, so it shifts exactly like the
        # carried seq entries (defaults keep applying to exactly the
        # carried files they applied to, never to the clone's own
        # commits, whose files stamp seq >= 1 > since - shift).
        defaults={
            c: dict(d, since=int(d.get("since", 0)) - shift)
            for c, d in (src.get("defaults") or {}).items()
        },
        # Identity base maps re-key to the clone's file names; the
        # allocator cursor (next) carries so the clone's own appends
        # continue the sequence without colliding with carried values.
        identity={
            c: dict(spec, base=_rekey(spec.get("base") or {}))
            for c, spec in (src.get("identity") or {}).items()
        },
        op="CLONE",
    )


def _staged_dir(path: str) -> str:
    return os.path.join(_manifest_dir(path), "staged")


def stage_append(df: DataFrame, path: str, ref: str) -> int:
    """WRITE step of write-audit-publish (Iceberg's WAP pattern in
    minimal form): the batch's data files land in the table directory
    and a named STAGED ref records them OUTSIDE the version chain — no
    reader of the table sees them, time travel is unaffected, vacuum
    spares them — so audits can run against :func:`load_staged` before
    :func:`publish_staged` makes the batch visible (metadata-only) or
    :func:`drop_staged` discards it. Validation is the full append
    contract AT STAGE TIME (identity rejection, write defaults,
    generated columns, schema, CHECK constraints); publish re-validates
    against the manifest it commits on, so rules added between stage
    and publish still gate. Identity values allocate at PUBLISH (the
    commit is the counter), so the audit view reads them as null.
    Returns the number of staged files."""
    m = read_manifest(path)
    _reject_identity_supplied(m, df, "staged batches")
    df = _apply_write_defaults(m, df)
    df = _apply_generated(m, df)
    _check_schema(m.get("schema") or _df_schema_list(df), df, False)
    _check_constraints(m, df)
    safe = "".join(c for c in ref if c.isalnum() or c in "-_")
    if not safe or safe != ref:
        raise ValueError(f"staged ref must be [-_a-zA-Z0-9]+, got {ref!r}")
    fs, rel = get_fs(path)
    names = _stage_rewrites(df, path, f"wap-{ref}", m)
    d = _staged_dir(rel)
    fs.makedirs(d)
    doc = {
        "ref": ref,
        "files": sorted(names),
        "base_version": m["version"],
        "schema": _df_schema_list(df),
    }
    try:
        fs.create_exclusive(
            os.path.join(d, f"{ref}.json"), json.dumps(doc, indent=0).encode()
        )
    except FileExistsError:
        _remove_quietly(fs, rel, names)
        raise ValueError(f"staged ref {ref!r} already exists") from None
    return len(names)


def list_staged(path: str) -> "dict[str, int]":
    """{ref: n_files} for every staged-but-unpublished batch."""
    fs, rel = get_fs(path)
    d = _staged_dir(rel)
    if not fs.isdir(d):
        return {}
    out = {}
    for f in sorted(fs.listdir(d)):
        if f.endswith(".json"):
            doc = json.loads(fs.read_bytes(os.path.join(d, f)))
            out[doc["ref"]] = len(doc["files"])
    return out


def _read_staged(path: str, ref: str) -> dict:
    fs, rel = get_fs(path)
    p = os.path.join(_staged_dir(rel), f"{ref}.json")
    if not fs.exists(p):
        raise FileNotFoundError(f"no staged ref {ref!r} at {path}")
    return json.loads(fs.read_bytes(p))


def load_staged(spark: SparkSession, path: str, ref: str) -> DataFrame:
    """AUDIT view: the current table PLUS the staged batch — what the
    table would look like after publish. Run your expectations /
    row-count / distribution checks here, then publish or drop."""
    m = read_manifest(path)
    doc = _read_staged(path, ref)
    return load_manifest_table(spark, path).unionByName(
        _read_files(spark, path, m, doc["files"]),
        allowMissingColumns=True,
    )


def publish_staged(spark: SparkSession, path: str, ref: str) -> int:
    """PUBLISH step: commit the staged files as the next version —
    pure metadata, the data bytes never move. Re-validates the staged
    batch against the CURRENT manifest (constraints/schema may have
    changed since staging); a failed re-validation leaves the ref
    staged for inspection. IDEMPOTENT under retry: a publisher that
    crashed between its commit and the ref removal left the batch live
    — re-publishing detects the fully-published ref, removes it, and
    returns the version that already carries the batch instead of
    appending the files twice. Returns the committed version."""
    m = read_manifest(path)
    doc = _read_staged(path, ref)
    fs, rel = get_fs(path)
    # Crash-safe retry: a publisher killed between its commit and the
    # ref removal leaves the batch LIVE but the ref staged — a blind
    # re-publish would append the same files a second time (duplicated
    # rows). Fully-published refs finish the interrupted publish
    # (remove the ref, return the version that carries the batch);
    # a PARTIAL overlap can only mean manifest surgery — refuse.
    live = set(m["files"])
    overlap = live & set(doc["files"])
    if overlap:
        if overlap == set(doc["files"]):
            fs.remove(os.path.join(_staged_dir(rel), f"{ref}.json"))
            return m["version"]
        raise RuntimeError(
            f"staged ref {ref!r}: {len(overlap)} of {len(doc['files'])} "
            "files are already in the table — partial publish state; "
            "inspect the manifest before retrying"
        )
    staged_view = _read_files(spark, path, m, doc["files"])
    _check_schema(m.get("schema") or doc["schema"], staged_view, False)
    _check_constraints(m, staged_view)
    new_names = list(doc["files"])
    v = _commit(path, m, m["files"] + new_names, op="WRITE")
    fs.remove(os.path.join(_staged_dir(rel), f"{ref}.json"))
    return v


def drop_staged(path: str, ref: str) -> int:
    """Discard a staged batch: its files and ref are removed; the table
    never saw it. Returns the number of files removed."""
    doc = _read_staged(path, ref)
    fs, rel = get_fs(path)
    n = 0
    for f in doc["files"]:
        try:
            fs.remove(os.path.join(rel, f))
            n += 1
        except Exception:
            pass
    fs.remove(os.path.join(_staged_dir(rel), f"{ref}.json"))
    return n


def _tags_dir(path: str) -> str:
    return os.path.join(_manifest_dir(path), "tags")


def create_tag(path: str, name: str, version: int | None = None) -> int:
    """Tag a table version with a stable name — Iceberg's tags (named
    snapshot refs) in minimal form: one tiny JSON under
    ``_manifest/tags/``, create-exclusive so two writers can't claim the
    same name. Tagged versions are PINNED: :func:`vacuum` keeps their
    manifests and every file they reference regardless of
    ``retain_versions`` — the audit/rollback anchor ("the snapshot we
    trained run X on") that plain retention can't give you. Resolve with
    ``load_manifest_table(spark, path, version=resolve_tag(...))`` or
    any version-taking reader. Returns the tagged version."""
    import json as _json
    import re as _re

    if not _re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name):
        raise ValueError(f"bad tag name: {name!r}")
    v = current_version(path) if version is None else int(version)
    if v not in _versions(path):
        raise ValueError(f"version {v} does not exist at {path}")
    fs, rel = get_fs(path)
    d = _tags_dir(rel)
    fs.makedirs(d)
    try:
        fs.create_exclusive(
            os.path.join(d, f"{name}.json"),
            _json.dumps({"name": name, "version": v}).encode(),
        )
    except FileExistsError as e:
        raise ValueError(f"tag {name!r} already exists at {path}") from e
    return v


def resolve_tag(path: str, name: str) -> int:
    """The version a tag points at (ValueError if absent)."""
    import json as _json

    fs, rel = get_fs(path)
    p = os.path.join(_tags_dir(rel), f"{name}.json")
    if not fs.exists(p):
        raise ValueError(f"no tag {name!r} at {path}")
    return int(_json.loads(fs.read_bytes(p))["version"])


def delete_tag(path: str, name: str) -> None:
    """Drop a tag; its version re-enters the normal retention clock."""
    fs, rel = get_fs(path)
    p = os.path.join(_tags_dir(rel), f"{name}.json")
    if not fs.exists(p):
        raise ValueError(f"no tag {name!r} at {path}")
    fs.remove(p)


def list_tags(path: str) -> "dict[str, int]":
    """{tag name: version}, empty if none."""
    import json as _json

    fs, rel = get_fs(path)
    d = _tags_dir(rel)
    out = {}
    try:
        names = fs.listdir(d)
    except Exception:
        return out
    for f in names:
        if f.endswith(".json"):
            doc = _json.loads(fs.read_bytes(os.path.join(d, f)))
            out[doc["name"]] = int(doc["version"])
    return out


def vacuum(
    path: str,
    retain_versions: int = 1,
    min_age_seconds: float = 3600.0,
    dry_run: bool = False,
) -> "int | list[str]":
    """Garbage-collect data files referenced by NO retained manifest
    version, and drop the pruned manifests. ``retain_versions`` >= 1 keeps
    that many latest versions readable (time travel window); readers of
    vacuumed versions lose them — the documented Delta/Iceberg trade.
    Idempotent. Returns the number of data files removed.

    ``min_age_seconds`` is the concurrent-writer guard (Delta's retention
    threshold, default 7 days there, 1 h here): an in-flight
    append/upsert/delete renames its staged data files into the table dir
    BEFORE its commit, so an unreferenced file may be a writer that
    hasn't published yet, not garbage. Files (and orphaned ``.stage_*``
    crash debris) younger than the threshold — or whose mtime the store
    can't report — are left alone; a later vacuum collects them once
    they're provably abandoned. Pass ``0`` only when no writer can be
    concurrent (tests, single-writer maintenance windows)."""
    import time as _time

    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1")
    vs = _versions(path)
    if not vs:
        return 0
    # Tagged versions are pinned outside the retention window: their
    # manifests stay readable and their files stay on disk until the
    # tag is dropped (Iceberg's ref-based expiry rule).
    tagged = set(list_tags(path).values())
    keep_set = set(vs[-retain_versions:]) | (tagged & set(vs))
    # Reader retention FLOOR (r11, mirror of the concurrent-writer age
    # guard below): a reader pins its snapshot at plan time, so a
    # version superseded less than ``min_age_seconds`` ago may still be
    # under a long-running scan that started while it was latest.
    # Such versions stay FULLY readable — manifest, data files, CDF,
    # blooms, segments all survive this pass — until their successor
    # commit is provably old. An unreadable successor mtime fails
    # CLOSED (keep), exactly like the writer guard's unknown-mtime rule.
    if min_age_seconds > 0:
        _vac_now = _time.time()
        _fsf, _relf = get_fs(path)
        for _i, _v in enumerate(vs[:-1]):
            if _v in keep_set:
                continue
            succ = os.path.join(
                _manifest_dir(_relf), f"{vs[_i + 1]:08d}.json"
            )
            try:
                _mt = _fsf.mtime(succ)
            except Exception:
                _mt = None
            if _mt is None or _vac_now - _mt < min_age_seconds:
                keep_set.add(_v)
    keep_vs = sorted(keep_set)
    referenced: set[str] = set()
    referenced_cdf: set[str] = set()
    referenced_blooms: set[str] = set()
    referenced_segs: set[str] = set()
    for v in keep_vs:
        mv = read_manifest(path, v)
        referenced_segs.update(mv.get("segments") or [])
        referenced.update(mv["files"])
        # Equality-delete key files are part of the version's read view.
        referenced.update(d["file"] for d in (mv.get("deletes") or []))
        # A retained version's change feed stays readable with it.
        referenced_cdf.update(mv.get("cdf_files") or [])
        # Bloom SIDECARS referenced by a retained version stay readable
        # with it (absolute refs point into another table — a shallow
        # clone's source — and are never this vacuum's to collect).
        for cols in (mv.get("blooms") or {}).values():
            for spec in cols.values():
                s = spec.get("sidecar")
                if s and not os.path.isabs(s):
                    referenced_blooms.add(s)
    # Staged-but-unpublished WAP batches are referenced by their ref
    # docs, not by any version — they must survive vacuum at any age
    # until published or dropped.
    for ref in list_staged(path):
        referenced.update(_read_staged(path, ref)["files"])
    fs, rel = get_fs(path)
    now = _time.time()

    def _old_enough(p: str) -> bool:
        if min_age_seconds <= 0:
            return True
        try:
            mt = fs.mtime(p)
        except Exception:
            mt = None
        return mt is not None and now - mt >= min_age_seconds

    removed = 0
    would: "list[str]" = []
    cdir = os.path.join(rel, CDF_DIR)
    if fs.isdir(cdir):
        for f in fs.listdir(cdir):
            name = f"{CDF_DIR}/{f}"
            full = os.path.join(cdir, f)
            if (
                f.endswith(".parquet")
                and name not in referenced_cdf
                and _old_enough(full)
            ):
                if dry_run:
                    would.append(name)
                    continue
                fs.remove(full)
                removed += 1
    bdir = os.path.join(rel, BLOOM_DIR)
    if fs.isdir(bdir):
        for f in fs.listdir(bdir):
            name = f"{BLOOM_DIR}/{f}"
            full = os.path.join(bdir, f)
            if (
                f.endswith(".json")
                and name not in referenced_blooms
                and _old_enough(full)
            ):
                if dry_run:
                    would.append(name)
                    continue
                fs.remove(full)
                removed += 1
    sdir = os.path.join(rel, SEG_DIR)
    if fs.isdir(sdir):
        for f in fs.listdir(sdir):
            name = f"{SEG_DIR}/{f}"
            full = os.path.join(sdir, f)
            if (
                f.endswith(".json")
                and name not in referenced_segs
                and _old_enough(full)
            ):
                if dry_run:
                    would.append(name)
                    continue
                fs.remove(full)
                removed += 1
    # Recursive sweep: hive-adopted tables (convert_to_manifest) keep
    # data files inside col=value subdirectories, referenced by their
    # SUBDIR-RELATIVE names — a flat listdir would never collect their
    # replaced files. Metadata dirs (_manifest, _changes) and stage
    # debris are handled by their own rules above/below, never recursed.
    dirs = [""]
    while dirs:
        sub = dirs.pop()
        d = os.path.join(rel, sub) if sub else rel
        for base in fs.listdir(d):
            f = os.path.join(sub, base) if sub else base
            full = os.path.join(rel, f)
            if base.endswith(".parquet") and f not in referenced:
                if _old_enough(full):
                    if dry_run:
                        would.append(f)
                        continue
                    fs.remove(full)
                    removed += 1
            elif base.startswith(".stage_") and fs.isdir(full):
                # Crash debris from a writer that died mid-stage; same
                # age rule — a LIVE writer's stage dir is younger than
                # the window.
                if _old_enough(full):
                    if dry_run:
                        would.append(f)
                        continue
                    fs.rmtree(full)
            elif (
                fs.isdir(full)
                and not base.startswith(("_", "."))
            ):
                dirs.append(f)
    if dry_run:
        # VACUUM DRY RUN (Delta's): report, touch nothing — including
        # the pruned manifests, which a real pass would drop.
        return sorted(would)
    for v in vs:
        # keep_set = retention window + tags + the reader floor; a
        # floor-kept version keeps its MANIFEST too, so a reader that
        # pinned it re-reads cleanly instead of hitting SnapshotExpired
        # while its grace window is still open.
        if v in keep_set:
            continue
        fs.remove(os.path.join(_manifest_dir(rel), f"{v:08d}.json"))
    return removed


MV_TXN_APP = "mv_refresh"


def refresh_aggregate(
    spark: SparkSession,
    base_path: str,
    mv_path: str,
    key_col: str,
    value_col: str,
    to_version: "int | None" = None,
) -> int:
    """Incremental materialized-view maintenance: keep a per-key
    (sum_value, cnt) aggregate table in sync with an APPEND-ONLY base
    manifest table, reading only the delta since the last refresh.

    The refreshed-through base version is recorded as the MV's txn
    watermark (app ``mv_refresh``), so the protocol is exactly-once and
    crash-safe with no side state: a re-run of the same refresh is
    skipped by :func:`upsert`'s replay check, a refresh after a crash
    resumes from the last COMMITTED watermark, and the watermark commits
    atomically with the merged rows it describes. Each refresh plans
    :func:`read_version_delta` — the appended files only, from metadata —
    aggregates them, and merges into the MV by adding onto the affected
    keys' stored partials (classic self-maintainable-view algebra: SUM
    and COUNT merge by addition; extend with per-key min/max the same
    way). At 100 TB the refresh cost tracks the DELTA plus the affected
    MV keys — never the base table, never the full MV.

    Base-table rewrites (delete/upsert/compaction) are NOT representable
    as append deltas; callers owning such tables rebuild the MV or route
    changes through ``snapshot_diff`` (see :func:`read_version_delta`'s
    contract). Returns the MV's committed version.
    """
    if to_version is None:
        to_version = current_version(base_path)
    fs, rel = get_fs(mv_path)
    if not fs.exists(rel):
        fs.makedirs(rel)
    if not _versions(mv_path):
        manifest_init(mv_path)
    m = read_manifest(mv_path)
    last = (m.get("txns") or {}).get(MV_TXN_APP)
    if last is not None and last >= to_version:
        return m["version"]  # already refreshed through to_version
    if last is None:
        delta = load_manifest_table(spark, base_path, version=to_version)
    else:
        delta = read_version_delta(spark, base_path, last, to_version)
    dagg = delta.groupBy(key_col).agg(
        F.sum(value_col).alias("sum_value"),
        F.count(value_col).alias("cnt"),
    )
    if last is not None:
        mv = load_manifest_table(spark, mv_path).select(
            key_col,
            F.col("sum_value").alias("__old_sum"),
            F.col("cnt").alias("__old_cnt"),
        )
        dagg = (
            dagg.join(mv, key_col, "left")
            .select(
                key_col,
                (
                    F.col("sum_value") + F.coalesce("__old_sum", F.lit(0.0))
                ).alias("sum_value"),
                (F.col("cnt") + F.coalesce("__old_cnt", F.lit(0))).alias("cnt"),
            )
        )
    return upsert(
        spark, dagg, mv_path, key_col, txn=(MV_TXN_APP, to_version)
    )


MV_CDF_TXN_APP = "mv_refresh_cdf"


def refresh_aggregate_cdf(
    spark: SparkSession,
    base_path: str,
    mv_path: str,
    key_col: str,
    value_col: str,
    to_version: "int | None" = None,
) -> int:
    """Incremental materialized-view maintenance over ARBITRARY DML —
    the classic signed-delta view algebra (ΔV = +postimage −preimage;
    Blakeley et al.'s self-maintainable aggregates) driven by the
    row-level change feed, where :func:`refresh_aggregate` requires an
    append-only base.

    The MV holds per-key ``(sum_value, cnt, n_rows)``: ``cnt`` counts
    NON-NULL values (SQL ``count(col)``), ``n_rows`` counts rows, and
    SUM goes NULL exactly when ``cnt`` hits 0 — so the triple is closed
    under inserts, updates, and deletes. Each refresh reads
    :func:`read_changes` for ``(last, to_version]``, folds ``insert`` /
    ``update_postimage`` rows with sign +1 and ``delete`` /
    ``update_preimage`` with −1, and MERGEs the per-key deltas into the
    MV: matched keys whose ``n_rows`` reaches 0 DELETE (the key left the
    base), others update by addition, new keys insert. The
    refreshed-through version rides the MERGE as its txn watermark —
    exactly-once, crash-safe, no side state (:func:`merge_into`'s txn).

    Cost at 100 TB tracks |delta| + the affected MV keys — never the
    base, never the full MV. Floating-point ``sum_value`` maintained by
    addition can drift from a recompute (use decimal/integer value
    columns where byte-exactness matters); counts are exact always."""
    if to_version is None:
        to_version = current_version(base_path)
    fs, rel = get_fs(mv_path)
    if not fs.exists(rel):
        fs.makedirs(rel)
    if not _versions(mv_path):
        manifest_init(mv_path)
    m = read_manifest(mv_path)
    last = (m.get("txns") or {}).get(MV_CDF_TXN_APP)
    if last is not None and last >= to_version:
        return m["version"]  # already refreshed through to_version
    if last is None:
        delta = load_manifest_table(
            spark, base_path, version=to_version
        ).select(
            key_col, value_col, F.lit(1).alias("__sign")
        )
    else:
        delta = read_changes(spark, base_path, last, to_version).select(
            key_col,
            value_col,
            F.when(
                F.col(CDF_TYPE_COL).isin("insert", "update_postimage"),
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .alias("__sign"),
        )
    dagg = (
        delta.groupBy(key_col)
        .agg(
            F.sum(F.col(value_col) * F.col("__sign")).alias("sum_delta"),
            F.sum(
                F.when(F.col(value_col).isNotNull(), F.col("__sign"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("cnt"),
            F.sum("__sign").cast("long").alias("n_rows"),
        )
        # Keys whose changes fully cancel within the delta are no-ops:
        # merging them would churn victim files for identical content.
        .filter(
            (F.col("n_rows") != 0)
            | (F.col("cnt") != 0)
            | (F.coalesce(F.col("sum_delta"), F.lit(0.0)) != 0.0)
        )
        # Two faces of the same delta: ``sum_value`` is INSERT-facing
        # (a fresh key's absolute state — NULL when its non-null
        # contributions cancel to cnt=0, e.g. insert 5 then update to
        # NULL inside one window), ``sum_delta`` is UPDATE-facing (the
        # raw signed accumulator a matched key must add — clause-only,
        # never lands in the table).
        .withColumn(
            "sum_value",
            F.when(F.col("cnt") == 0, F.lit(None)).otherwise(
                F.col("sum_delta")
            ),
        )
    )
    if last is None:
        out = upsert(
            spark,
            dagg.select(key_col, "sum_value", "cnt", "n_rows"),
            mv_path,
            key_col,
            txn=(MV_CDF_TXN_APP, to_version),
        )
        return out
    merge_into(
        spark,
        mv_path,
        dagg,
        key_col,
        # A brand-new key whose window changes cancel (n_rows=0) can
        # still pass the no-op filter on a floating-point residue in
        # sum_delta; inserting it would publish a phantom n_rows=0 MV
        # row a full recompute would never contain (and the matched-
        # delete clause could never remove, since t.n_rows + s.n_rows
        # is 0 only against a real prior row). Only keys with net rows
        # may INSERT; drift-only deltas apply through the matched path.
        not_matched_condition="s.n_rows != 0",
        when_matched_delete="t.n_rows + s.n_rows = 0",
        when_matched_update={
            # SUM is NULL exactly when no non-null value remains — the
            # cnt term decides, so a sum driven to 0.0 by deletes of the
            # only non-null values still reads back as SQL NULL. The
            # update adds the RAW accumulator (s.sum_delta), not the
            # insert-facing s.sum_value, which is already NULL-masked.
            "sum_value": (
                # integer 0 literals: they widen to the column's own type
                # (double stays double, a bigint MV stays bigint)
                "CASE WHEN t.cnt + s.cnt = 0 THEN NULL "
                "ELSE coalesce(t.sum_value, 0) + coalesce(s.sum_delta, 0) END"
            ),
            "cnt": "t.cnt + s.cnt",
            "n_rows": "t.n_rows + s.n_rows",
        },
        txn=(MV_CDF_TXN_APP, to_version),
    )
    return current_version(mv_path)


def version_at_timestamp(path: str, ts: float) -> int:
    """Resolve ``TIMESTAMP AS OF``: the highest version committed at or
    before ``ts`` (epoch seconds). Prefers the IN-COMMIT timestamp the
    blob itself records (Delta ICT — immune to mtime loss from
    object-store copies/restores, forced monotone per table at commit
    time so skewed writer clocks cannot reorder history); manifests
    written before the field fall back to the blob's mtime (Delta's
    pre-ICT resolution). Metadata-only: one small read per retained
    version. Raises ``ValueError`` if ``ts`` predates the first retained
    commit (the snapshot it names is not reconstructable — vacuum may
    have dropped its files), mirroring Delta's behavior."""
    fs, rel = get_fs(path)
    best = None
    for v in _versions(path):
        # read_manifest resolves the fs itself — pass the ORIGINAL path
        # (rel has no scheme: on URI backends it would always throw and
        # silently degrade ICT resolution to mtimes, the exact failure
        # in-commit timestamps exist to prevent). Only a genuinely
        # missing/corrupt blob falls back; real read errors surface.
        try:
            t = read_manifest(path, v).get("ts")
        except (FileNotFoundError, KeyError):
            t = None
        if t is None:
            t = fs.mtime(os.path.join(_manifest_dir(rel), f"{v:08d}.json"))
        if t is not None and float(t) <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no committed version at or before ts={ts} in {path} "
            "(predates the first retained commit)"
        )
    return best


def load_manifest_table_asof(
    spark: SparkSession, path: str, ts: float
) -> DataFrame:
    """Time-travel read by wall clock: ``load_manifest_table`` pinned at
    :func:`version_at_timestamp`'s resolution."""
    return load_manifest_table(spark, path, version_at_timestamp(path, ts))


def read_changes_timestamp(
    spark: SparkSession,
    path: str,
    from_ts: float,
    to_ts: "float | None" = None,
) -> DataFrame:
    """Row-level change feed by WALL CLOCK (Delta's readChangeFeed
    ``startingTimestamp``/``endingTimestamp``): changes committed AFTER
    ``from_ts`` up to ``to_ts`` (default: now), resolved through the
    in-commit timestamps — "what changed since yesterday's export"
    without the caller tracking versions."""
    fv = version_at_timestamp(path, from_ts)
    tv = None if to_ts is None else version_at_timestamp(path, to_ts)
    return read_changes(spark, path, fv, tv)


def restore_timestamp(path: str, ts: float) -> int:
    """RESTORE TABLE TO TIMESTAMP AS OF — :func:`version_at_timestamp`
    resolution (in-commit timestamps, monotone per table) + the ordinary
    versioned :func:`restore`: "roll the table back to how it was at
    noon" as one metadata-only call."""
    return restore(path, version_at_timestamp(path, ts))


def _bloom_positions(value_str: str, bits: int, k: int) -> "list[int]":
    """The k bit positions for one key — Python twin of the Spark
    expression in :func:`ensure_blooms` (both are md5 over "seed:value",
    first 8 hex chars as an integer, mod bits — the engine-reproducible
    hashing idiom used throughout the repo)."""
    import hashlib

    return [
        int(hashlib.md5(f"{i}:{value_str}".encode()).hexdigest()[:8], 16) % bits
        for i in range(k)
    ]


BLOOM_DIR = f"{MANIFEST_DIR}/blooms"

# Sidecar blobs are named by uuid and immutable once written, so a
# process-wide cache keyed by resolved path can never serve stale bits.
_BLOOM_SIDECAR_CACHE: "dict[str, dict]" = {}


def _bloom_sidecar(fs, rel: str, name: str) -> dict:
    """Load (and cache) one bloom sidecar blob. ``name`` is table-relative
    (``_manifest/blooms/bl-*.json``) or absolute (shallow clones)."""
    full = name if os.path.isabs(name) else os.path.join(rel, name)
    doc = _BLOOM_SIDECAR_CACHE.get(full)
    if doc is None:
        doc = json.loads(fs.read_bytes(full))
        if len(_BLOOM_SIDECAR_CACHE) > 64:
            _BLOOM_SIDECAR_CACHE.clear()
        _BLOOM_SIDECAR_CACHE[full] = doc
    return doc


def _bloom_b64(fs, rel: str, fname: str, pcol: str, spec: dict):
    """Resolve a bloom spec's bitset: inline ``b64`` (pre-sidecar tables)
    or a sidecar lookup; ``None`` (conservative: keep the file) when the
    sidecar is gone or lacks the entry."""
    b64 = spec.get("b64")
    if b64 is not None or not spec.get("sidecar"):
        return b64
    try:
        doc = _bloom_sidecar(fs, rel, spec["sidecar"])
    except (FileNotFoundError, OSError, ValueError):
        return None
    ent = doc.get(fname) or doc.get(os.path.basename(fname)) or {}
    return (ent.get(pcol) or {}).get("b64")


def ensure_blooms(
    spark: SparkSession,
    path: str,
    col: str,
    bits: "int | str" = "auto",
    k: int = 6,
) -> int:
    """Backfill per-file BLOOM FILTERS on ``col`` for every data file the
    current manifest lacks one for, and commit them as metadata — the
    point-lookup complement to min/max stats (Parquet/Iceberg/Delta all
    grow one): range stats prune range scans on the LAYOUT key, but a
    point lookup on any other column overlaps every file's [min, max].
    A per-file bloom answers "can this file contain key X?" from the
    manifest alone — no footer opens, no data IO at plan time.

    Cost model: one column scan of the MISSING files only (files are
    immutable, so a bloom is computed once per file, ever; `_commit`
    carries it until the file leaves the table). Per-file state is
    bounded by the bitset because the distributed build collect_set's
    bit POSITIONS per file, never keys.

    ``bits="auto"`` (default) sizes EACH file's bitset from its own
    distinct-key count — the Parquet bloom design (NDV-driven sizing) —
    at load factor k*NDV/bits <= 0.48, i.e. FP ~0.3% at k=6, rounded up
    to a power of two with a 1 KiB floor. Fixed-width blooms saturate
    exactly when files get big (measured: 131072 bits at 62k NDV/file =
    FP 0.7 — worse than useless); auto-sizing keeps the FP rate flat at
    ~6 bits/KEY, so the metadata grows with the data like every other
    per-file stat. Pass an int to pin the width instead. False positives
    only; false negatives impossible — same conservative contract as
    stats pruning, skipping is an optimization, not a filter. Keys are
    canonicalized as strings; intended for int/string key columns (float
    keys have no stable cross-engine rendering). Bitsets live in one
    immutable SIDECAR blob per backfill wave (Iceberg's puffin, in
    minimal form) and the manifest stores {bits, k, sidecar} pointers —
    the version blob stays O(files) while the bloom bytes grow with the
    data; probes resolve sidecars lazily (:func:`_bloom_sidecar` caches
    them), vacuum collects unreferenced blobs, and inline ``b64`` specs
    from pre-sidecar tables keep reading.

    Returns the committed version (or the current one if nothing was
    missing). Probe with :func:`prune_files_bloom`.
    """
    import base64

    m = read_manifest(path)
    logical = col
    col = _physical_col(m, col)  # blooms key data-file (physical) names
    blooms = dict(m.get("blooms") or {})
    # Record the LOGICAL column in properties so maintain()'s standing
    # policy re-backfills blooms for files NEW since this call — a
    # point-lookup table keeps its pruning without anyone remembering
    # to re-run ensure_blooms after every ingest.
    props = dict(m.get("props") or {})
    bcols = [c for c in (props.get("bloom_cols") or "").split(",") if c]
    if logical not in bcols:
        props["bloom_cols"] = ",".join(bcols + [logical])
    missing = [
        f for f in m["files"]
        if (blooms.get(f) or {}).get(col) is None
    ]
    if not missing:
        if props != (m.get("props") or {}):
            return _commit(path, m, props=props, op="SET TBLPROPERTIES")
        return m["version"]
    # Read through _read_files, NOT a raw parquet scan: columns the
    # manifest serves from METADATA — hive partition fill, initial
    # defaults, identity values — are null in the bytes, and a bloom
    # built from raw bytes would be all-zero for them, turning the
    # conservative skip into FALSE NEGATIVES on exactly those lookups.
    # The logical-schema read restores every such value first. Grouping
    # keys on ``__file`` basenames (unique table-wide; hive-adopted
    # names carry a subdir prefix, hence the basename lookups below).
    df = (
        _read_files(spark, path, m, missing, with_meta=True)
        .select(
            F.col("__file").alias("__f"),
            F.col(logical).cast("string").alias("__v"),
        )
        .where(F.col("__v").isNotNull())
        .distinct()
        .persist()
    )
    if bits == "auto":
        ndv = {r["__f"]: r["n"] for r in df.groupBy("__f").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        file_bits = {
            f: max(
                1024,
                1
                << (
                    int(k * ndv.get(os.path.basename(f), 0) / 0.48) - 1
                ).bit_length(),
            )
            for f in missing
        }
    else:
        file_bits = {f: int(bits) for f in missing}
    bmap = F.broadcast(
        spark.createDataFrame(
            [(os.path.basename(f), b) for f, b in file_bits.items()],
            "__f string, __bits_n long",
        )
    )
    seeds = F.array(*[F.lit(i) for i in range(k)])
    pos = F.explode(
        F.transform(
            seeds,
            lambda i: F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", i.cast("string"), F.col("__v"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.col("__bits_n"),
            ),
        )
    ).alias("__pos")
    per_file = (
        df.join(bmap, "__f")
        .select("__f", pos)
        .groupBy("__f")
        .agg(F.collect_set("__pos").alias("__bits"))
        .collect()
    )
    df.unpersist()
    bits_by_base = {os.path.basename(f): b for f, b in file_bits.items()}
    got = {}
    for r in per_file:
        nb = bits_by_base[r["__f"]]
        bs = bytearray(nb // 8)
        for p in r["__bits"]:
            p = int(p)
            bs[p >> 3] |= 1 << (p & 7)
        got[r["__f"]] = base64.b64encode(bytes(bs)).decode()
    # Bitsets land in ONE immutable SIDECAR blob per backfill wave
    # (Iceberg's puffin, in minimal form) and the manifest records only
    # {bits, k, sidecar} pointers per file — measured before this change,
    # inline bitsets made the version blob grow with LIVE ROWS (6 MB at
    # 1.8M rows in the round-8 lifecycle run), i.e. every commit rewrote
    # all bloom bytes; with sidecars the blob stays O(files) and a commit
    # writes no bloom bytes at all. Probes load a sidecar lazily, once,
    # via _bloom_sidecar's cache; vacuum collects unreferenced blobs.
    import uuid as _uuid

    fs_b, rel_b = get_fs(path)
    side_name = f"{BLOOM_DIR}/bl-{_uuid.uuid4().hex[:12]}.json"
    payload: "dict[str, dict]" = {}
    for f in missing:
        entry = dict(blooms.get(f) or {})
        nb = file_bits[f]
        # A file whose column is entirely NULL gets an all-zero bloom —
        # correct: no key can be in it.
        bs64 = got.get(
            os.path.basename(f),
            base64.b64encode(bytes(nb // 8)).decode(),
        )
        payload.setdefault(f, {})[col] = {"bits": nb, "k": k, "b64": bs64}
        entry[col] = {"bits": nb, "k": k, "sidecar": side_name}
        blooms[f] = entry
    fs_b.makedirs(os.path.join(rel_b, BLOOM_DIR))
    fs_b.create_exclusive(
        os.path.join(rel_b, side_name), json.dumps(payload, indent=0).encode()
    )
    try:
        return _commit(path, m, blooms=blooms, props=props, op="OPTIMIZE")
    except CommitConflict:
        # Lost the version race: the blob is referenced by nothing —
        # remove it now (vacuum would get it, but why leave garbage).
        _remove_quietly(fs_b, rel_b, [side_name])
        raise


def prune_files_bloom(
    path: str, m: dict, col: str, value
) -> "tuple[list[str], int]":
    """(files of snapshot ``m`` that may contain ``col == value``, total
    files) from the stored blooms — no data-file opens; ``path`` locates
    the bloom sidecar blobs. Files without a bloom for ``col`` are
    conservatively kept (same contract as :func:`prune_files_multi`);
    intersect with it when range stats are also tracked."""
    import base64

    blooms = m.get("blooms") or {}
    pcol = _physical_col(m, col)
    fs, rel = get_fs(path)
    kept = []
    for f in m["files"]:
        bl = (blooms.get(f) or {}).get(pcol)
        b64 = _bloom_b64(fs, rel, f, pcol, bl) if bl else None
        if b64 is None:
            kept.append(f)
            continue
        bs = base64.b64decode(b64)
        if all(
            bs[p >> 3] & (1 << (p & 7))
            for p in _bloom_positions(str(value), bl["bits"], bl["k"])
        ):
            kept.append(f)
    return kept, len(m["files"])


def scan_auto(
    spark: SparkSession,
    path: str,
    eq: "dict[str, object] | None" = None,
    ranges: "dict[str, tuple] | None" = None,
    nulls: "dict[str, bool] | None" = None,
    version: int | None = None,
) -> DataFrame:
    """ONE planned scan composing EVERY metadata pruning source this
    layer maintains — the scan-builder contract of Delta/Iceberg: the
    caller states predicates (``eq``: col = value conjuncts; ``ranges``:
    lo <= col <= hi conjuncts) and the planner intersects

    * recorded PARTITION TOKENS (equality through hidden transforms,
      ranges through order-preserving ones),
    * per-file [min, max] STATS (equality as a degenerate range, both
      folded into one box test),
    * per-file BLOOMS for equality on bloom-tracked columns,
    * per-file NULL COUNTS for ``nulls`` (col IS [NOT] NULL conjuncts),

    then reads only the surviving files through the merge-on-read view
    and applies the EXACT predicate. Each source skips conservatively
    (unknown metadata keeps the file), so the result equals
    ``load_manifest_table(version).filter(<conjunction>)`` row-for-row
    by construction — the oracle, and why callers never have to know
    WHICH pruning metadata a table happens to maintain. At a million
    files this is the difference between planning from one JSON and
    listing/footer-opening the world; the exact filter still pushes into
    the parquet scan for row-group pruning inside the kept files.

    The manifest is read ONCE: every pruning source and the read itself
    see the same snapshot, so a commit landing mid-plan cannot shrink
    the kept set below the rows of the version planned."""
    m = read_manifest(path, version)
    files, pred_fn = _plan_scan(path, m, eq, ranges, nulls)
    return _scan_files(spark, path, m, files, pred_fn())


def _scan_files(
    spark: SparkSession, path: str, m: dict, files: "list[str]", pred
) -> DataFrame:
    """``files`` of snapshot ``m`` through the merge-on-read view, with
    the exact predicate applied; no kept files gives the snapshot's
    empty frame (its schema, zero rows)."""
    if not files:
        return _snapshot_df(spark, path, m).filter(pred).limit(0)
    return _with_deletes(spark, path, m, files).filter(pred)


def _plan_scan(
    path: str,
    m: dict,
    eq: "dict[str, object] | None" = None,
    ranges: "dict[str, tuple] | None" = None,
    nulls: "dict[str, bool] | None" = None,
) -> "tuple[list[str], Callable[[], Column]]":
    """The metadata planner behind :func:`scan_auto` and
    :func:`scan_estimate`: intersect every pruning source (partition
    tokens, [min,max] stats, blooms, null counts) over snapshot ``m``
    and return ``(kept files in manifest order, predicate BUILDER)``.
    The exact predicate comes back as a zero-arg closure, not a Column:
    building a Column needs an active SparkContext, and the estimate-
    only consumers (:func:`scan_estimate`, the join planner's sizing
    pass) must stay session-free. Touches ONLY manifest metadata (and
    bloom sidecars under ``path``) — no SparkSession, no data IO."""
    eq = dict(eq or {})
    ranges = dict(ranges or {})
    if any(v is None for v in eq.values()):
        raise ValueError("eq values must be non-null; use nulls")
    keep = set(m["files"])
    if eq:
        k, _t = prune_files_partition(m, eq)
        keep &= set(k)
    for c, (lo, hi) in ranges.items():
        k, _t = prune_files_partition_range(m, c, lo, hi)
        keep &= set(k)
    box = {c: (v, v) for c, v in eq.items()}
    for c, (lo, hi) in ranges.items():
        if c in box:  # eq AND range on one column: intersect
            v = box[c][0]
            if not (lo <= v <= hi):
                keep = set()
            continue
        box[c] = (lo, hi)
    if box and keep:
        k, _t = prune_files_multi(m, box)
        keep &= set(k)
    for c, v in eq.items():
        if not keep:
            break
        k, _t = prune_files_bloom(path, m, c, v)
        keep &= set(k)
    nulls = dict(nulls or {})
    for c, want_null in nulls.items():
        if not keep:
            break
        if c in eq and want_null:
            keep = set()  # col = v AND col IS NULL: contradiction
            break
        k, _t = prune_files_null(m, c, want_null)
        keep &= set(k)
    def pred_fn() -> Column:
        # Built LAZILY: F.col/F.lit need an active SparkContext, and
        # scan_estimate's contract is "needs no SparkSession" — only
        # callers that execute the scan may force the Column.
        pred = F.lit(True)
        for c, v in eq.items():
            pred = pred & (F.col(c) == F.lit(v))
        for c, (lo, hi) in ranges.items():
            pred = pred & F.col(c).between(F.lit(lo), F.lit(hi))
        for c, want_null in nulls.items():
            pred = pred & (
                F.col(c).isNull() if want_null else F.col(c).isNotNull()
            )
        return pred

    return [f for f in m["files"] if f in keep], pred_fn


def analyze_columns(path: str, cols: "list[str]") -> int:
    """``ANALYZE TABLE ... FOR COLUMNS`` as a manifest commit: start
    tracking per-file [min, max, null_count] skipping stats for columns
    the table was NOT initialized with — the reconfiguration Delta's
    ``dataSkippingStatsColumns`` / Iceberg's metrics config allow after
    the fact, so a query pattern that emerges in production can get its
    pruning column without rewriting a byte of data.

    Cost: ONE parquet footer-metadata open per existing file (row
    groups' column chunk stats — never data pages), merged into the
    stored stats; every future commit keeps the new columns fresh
    through the same :func:`_commit` path as the original ones.
    Columns already tracked are skipped (an all-tracked call commits
    nothing and returns the current version). Renamed columns are
    accepted by their CURRENT logical name and tracked under their
    physical one, same as every stats consumer. Identity/generated
    columns are refused loudly: their logical values are synthesized at
    read time, so footer stats could never describe them."""
    m = read_manifest(path)
    fs, rel = get_fs(path)
    synthesized = set(m.get("identity") or ()) | set(m.get("generated") or ())
    declared = {n for n, _ in (m.get("schema") or [])}
    tracked = list(m.get("stat_cols") or [])
    to_add: "list[str]" = []
    for c in cols:
        if c in synthesized:
            raise ValueError(
                f"column {c!r} is synthesized at read time (identity/"
                "generated); footer stats cannot describe its values"
            )
        if declared and c not in declared:
            raise ValueError(f"column {c!r} is not in the table schema")
        phys = _physical_col(m, c)
        if phys not in tracked:
            to_add.append(phys)
    if not to_add:
        return m["version"]
    fresh = _file_stats(fs, rel, m["files"], to_add)
    stats = {f: dict(per) for f, per in (m.get("stats") or {}).items()}
    for f, per in fresh.items():
        stats.setdefault(f, {}).update(per)
    return _commit(
        path, m, stats=stats, stat_cols=tracked + to_add, op="ANALYZE"
    )


def scan_dnf(
    spark: SparkSession,
    path: str,
    disjuncts: "list[dict]",
    version: int | None = None,
) -> DataFrame:
    """:func:`scan_auto` generalized to DISJUNCTIVE predicates — the
    OR-of-conjunctions (DNF) shape data skipping must handle for
    q19-style queries (Delta/Iceberg evaluate OR natively in their
    skipping expressions; a conjunction-only planner would degrade to a
    full scan the moment a query has one OR).

    Each element of ``disjuncts`` is a conjunct spec ``{"eq": {...},
    "ranges": {...}, "nulls": {...}}``. The planner prunes files PER
    DISJUNCT (each through every metadata source — tokens, stats,
    blooms, null counts) and reads the UNION of the kept sets once;
    the exact predicate is the OR of the conjunct predicates, applied
    on top. A file is skipped only when EVERY disjunct's metadata
    excludes it, so the result equals
    ``load_manifest_table().filter(c1 OR c2 OR ...)`` row-for-row by
    construction. Planning stays metadata-only; the manifest is read
    ONCE and every per-disjunct pass plans that snapshot, so a
    concurrent commit cannot produce a mixed-snapshot plan."""
    if not disjuncts:
        raise ValueError("scan_dnf needs at least one disjunct")
    m = read_manifest(path, version)
    keep: "set[str]" = set()
    pred = F.lit(False)
    for d in disjuncts:
        files, p_fn = _plan_scan(
            path, m, d.get("eq"), d.get("ranges"), d.get("nulls")
        )
        keep.update(files)
        pred = pred | p_fn()
    files = [f for f in m["files"] if f in keep]
    return _scan_files(spark, path, m, files, pred)


def scan_estimate(
    path: str,
    eq: "dict[str, object] | None" = None,
    ranges: "dict[str, tuple] | None" = None,
    nulls: "dict[str, bool] | None" = None,
    version: int | None = None,
    with_bytes: bool = True,
) -> dict:
    """Metadata-only SIZE ESTIMATE of the scan :func:`scan_auto` would
    plan for the same predicates — the table-statistics contract a
    DataSourceV2 ``SupportsReportStatistics`` scan gives Spark's CBO,
    exposed as a library call (Iceberg `SparkScan.estimateStatistics`,
    Delta's stats-based `LogicalRelation` sizing play the same role).

    Returns ``{files_total, files_kept, rows_total_upper,
    rows_kept_upper, bytes_kept, has_deletes}``. Row counts come from
    the manifest's stored per-file footer counts, so with pending
    merge-on-read deletes they are UPPER bounds on alive rows — the safe
    direction for a broadcast decision (a table never looks smaller than
    it is). ``bytes_kept`` is one ``fs.size`` stat per kept file
    (file-count-bounded metadata IO, never data IO; ``with_bytes=False``
    skips even that and leaves it None). Needs no SparkSession: at a
    million files the whole estimate is one JSON read, which is what
    lets a join planner consult BOTH sides before building any plan."""
    m = read_manifest(path, version)
    files, _pred_fn = _plan_scan(path, m, eq, ranges, nulls)
    return _estimate_from_plan(path, m, files, with_bytes)


def _estimate_from_plan(
    path: str, m: dict, files: "list[str]", with_bytes: bool = True
) -> dict:
    """The :func:`scan_estimate` dict from an already-computed
    ``_plan_scan`` result — lets callers that also need the scan itself
    (``join_auto``) plan each side exactly once."""
    fs, rel = get_fs(path)
    return {
        "files_total": len(m["files"]),
        "files_kept": len(files),
        "rows_total_upper": _file_rows(m, fs, rel, m["files"]),
        "rows_kept_upper": _file_rows(m, fs, rel, files),
        "bytes_kept": (
            sum(fs.size(os.path.join(rel, f)) for f in files)
            if with_bytes
            else None
        ),
        "has_deletes": bool(m.get("deletes")),
    }


# Column types whose manifest [min,max] stats are EXACT table bounds.
# Strings are excluded on purpose: Parquet writers may truncate string
# stats (a truncated min is a prefix <= the true min, a truncated max is
# incremented past the true max) — conservative for pruning overlap
# tests, WRONG as an aggregate answer (the bound may be a value that
# exists in no row). Float/double are excluded too: footer min/max
# ignore NaN, but Spark's MAX returns NaN when one is present (NaN
# sorts greatest) — a finite bound would be a confident wrong answer.
# Iceberg's aggregate pushdown draws both lines in the same place.
_EXACT_BOUND_TYPES = {
    "tinyint",
    "smallint",
    "int",
    "integer",
    "bigint",
    "long",
    "date",
    "timestamp",
    "timestamp_ntz",
}


def stats_aggregate(
    path: str,
    aggs: "dict[str, tuple]",
    version: int | None = None,
) -> "dict | None":
    """Answer COUNT/MIN/MAX aggregates from manifest metadata ALONE —
    Iceberg's aggregate pushdown (`SparkScanBuilder.pushAggregation`) as
    a library call: ``SELECT count(*), min(k), max(k)`` over a governed
    100 TB table costs one JSON read, zero data IO, no SparkSession.

    ``aggs`` maps result alias -> spec: ``("count",)`` (count(*)),
    ``("count", col)`` (non-null count), ``("min", col)``,
    ``("max", col)``. Returns ``{alias: value}`` — or **None whenever
    metadata cannot answer EXACTLY**, and the caller must fall back to a
    scan. Refusals are the contract, not a limitation:

    * pending merge-on-read deletes (footer counts include dead rows,
      and a dead row may hold the extremum);
    * columns synthesized at read time (initial defaults, identity,
      generated) — footer stats see the stored NULLs, not the logical
      values;
    * min/max on types whose parquet bounds may be truncated (strings)
      or unordered (bool/binary) — see ``_EXACT_BOUND_TYPES``;
    * any file missing the needed stats entry (untracked column, writer
      without statistics, unknown null counts).

    Date/timestamp bounds are stored as ISO strings (lexicographic ==
    chronological) and converted back to date/datetime here."""
    import datetime as _dt

    m = read_manifest(path, version)
    if m.get("deletes"):
        return None
    files = m["files"]
    stats = m.get("stats") or {}
    rows_map = m.get("rows") or {}
    if any(f not in rows_map for f in files):
        return None  # a pre-rows-tracking commit: counts unknown sans IO
    synthesized = (
        set(m.get("defaults") or ())
        | set(m.get("identity") or ())
        | set(m.get("generated") or ())
    )
    schema = {n: t for n, t in (m.get("schema") or [])}
    total = sum(rows_map[f] for f in files)

    def _entry(f: str, col: str):
        e = (stats.get(f) or {}).get(_physical_col(m, col))
        # entries are [min, max] (pre-round-6) or [min, max, nulls]
        if e is None or len(e) < 2:
            return None
        return (e[0], e[1], e[2] if len(e) > 2 else None)

    def _revive(v, typ: str):
        if v is None or typ not in ("date", "timestamp", "timestamp_ntz"):
            return v
        return (
            _dt.date.fromisoformat(v)
            if typ == "date"
            else _dt.datetime.fromisoformat(v)
        )

    out: dict = {}
    for alias, spec in aggs.items():
        kind = spec[0]
        if kind == "count" and len(spec) == 1:
            out[alias] = total
            continue
        col = spec[1]
        if col in synthesized or col not in schema:
            return None
        if kind == "count":
            n = 0
            for f in files:
                if rows_map[f] == 0:
                    continue  # nothing to count; 0-row files store no stats
                e = _entry(f, col)
                if e is None or e[2] is None:
                    return None
                n += rows_map[f] - e[2]
            out[alias] = n
        elif kind in ("min", "max"):
            typ = schema[col].lower()
            if typ not in _EXACT_BOUND_TYPES:
                return None
            best = None
            for f in files:
                if rows_map[f] == 0:
                    continue  # 0-row files store no stats and no extremum
                e = _entry(f, col)
                if e is None:
                    return None
                lo, hi, nulls = e
                if nulls is not None and nulls == rows_map[f]:
                    continue  # all-null file: no extremum here
                if lo is None or hi is None:
                    return None
                v = lo if kind == "min" else hi
                if best is None:
                    best = v
                elif kind == "min":
                    best = min(best, v)
                else:
                    best = max(best, v)
            out[alias] = _revive(best, typ)
        else:
            raise ValueError(f"unknown aggregate spec {spec!r}")
    return out


# Mirrors Spark's spark.sql.autoBroadcastJoinThreshold default (10 MB of
# on-disk parquet understates in-memory size, but the factor is absorbed
# by Spark applying the SAME convention to file-based estimates).
BROADCAST_BYTES_THRESHOLD = 10 * 1024 * 1024

# Which sides of each join type MAY be the broadcast build side: the
# row-preserved side of an outer join cannot be built (Spark would
# silently ignore the hint; we never emit one it can't honor).
_BROADCASTABLE_SIDES = {
    "inner": ("left", "right"),
    "cross": ("left", "right"),
    "left": ("right",),
    "leftouter": ("right",),
    "left_outer": ("right",),
    "leftsemi": ("right",),
    "left_semi": ("right",),
    "semi": ("right",),
    "leftanti": ("right",),
    "left_anti": ("right",),
    "anti": ("right",),
    "right": ("left",),
    "rightouter": ("left",),
    "right_outer": ("left",),
    "full": (),
    "fullouter": (),
    "full_outer": (),
    "outer": (),
}


def join_strategy(
    left_est: dict,
    right_est: dict,
    how: str = "inner",
    bytes_threshold: int = BROADCAST_BYTES_THRESHOLD,
    rows_threshold: "int | None" = None,
) -> str:
    """Pick ``'broadcast_left' | 'broadcast_right' | 'shuffle'`` from two
    :func:`scan_estimate` dicts — the decision Spark's CBO makes from
    DSv2-reported statistics, driven here by POST-PRUNING sizes (a 100 TB
    fact table filtered to one partition token can be the broadcast
    side; Spark's own file-size estimate sees the unpruned relation
    unless the source reports pruned stats — this is why governed scans
    beat raw directory reads at plan time). A side qualifies when its
    pruned byte estimate is under ``bytes_threshold`` (or, if bytes are
    unknown, its row upper bound is under ``rows_threshold``); of the
    qualifying sides the SMALLER one is broadcast. Row counts are upper
    bounds (MoR deletes), so a qualifying side is genuinely small. A
    join type this table does not know emits NO hint (a hint Spark
    would silently ignore is worse than none — choice_out would report
    a broadcast that never happens)."""
    sides = _BROADCASTABLE_SIDES.get(
        how.lower(), _BROADCASTABLE_SIDES.get(how.lower().replace("_", ""), ())
    )

    def _qualifies(est: dict) -> bool:
        b = est.get("bytes_kept")
        if b is not None:
            return b <= bytes_threshold
        if rows_threshold is not None:
            return est["rows_kept_upper"] <= rows_threshold
        return False

    def _size(est: dict) -> tuple:
        b = est.get("bytes_kept")
        return (0, b) if b is not None else (1, est["rows_kept_upper"])

    candidates = [
        s
        for s, est in (("left", left_est), ("right", right_est))
        if s in sides and _qualifies(est)
    ]
    if not candidates:
        return "shuffle"
    if len(candidates) == 2:
        lb = left_est.get("bytes_kept")
        rb = right_est.get("bytes_kept")
        if (lb is None) != (rb is None):
            # Size KINDS differ (one side qualified via bytes, the
            # other via rows): bytes and row counts are incomparable,
            # and always preferring the bytes-known side would
            # broadcast a 9.9 MB relation over a 10-row one. Row upper
            # bounds exist for BOTH sides — compare those instead.
            pick = (
                "left"
                if left_est["rows_kept_upper"]
                <= right_est["rows_kept_upper"]
                else "right"
            )
        else:
            pick = (
                "left"
                if _size(left_est) <= _size(right_est)
                else "right"
            )
    else:
        pick = candidates[0]
    return f"broadcast_{pick}"


# Which SIDE of a join may have its files runtime-pruned by the other
# side's keys: pruning side S is sound iff rows of S that match NO key
# of the other side can never reach the output — i.e. the join does not
# PRESERVE S's unmatched rows. (left outer preserves left; full outer
# preserves both; left ANTI outputs exactly left's unmatched rows, so
# the LEFT side must never be pruned for anti — but the RIGHT side may:
# right rows provably matching no left key cannot change which left
# rows count as unmatched.)
_RUNTIME_PRUNABLE_SIDE = {
    "left": {"inner", "right", "rightouter", "semi", "leftsemi"},
    "right": {
        "inner", "left", "leftouter", "semi", "leftsemi", "anti",
        "leftanti",
    },
}


def join_auto(
    spark: SparkSession,
    left: "str | dict",
    right: "str | dict",
    on: "str | list[str]",
    how: str = "inner",
    bytes_threshold: int = BROADCAST_BYTES_THRESHOLD,
    rows_threshold: "int | None" = None,
    choice_out: "dict | None" = None,
    runtime_prune: bool = True,
) -> DataFrame:
    """Stats-driven join of two manifest tables: :func:`scan_auto` each
    side, then hint ``broadcast()`` on the side :func:`join_strategy`
    picks from the POST-PRUNING :func:`scan_estimate` sizes. ``left`` /
    ``right`` are table paths or ``{"path", "eq", "ranges", "nulls",
    "version"}`` scan specs. Strategy planning costs two manifest JSON
    reads plus one fs stat per kept file — NO Spark action — so the
    decision is made before Spark ever sees the plan, exactly where a
    DSv2 source would report statistics into the CBO. When neither side
    qualifies, no hint is emitted and runtime AQE keeps its usual
    freedom (it can still convert to broadcast from observed shuffle
    sizes — this planner only ever ADDS the conversions metadata already
    proves).

    When the strategy broadcasts one side (the dim) and the join cannot
    preserve the OTHER side's unmatched rows (``_RUNTIME_PRUNABLE_SIDE``),
    the planner additionally RUNTIME-PRUNES the fact side: the dim's
    distinct join keys (one small job over the already-pruned, already-
    filtered dim scan — it is broadcast-sized by definition) shrink the
    fact's kept-file list through the DML victim planner before the scan
    is built — the :func:`join_runtime_pruned` composition, fused so a
    star query gets predicate pruning + broadcast choice + dynamic file
    pruning from ONE call. The dim here is a governed manifest scan
    pinned to one version — deterministic — so no checkpoint is needed
    against double evaluation (unlike ``join_runtime_pruned``'s
    arbitrary-DataFrame dim). ``runtime_prune=False`` opts out (keeps
    planning action-free).

    ``choice_out``, if supplied, receives {strategy, left, right} plus,
    when runtime pruning engaged, {"runtime_prune": {side, files_total,
    files_kept, path}} for audit/explain surfaces."""

    def _plan_side(spec: "str | dict"):
        s = {"path": spec} if isinstance(spec, str) else dict(spec)
        path = s["path"]
        # Pin the snapshot FIRST: the estimate that drives the decision
        # and the scan that executes it must describe the same version —
        # a commit landing in between must not split them. Planning each
        # side exactly once also avoids re-walking every prune source
        # twice per side.
        m = read_manifest(path, s.get("version"))
        v = m["version"]
        files, pred_fn = _plan_scan(
            path, m, s.get("eq"), s.get("ranges"), s.get("nulls")
        )
        est = _estimate_from_plan(path, m, files, with_bytes=True)
        return est, path, m, v, files, pred_fn

    def _build(path, m, files, pred_fn) -> DataFrame:
        return _scan_files(spark, path, m, files, pred_fn())

    lest, lpath, lm, lv, lfiles, lpred = _plan_side(left)
    rest, rpath, rm, rv, rfiles, rpred = _plan_side(right)
    strategy = join_strategy(
        lest, rest, how, bytes_threshold, rows_threshold
    )
    if choice_out is not None:
        choice_out.update(
            {"strategy": strategy, "left": lest, "right": rest}
        )
    # Name-keyed joins only: an arbitrary Column join expression gives
    # the pruner no column to plan keys from (and may not even be an
    # equi-join) — those keep the strategy hint but skip file pruning.
    key = (
        on
        if isinstance(on, str)
        else (
            on[0]
            if isinstance(on, (list, tuple))
            and on
            and isinstance(on[0], str)
            else None
        )
    )
    if (
        runtime_prune
        and key is not None
        and strategy in ("broadcast_left", "broadcast_right")
    ):
        fact_side = "right" if strategy == "broadcast_left" else "left"
        if how.lower().replace("_", "") in _RUNTIME_PRUNABLE_SIDE[fact_side]:
            dim_df = _build(
                *(
                    (lpath, lm, lfiles, lpred)
                    if strategy == "broadcast_left"
                    else (rpath, rm, rfiles, rpred)
                )
            )
            fpath, fm, _fv, ffiles = (
                (rpath, rm, rv, rfiles)
                if fact_side == "right"
                else (lpath, lm, lv, lfiles)
            )
            fs, rel = get_fs(fpath)
            # NULL dim keys never equi-match, so dropping them is sound
            # for pruning — and required: a None in the collected key
            # set would TypeError against str/int file stats.
            keys_df, _key_set, affected = _plan_source_keys(
                spark,
                fm,
                fs,
                rel,
                dim_df.select(key).where(F.col(key).isNotNull()),
                key,
            )
            keys_df.unpersist()
            hit = set(affected)
            kept = [f for f in ffiles if f in hit]
            if choice_out is not None:
                choice_out["runtime_prune"] = {
                    "side": fact_side,
                    "files_total": len(ffiles),
                    "files_kept": len(kept),
                    "path": (
                        "collected" if _key_set is not None else "stats-join"
                    ),
                }
            if fact_side == "right":
                rfiles = kept
            else:
                lfiles = kept
    ldf = _build(lpath, lm, lfiles, lpred)
    rdf = _build(rpath, rm, rfiles, rpred)
    if strategy == "broadcast_left":
        ldf = F.broadcast(ldf)
    elif strategy == "broadcast_right":
        rdf = F.broadcast(rdf)
    return ldf.join(rdf, on, how)


def join_star(
    spark: SparkSession,
    fact: "str | dict",
    dims: "list[dict]",
    bytes_threshold: int = BROADCAST_BYTES_THRESHOLD,
    rows_threshold: "int | None" = None,
    choice_out: "dict | None" = None,
    runtime_prune: bool = True,
) -> DataFrame:
    """N-table STAR join planned from manifest metadata — the multi-way
    generalization of :func:`join_auto` (Spark's CBO star-schema
    detection / Iceberg-reported statistics, as one library call).

    ``fact`` is a table path or scan spec; each dim in ``dims`` is
    ``{"path", "on", "how"="inner", "eq"/"ranges"/"nulls"/"version"}``
    where ``on`` is the join key name (or ``[fact_key, ...]`` composite;
    must resolve in the ACCUMULATED frame — snowflake arms, dims keyed
    by another dim's column, are ordered after the dim that supplies
    their key automatically; an unsatisfiable spec raises).

    The planner, all before Spark sees a plan:

    * plans every side ONCE (:func:`_plan_scan` + post-pruning
      :func:`scan_estimate` sizes),
    * ORDERS the dims — only INNER arms reorder (ascending by
      pruned-fraction ``rows_kept/rows_total`` then absolute rows,
      within each contiguous listed run): a dim its predicates cut to
      5% of its keys removes ~95% of fact rows, so the most-selective
      inner join runs while the frame is widest-to-shrink. Non-inner
      arms keep their LISTED position — right/full outer joins do not
      commute with inner joins (they preserve dim-side rows with a
      null-padded fact), so they are barriers nothing reorders across;
      left/semi/anti arms are pinned conservatively and only move when
      a snowflake dependency forces it,
    * BROADCASTS every dim whose post-pruning size qualifies
      (:func:`join_strategy` per dim against the fact — respecting
      build-side legality per join type); a dim that does not qualify
      joins unhinted (AQE keeps its freedom),
    * RUNTIME-PRUNES the fact's file list by the key sets of every
      broadcast-chosen, fact-filtering, fact-keyed dim (the
      :func:`join_auto` mechanism) — the intersections compose, so a
      star filtered on two dims reads only files that may match BOTH,
    * propagates SNOWFLAKE cuts transitively (deepest arm first): a
      broadcast inner/semi arm keyed on another dim's column shrinks
      that parent dim's file list (``hop_pruned`` in ``choice_out``),
      and each fact-keyed dim's key frame is semi-joined by its
      qualifying children before fact pruning — so a filter on the leaf
      of a 3-hop chain reaches the fact's file list.

    The fact is scanned ONCE: every dim joins onto the accumulated
    frame. ``choice_out`` receives {"fact": est, "order": [dim key
    names in join order], "dims": [{key, path, how, strategy, est,
    pruned}, ...] in join order}.
    """
    fspec = {"path": fact} if isinstance(fact, str) else dict(fact)
    fpath = fspec["path"]
    fm = read_manifest(fpath, fspec.get("version"))
    ffiles, fpred_fn = _plan_scan(
        fpath, fm, fspec.get("eq"), fspec.get("ranges"), fspec.get("nulls")
    )
    fest = _estimate_from_plan(fpath, fm, ffiles, with_bytes=True)

    planned = []
    for d in dims:
        s = dict(d)
        path = s["path"]
        how = (s.get("how") or "inner").lower()
        on = s["on"]
        key = on if isinstance(on, str) else on[0]
        m = read_manifest(path, s.get("version"))
        v = m["version"]
        files, pred_fn = _plan_scan(
            path, m, s.get("eq"), s.get("ranges"), s.get("nulls")
        )
        est = _estimate_from_plan(path, m, files, with_bytes=True)
        # Per-dim broadcast decision: the DIM broadcasts iff the join
        # type admits a right-side build AND its post-pruning size
        # qualifies — deliberately NOT join_strategy's two-sided pick,
        # which could hand the hint to a small FACT (a star never
        # broadcasts the fact: it is scanned once and every dim folds
        # onto it).
        sides = _BROADCASTABLE_SIDES.get(
            how, _BROADCASTABLE_SIDES.get(how.replace("_", ""), ())
        )
        b = est.get("bytes_kept")
        qualifies = (
            b <= bytes_threshold
            if b is not None
            else (
                rows_threshold is not None
                and est["rows_kept_upper"] <= rows_threshold
            )
        )
        strat = (
            "broadcast_right" if "right" in sides and qualifies else "shuffle"
        )
        total = est["rows_total_upper"] or 1
        sel = est["rows_kept_upper"] / total
        planned.append(
            {
                "key": key, "on": on, "how": how, "path": path, "m": m,
                "v": v, "files": files, "pred_fn": pred_fn, "est": est,
                "strategy": strat, "sel": sel,
                "has_pred": bool(
                    s.get("eq") or s.get("ranges") or s.get("nulls")
                ),
            }
        )

    hkey = lambda h: h.replace("_", "")  # noqa: E731
    filtering = lambda h: hkey(h) in _RUNTIME_PRUNABLE_SIDE["left"]  # noqa: E731
    # Only INNER (and cross) arms commute freely, so only they reorder
    # by selectivity. A right/full OUTER arm preserves DIM-side rows
    # with a null-padded fact, so (F ⟖ d1) ⋈ d2 ≠ (F ⋈ d2) ⟖ d1 —
    # those arms are BARRIERS nothing may cross. Left/semi/anti arms
    # also keep their listed position (conservative: they are filters /
    # preserved-side enrichments the user sequenced deliberately), but
    # the dependency resolver may still order around them when a
    # snowflake key forces it — that reordering is semantics-preserving
    # for filter-shaped arms, unlike for barriers.
    reorderable = lambda h: hkey(h) in ("inner", "cross")  # noqa: E731
    barrier = lambda h: hkey(h) in (  # noqa: E731
        "right", "rightouter", "full", "fullouter", "outer",
    )
    # A join type PROJECTS the dim's columns iff they appear in the
    # output frame — semi/anti add no columns, so a snowflake arm keyed
    # through one must fail to order, loudly, at plan time (it would
    # fail at runtime anyway, with a worse error).
    projects = lambda h: hkey(h) not in (  # noqa: E731
        "semi", "leftsemi", "anti", "leftanti",
    )

    def _keys(p) -> "list[str]":
        return [p["on"]] if isinstance(p["on"], str) else list(p["on"])

    # Desired order: LISTED order, with each contiguous run of inner
    # arms re-sorted most-selective-first (a dim its predicates cut to
    # 5% of its keys removes ~95% of fact rows, so it folds while the
    # frame is widest-to-shrink). Non-inner arms never move here.
    prio: "list[int]" = []
    run: "list[int]" = []

    def _flush_run():
        run.sort(
            key=lambda i: (
                planned[i]["sel"],
                planned[i]["est"]["rows_kept_upper"],
            )
        )
        prio.extend(run)
        run.clear()

    for i in range(len(planned)):
        if reorderable(planned[i]["how"]):
            run.append(i)
        else:
            _flush_run()
            prio.append(i)
    _flush_run()
    fact_cols = {n for n, _t in (fm.get("schema") or [])} or None
    # ...subject to DEPENDENCIES: a snowflake arm's key lives on another
    # dim, so it can only fold once some earlier join supplied the
    # column. Greedy: take the highest-priority dim whose keys are
    # already available — but never hoist anything past an unsatisfied
    # BARRIER arm (that reorder would change results, so the spec is
    # unsatisfiable as written). An unsatisfiable spec fails loudly —
    # a silent skip would drop a join.
    if fact_cols is None:
        order = prio
    else:
        avail = set(fact_cols)
        order = []
        pending = list(prio)
        while pending:
            pick = None
            skipped = False  # any unsatisfied arm passed over this scan
            for i in pending:
                if set(_keys(planned[i])) <= avail:
                    if barrier(planned[i]["how"]) and skipped:
                        # Picking the barrier would DEFER the skipped
                        # arm (listed before it) to after it — the same
                        # forbidden reorder as hoisting across: fail.
                        break
                    pick = i
                    break
                if barrier(planned[i]["how"]):
                    break  # nothing may be hoisted across this arm
                skipped = True
            if pick is None:
                missing = sorted(
                    k
                    for i in pending
                    for k in _keys(planned[i])
                    if k not in avail
                )
                raise ValueError(
                    f"join_star: no join order satisfies keys {missing}: "
                    "not provided by the fact or any earlier dim that "
                    "projects them (semi/anti arms add no columns; "
                    "right/full outer arms cannot be reordered across)"
                )
            pending.remove(pick)
            order.append(pick)
            if projects(planned[pick]["how"]):
                avail |= {
                    n for n, _t in (planned[pick]["m"].get("schema") or [])
                }
    # A snowflake arm X (keyed on a column another dim supplies) may
    # hop-prune its PARENT when X filters the rows that carry the
    # parent's columns: parent rows whose key value matches no X key
    # produce no output through an inner/semi X regardless of the
    # parent's own join type, so dropping parent FILES provably
    # containing none of X's keys is result-preserving.
    hop_filtering = lambda h: hkey(h) in ("inner", "semi", "leftsemi")  # noqa: E731
    # A child arm only carries a CUT worth propagating when its own
    # predicates pruned something, or a grandchild's hop already shrank
    # its file list. A predicate-free dense dim (sel 1.0) can only prune
    # via referential gaps — not worth the planning job per arm.
    cuts = lambda p: p.get("has_pred") or (  # noqa: E731
        (p.get("hop_pruned") or {}).get("files_kept", 1)
        < (p.get("hop_pruned") or {}).get("files_before", 1)
    )

    def _parent_of(pos: int) -> "int | None":
        """Order-position of the UNIQUE earlier arm that projects this
        arm's key (None when fact-keyed, unresolvable, or ambiguous —
        two providers would make the hop direction a guess)."""
        key = planned[order[pos]]["key"]
        if fact_cols is None or key in fact_cols:
            return None
        providers = [
            q
            for q in range(pos)
            if projects(planned[order[q]]["how"])
            and key in {n for n, _t in (planned[order[q]]["m"].get("schema") or [])}
        ]
        return providers[0] if len(providers) == 1 else None

    if runtime_prune and ffiles:
        ffs, frel = get_fs(fpath)
        # Pass 1 — snowflake hops, DEEPEST ARM FIRST (reverse join
        # order): each qualifying child's key set shrinks its parent's
        # file list, so by the time the parent acts — as a parent one
        # hop up, or as a fact-pruner in pass 2 — its scan already
        # carries the cut. A 3-hop chain C->B->A->fact propagates end
        # to end (the r9 stretch ask).
        children: "dict[int, list[int]]" = {}
        for pos in range(len(order) - 1, -1, -1):
            p = planned[order[pos]]
            par = _parent_of(pos)
            if par is None:
                continue
            if p["strategy"] != "broadcast_right":
                continue
            if not hop_filtering(p["how"]):
                continue
            # ALWAYS registered for pass 2's row-level semi (it folds
            # into the fact-prune key job that runs anyway, and a
            # predicate-free child can still cut via referential gaps —
            # a leaf holding 2 of the parent's 50 keys). Only the
            # DEDICATED pass-1 planning job is gated on an actual cut.
            children.setdefault(par, []).append(pos)
            if not cuts(p):
                continue  # unfiltered child: no cut to hop-propagate
            parent = planned[order[par]]
            if not parent["files"]:
                continue
            pfs, prel = get_fs(parent["path"])
            child_df = _star_build(spark, p)
            keys_df, _ks, affected = _plan_source_keys(
                spark,
                parent["m"],
                pfs,
                prel,
                child_df.select(p["key"]).where(
                    F.col(p["key"]).isNotNull()
                ),
                p["key"],
            )
            keys_df.unpersist()
            hit = set(affected)
            kept = [f for f in parent["files"] if f in hit]
            parent["hop_pruned"] = {
                "by": p["key"],
                "files_before": len(parent["files"]),
                "files_kept": len(kept),
            }
            parent["files"] = kept
        # Pass 2 — fact-keyed arms prune the FACT's file list. Each
        # dim's key frame is additionally semi-joined by its qualifying
        # children (row-level transitive cut: only parent keys that
        # SURVIVE the child's filter count — file-level hop pruning
        # above is the coarse version of the same reduction).
        for pos, i in enumerate(order):
            p = planned[i]
            if p["strategy"] != "broadcast_right":
                continue
            if not filtering(p["how"]):
                continue
            if fact_cols is not None and p["key"] not in fact_cols:
                continue  # snowflake arm: keys live on another dim
            dim_df = _star_build(spark, p)
            for cpos in children.get(pos, ()):
                c = planned[order[cpos]]
                dim_df = dim_df.join(
                    F.broadcast(_star_build(spark, c).select(c["key"])),
                    c["key"],
                    "semi",
                )
            # NULL keys dropped: sound (NULL never equi-matches) and
            # required (None would TypeError in the stats compare).
            keys_df, _ks, affected = _plan_source_keys(
                spark,
                fm,
                ffs,
                frel,
                dim_df.select(p["key"]).where(F.col(p["key"]).isNotNull()),
                p["key"],
            )
            keys_df.unpersist()
            hit = set(affected)
            kept = [f for f in ffiles if f in hit]
            p["pruned"] = {
                "files_before": len(ffiles), "files_kept": len(kept),
            }
            ffiles = kept
            if not ffiles:
                break

    out = _scan_files(spark, fpath, fm, ffiles, fpred_fn())
    for i in order:
        p = planned[i]
        ddf = _star_build(spark, p)
        if p["strategy"] == "broadcast_right":
            ddf = F.broadcast(ddf)
        out = out.join(ddf, p["on"], p["how"])
    if choice_out is not None:
        choice_out.update(
            {
                "fact": fest,
                "order": [planned[i]["key"] for i in order],
                # A LIST in join order (two dims may share a join key —
                # users and tags both on user_id — so a key-indexed
                # dict would silently drop a decision).
                "dims": [
                    {
                        "key": planned[i]["key"],
                        "path": planned[i]["path"],
                        "how": planned[i]["how"],
                        "strategy": planned[i]["strategy"],
                        "est": planned[i]["est"],
                        "pruned": planned[i].get("pruned"),
                        "hop_pruned": planned[i].get("hop_pruned"),
                    }
                    for i in order
                ],
            }
        )
    return out


def _star_build(spark: SparkSession, p: dict) -> DataFrame:
    """Materialize one planned :func:`join_star` side as a DataFrame."""
    return _scan_files(spark, p["path"], p["m"], p["files"], p["pred_fn"]())


# Join types where dropping fact files that match NO dim key cannot
# change the result: the join must FILTER the fact side. A fact-
# preserving join (left outer with the fact on the left, full outer)
# keeps unmatched fact rows, so file pruning would delete live output.
_FACT_FILTERING_JOINS = {
    "inner",
    "leftsemi",
    "left_semi",
    "semi",
    "rightouter",
    "right_outer",
    "right",
}


def join_runtime_pruned(
    spark: SparkSession,
    fact_path: str,
    dim: DataFrame,
    fact_key: str,
    dim_key: "str | None" = None,
    how: str = "inner",
    version: int | None = None,
    choice_out: "dict | None" = None,
) -> DataFrame:
    """Runtime-filter join — dynamic file pruning (Spark's DPP /
    Iceberg-Delta runtime min-max filtering) as a library call: the dim
    side's DISTINCT join keys are planned FIRST, the fact's file list
    shrinks to the files that may contain ANY dim key, and only the
    survivors are read through the merge-on-read view.

    Planning reuses the DML victim planner (:func:`_plan_source_keys`):
    under ``DML_COLLECT_KEY_LIMIT`` distinct keys the set collects and
    prunes via stats+blooms per key (:func:`_candidate_files`); above
    it, the per-file [min,max] stats frame (one row per FILE) broadcasts
    against the distinct keys as a range join and only surviving file
    NAMES are collected — driver materialization is bounded by the file
    count at ANY dim size. Files without usable stats are kept, so the
    result equals the unpruned join row-for-row by construction.

    At 100 TB this is the plan a star-schema query needs: a dim filtered
    to one region prunes the fact to the files whose key ranges the
    surviving dim keys actually touch — BEFORE the scan, where Spark's
    own DPP only prunes hive-style partition directories.

    ``how`` must be a fact-FILTERING join (inner / left_semi / right
    outer): a fact-preserving join keeps fact rows with no dim match, so
    skipping their files would drop live output — refused loudly."""
    if how.lower().replace("_", "") not in {
        h.replace("_", "") for h in _FACT_FILTERING_JOINS
    }:
        raise ValueError(
            f"join_runtime_pruned: {how!r} preserves unmatched fact rows; "
            "file pruning is only sound for fact-filtering joins "
            "(inner / left_semi / right_outer)"
        )
    dkey = dim_key or fact_key
    # The dim evaluates TWICE — once for key planning, once in the join.
    # Pin it first (same hazard merge_into checkpoints its source for):
    # a nondeterministic or concurrently-growing dim must not present
    # different keys to the pruner than to the join, or pruning would
    # silently drop matching fact files.
    dim = dim.localCheckpoint()
    fs, rel = get_fs(fact_path)
    m = read_manifest(fact_path, version)
    keys_df, _key_set, affected = _plan_source_keys(
        spark, m, fs, rel, dim.select(F.col(dkey).alias(fact_key)), fact_key
    )
    keys_df.unpersist()
    if choice_out is not None:
        choice_out.update(
            {
                "files_total": len(m["files"]),
                "files_kept": len(affected),
                "path": "collected" if _key_set is not None else "stats-join",
            }
        )
    if not affected:
        fact = _snapshot_df(spark, fact_path, m).limit(0)
    else:
        fact = _with_deletes(spark, fact_path, m, affected)
    if fact_key == dkey:
        return fact.join(dim, fact_key, how)
    return fact.join(dim, fact[fact_key] == dim[dkey], how)


def restore_tag(path: str, name: str) -> int:
    """RESTORE TABLE TO a NAMED snapshot: :func:`resolve_tag` +
    :func:`restore` — "roll back to the state training run X consumed"
    as one call. The tag's pin (vacuum keeps its files) is what makes
    this reliable long after the version left the retention window."""
    return restore(path, resolve_tag(path, name))


def schema_diff(path: str, from_version: int, to_version: int) -> dict:
    """Metadata-only schema drift between two versions:
    ``{added, removed, renamed, retyped}`` — added/removed as
    ``[name, type]`` pairs, renamed as ``old -> new`` (recovered from
    the column-mapping delta, so a rename is NOT misreported as a
    remove+add), retyped as ``name: [old_type, new_type]``. Reads two
    manifest JSONs and nothing else — the audit primitive a pipeline
    runs before consuming a table whose producer may have evolved it.
    """
    a = read_manifest(path, from_version)
    b = read_manifest(path, to_version)
    sa = {n: t for n, t in (a.get("schema") or [])}
    sb = {n: t for n, t in (b.get("schema") or [])}
    ca = a.get("colmap") or {}
    cb = b.get("colmap") or {}
    # A rename keeps the PHYSICAL name: logical names whose physical
    # identity matches across versions are renames, not add+remove.
    phys_a = {ca.get(n, n): n for n in sa}
    phys_b = {cb.get(n, n): n for n in sb}
    renamed = {
        phys_a[p]: phys_b[p]
        for p in set(phys_a) & set(phys_b)
        if phys_a[p] != phys_b[p]
    }
    renamed_old = set(renamed)
    renamed_new = set(renamed.values())
    added = sorted(
        [n, sb[n]] for n in sb if n not in sa and n not in renamed_new
    )
    removed = sorted(
        [n, sa[n]] for n in sa if n not in sb and n not in renamed_old
    )
    retyped = {
        n: [sa[n], sb[n]]
        for n in set(sa) & set(sb)
        if sa[n] != sb[n]
    }
    for old, new in renamed.items():
        if sa.get(old) != sb.get(new):
            retyped[new] = [sa.get(old), sb.get(new)]
    return {
        "added": added,
        "removed": removed,
        "renamed": dict(sorted(renamed.items())),
        "retyped": dict(sorted(retyped.items())),
    }
