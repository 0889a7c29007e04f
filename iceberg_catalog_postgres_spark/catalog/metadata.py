"""Iceberg-style table metadata: a self-describing JSON document in the
warehouse, pointed to by the catalog row.

Mirrors what the reference consumes from iceberg-rs: ``TableMetadata``
deserialized from object-store JSON (``/root/reference/src/catalog/mod.rs:
217-220``), ``SchemaV2 { schema_id, identifier_field_ids, fields }`` with
stable integer field ids (``mod.rs:431-453``). The schema codec maps Iceberg
fields <-> Spark ``StructType``, keeping the field id in
``StructField.metadata["iceberg.field-id"]`` (SURVEY §1.3).

Snapshots up to MANIFEST_THRESHOLD file entries embed their file lists
directly; beyond that they spill to content-addressed manifest chunk files
whose refs carry a summary (Iceberg's manifest-list indirection), with
additive commits reusing the parent's chunks plus one delta chunk — metadata
JSON stays O(snapshots) and commit cost O(delta) at any file count. Scan
planners never pick a layout themselves: ``Table._data_entries`` is the one
walk over a snapshot's data entries. Given a chunk test it skips chunks by
summary and loads the rest; otherwise it walks the per-file dicts, which a
chunked snapshot inflates once. The pointer-swap commit protocol
(the part the reference actually implements) is identical either way.
"""

from __future__ import annotations

import hashlib
import json
import re
import posixpath
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

FIELD_ID_KEY = "iceberg.field-id"


def encode_bound(v):
    """JSON-safe encoding of a column bound value (Iceberg manifests store
    lower/upper bounds as typed binary; JSON metadata stores them with a type
    tag instead). Returns None for types we don't carry bounds for (binary,
    nested) — the column then simply has no manifest bound and scan
    planning falls back to the footer for it. Decimal encodes since r16."""
    import datetime as _dt

    if isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        # Canonical form: UTC wall-clock, NAIVE (Iceberg stores micros since
        # epoch UTC). Footer stats for timestamptz columns arrive tz-aware;
        # TIMESTAMP_NTZ arrives naive — normalizing here makes bound
        # comparisons uniform for callers passing naive UTC datetimes.
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return {"$t": "ts", "v": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"$t": "date", "v": v.isoformat()}
    import decimal as _decimal

    if isinstance(v, _decimal.Decimal):
        # r16: decimal bounds (Iceberg stores the unscaled int + scale;
        # the canonical string round-trips exactly)
        return {"$t": "dec", "v": str(v)}
    return None


def decode_bound(v):
    import datetime as _dt

    if isinstance(v, dict):
        if v.get("$t") == "ts":
            return _dt.datetime.fromisoformat(v["v"])
        if v.get("$t") == "date":
            return _dt.date.fromisoformat(v["v"])
        if v.get("$t") == "dec":
            import decimal as _decimal

            return _decimal.Decimal(v["v"])
    return v

_PRIMITIVES: dict[str, DataType] = {
    "boolean": BooleanType(),
    "int": IntegerType(),
    "long": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "date": DateType(),
    "timestamp": TimestampNTZType(),
    "timestamptz": TimestampType(),
    "string": StringType(),
    "uuid": StringType(),
    "binary": BinaryType(),
}
_TO_ICEBERG = {type(v): k for k, v in reversed(_PRIMITIVES.items())}


#: Iceberg's parameterized decimal primitive: ``decimal(P, S)`` (r16 —
#: prices/amounts are decimals in every warehouse schema; without this
#: the mapping refused the type entirely)
_DECIMAL_RE = re.compile(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$")


def iceberg_type_to_spark(t) -> DataType:
    if isinstance(t, str):
        if t in _PRIMITIVES:
            return _PRIMITIVES[t]
        m = _DECIMAL_RE.match(t)
        if m:
            from pyspark.sql.types import DecimalType

            return DecimalType(int(m.group(1)), int(m.group(2)))
        raise ValueError(f"unsupported iceberg type: {t}")
    if isinstance(t, dict) and t.get("type") == "list":
        return ArrayType(iceberg_type_to_spark(t["element"]), t.get("element-required", False) is False)
    if isinstance(t, dict) and t.get("type") == "struct":
        return StructType([_field_to_spark(f) for f in t["fields"]])
    raise ValueError(f"unsupported iceberg type: {t}")


def spark_type_to_iceberg(t: DataType):
    if type(t) in _TO_ICEBERG:
        return _TO_ICEBERG[type(t)]
    from pyspark.sql.types import DecimalType

    if isinstance(t, DecimalType):
        return f"decimal({t.precision}, {t.scale})"
    if isinstance(t, ArrayType):
        return {"type": "list", "element": spark_type_to_iceberg(t.elementType)}
    if isinstance(t, StructType):
        return {"type": "struct", "fields": [_field_to_iceberg(i + 1, f) for i, f in enumerate(t.fields)]}
    raise ValueError(f"unsupported spark type: {t}")


def _field_to_spark(f: dict) -> StructField:
    return StructField(
        f["name"],
        iceberg_type_to_spark(f["type"]),
        nullable=not f.get("required", False),
        metadata={FIELD_ID_KEY: f["id"]},
    )


def _field_to_iceberg(fid: int, f: StructField) -> dict:
    meta = f.metadata or {}
    return {
        "id": int(meta.get(FIELD_ID_KEY, fid)),
        "name": f.name,
        "required": not f.nullable,
        "type": spark_type_to_iceberg(f.dataType),
    }


def schema_to_iceberg(schema: StructType, schema_id: int = 1, identifier_field_ids: list[int] | None = None) -> dict:
    """Spark StructType -> Iceberg SchemaV2 dict (mod.rs:431-453 shape)."""
    return {
        "schema-id": schema_id,
        "identifier-field-ids": identifier_field_ids or [],
        "type": "struct",
        "fields": [_field_to_iceberg(i + 1, f) for i, f in enumerate(schema.fields)],
    }


def schema_to_spark(iceberg_schema: dict) -> StructType:
    return StructType([_field_to_spark(f) for f in iceberg_schema["fields"]])


# Snapshots whose total file-entry count exceeds this spill their file lists
# to separate manifest JSON files (Iceberg's manifest-list indirection): the
# metadata document stays O(snapshots), not O(snapshots x files), so a
# 10^7-file table's pointer swap still reads/writes a small JSON. Additive
# commits (append, MOR delete) REUSE the parent snapshot's chunks and add one
# delta chunk — O(delta) write cost per commit, like Iceberg's manifest reuse.
MANIFEST_THRESHOLD = 100


MANIFEST_CHUNK_READS = 0
"""Diagnostic: number of manifest chunk files fetched from the object store.
Tests assert planning reads only the chunks whose manifest-list summary
intersects the predicate (Iceberg's two-level pruning)."""


def write_metadata(store, md, label: str) -> str:
    """Write a metadata document (table or view) to a fresh, never-reused
    ``<location>/metadata/<label>-<uuid>.metadata.json`` and return that
    path. The one place a metadata file name is composed; swapping the
    catalog pointer to it is the caller's business."""
    location = posixpath.join(
        md.location, "metadata", f"{label}-{uuid.uuid4().hex}.metadata.json"
    )
    store.put(location, md.to_json().encode())
    return location


def write_manifest(store, table_location: str, entries: list[dict]) -> str:
    """Write one manifest chunk ({"entries": [{path, kind, seq}]}) under
    ``<location>/metadata/``, content-addressed so identical chunks are
    written once and shared across snapshots."""
    payload = json.dumps({"entries": entries}).encode()
    digest = hashlib.sha256(payload).hexdigest()[:20]
    rel = posixpath.join(table_location, "metadata", f"manifest-{digest}.json")
    if not store.exists(rel):
        store.put(rel, payload)
    return rel


def load_chunk(store, rel: str) -> dict:
    """Fetch + parse one manifest chunk, counting the read (the unit of
    metadata I/O that two-level pruning exists to avoid)."""
    global MANIFEST_CHUNK_READS
    MANIFEST_CHUNK_READS += 1
    return json.loads(store.get(rel).decode("utf-8"))


def chunk_path(c) -> str:
    """Chunk ref -> path. Refs are dicts ``{"path", "summary"}`` since r5;
    plain strings are the pre-summary legacy form (still readable)."""
    return c["path"] if isinstance(c, dict) else c


def chunk_summary(entries: list[dict]) -> dict:
    """Manifest-LIST summary of one chunk (Iceberg's ``manifest_file``
    struct: partition summaries + counts), computed once at write time from
    the entries the writer already holds. Planning consults these to skip
    whole chunks without fetching them — at 10^7 files in 10^4 chunks a
    selective query touches O(matching chunks) of metadata, not all of it.

    - ``counts``: entries per kind (data / eq-delete / pos-delete).
    - ``records``: record_count totals per kind; None when any entry of
      that kind lacks a count (fold must then load chunks).
    - ``bounds``: per PHYSICAL column ``{"lo", "hi", "n"}`` — the merged
      [min, max] over the chunk's data entries plus how many entries carry
      a bound for that name. A chunk is range-skippable only when every
      data entry is covered (n sums to the data count) and the merged
      range is provably disjoint. ``hi`` None = truncated string upper
      (lower-side pruning only).
    - ``partitions``: per partition column ``{"values", "n"}`` — distinct
      identity-partition values (capped at 16 distinct; larger cardinality
      is omitted and the chunk is never partition-skipped).
    - ``nullness``: per column ``{"all_null", "no_null", "n"}`` — how many
      data entries with a known null count are entirely / never null. A
      chunk is IS-NULL-skippable when every data entry is ``no_null``, and
      IS-NOT-NULL-skippable when every entry is ``all_null``.
    """
    counts = {"data": 0, "eq-delete": 0, "pos-delete": 0}
    records = {"data": 0, "eq-delete": 0, "pos-delete": 0}
    rec_ok = {"data": True, "eq-delete": True, "pos-delete": True}
    nbytes = {"data": 0, "eq-delete": 0, "pos-delete": 0}
    bytes_ok = {"data": True, "eq-delete": True, "pos-delete": True}
    bounds: dict = {}
    part_vals: dict = {}
    part_counts: dict = {}
    nullness: dict = {}
    for e in entries:
        kind = e["kind"]
        counts[kind] += 1
        st = e.get("stats") or {}
        rc = st.get("record_count")
        if rc is None:
            rec_ok[kind] = False
        else:
            records[kind] += rc
        fb = st.get("file_size_bytes")
        if fb is None:
            bytes_ok[kind] = False
        else:
            nbytes[kind] += fb
        if kind != "data":
            continue
        for col, nc in (st.get("null_counts") or {}).items():
            if nc is None:
                continue
            cur = nullness.setdefault(col, {"all_null": 0, "no_null": 0, "n": 0})
            cur["n"] += 1
            if nc == 0:
                cur["no_null"] += 1
            if rc is not None and nc == rc:
                cur["all_null"] += 1
        for col, b in (st.get("bounds") or {}).items():
            lo = decode_bound(b[0])
            hi = None if b[1] is None else decode_bound(b[1])
            nan_free = ((st.get("nan_counts") or {}).get(col) == 0)
            cur = bounds.get(col)
            if cur is None:
                bounds[col] = [lo, hi, 1, 1 if nan_free else 0]
            else:
                cur[0] = min(cur[0], lo)
                cur[1] = None if (cur[1] is None or hi is None) else max(cur[1], hi)
                cur[2] += 1
                cur[3] += 1 if nan_free else 0
        for col, v in (e.get("partition") or {}).items():
            part_vals.setdefault(col, set()).add(v)
            part_counts[col] = part_counts.get(col, 0) + 1
    return {
        "counts": counts,
        "records": {k: (records[k] if rec_ok[k] else None) for k in counts},
        "bytes": {k: (nbytes[k] if bytes_ok[k] else None) for k in counts},
        # "nan0": how many covered entries PROVE NaN-freeness for the
        # column (r16) — a float-bound chunk skip requires nan0 == the
        # data count; pre-r16 chunks lack the key and never float-skip
        "bounds": {
            col: {
                "lo": encode_bound(b[0]),
                "hi": None if b[1] is None else encode_bound(b[1]),
                "n": b[2],
                **({"nan0": b[3]} if isinstance(b[0], float) or isinstance(b[1], float) else {}),
            }
            for col, b in bounds.items()
        },
        "partitions": {
            col: {
                "values": sorted(vs, key=lambda x: (x is None, x)),
                "n": part_counts[col],
            }
            for col, vs in part_vals.items()
            if len(vs) <= 16
        },
        "nullness": nullness,
    }


#: target data entries per manifest chunk for full rewrites and
#: consolidation (r16): bounded chunks keep each summary TIGHT, so the
#: two-level prune skips whole chunks — one 10^7-entry chunk has a
#: summary covering everything (always intersects, always fetched),
#: exactly what rewrite_manifests exists to avoid.
MANIFEST_CHUNK_TARGET = 2000


def cluster_entries(entries: list[dict]) -> list[dict]:
    """Order entries so same-partition / adjacent-range files land in the
    SAME chunk (r16 — Iceberg rewrite_manifests' spec-clustering): sort by
    canonical partition tuple, then by the lexicographically-first bounded
    column's lower bound, then path. Clustered chunks give each summary a
    narrow partition-value set and bound range — the two-level prune then
    fetches O(matching chunks) instead of all of them. Falls back to
    path order if bound types are mixed across entries (never raises)."""

    def _key(e):
        part = e.get("partition") or {}
        pkey = tuple(
            sorted((k, "" if v is None else str(v)) for k, v in part.items())
        )
        b = ((e.get("stats") or {}).get("bounds")) or {}
        if b:
            col = sorted(b)[0]
            return (pkey, col, decode_bound(b[col][0]), e["path"])
        return (pkey, "", None, e["path"])

    try:
        return sorted(entries, key=_key)
    except TypeError:  # cross-entry bound-type mismatch: cluster by path
        return sorted(entries, key=lambda e: e["path"])


def split_entries(entries: list[dict], target: int | None = None) -> list[list[dict]]:
    """Cluster then slice into ``ceil(n / target)`` balanced chunks."""
    target = MANIFEST_CHUNK_TARGET if target is None else max(1, target)
    ordered = cluster_entries(entries)
    if not ordered:
        return [[]]
    n_chunks = max(1, -(-len(ordered) // target))
    size = -(-len(ordered) // n_chunks)
    return [ordered[i : i + size] for i in range(0, len(ordered), size)]


def make_chunk(store, table_location: str, entries: list[dict]) -> dict:
    """Write a chunk and return its manifest-list ref (path + summary)."""
    return {
        "path": write_manifest(store, table_location, entries),
        "summary": chunk_summary(entries),
    }


def snapshot_entries(snapshot: "Snapshot") -> list[dict]:
    """Flatten a snapshot's file lists into manifest entries."""
    out = []
    for path in snapshot.data_files:
        entry = {"path": path, "kind": "data", "seq": snapshot.file_seqs.get(path, 0)}
        if path in snapshot.file_partitions:
            entry["partition"] = snapshot.file_partitions[path]
        if path in snapshot.file_stats:
            entry["stats"] = snapshot.file_stats[path]
        out.append(entry)
    for path in snapshot.delete_files:
        entry = {"path": path, "kind": "eq-delete", "seq": snapshot.file_seqs.get(path, 0)}
        if path in snapshot.file_stats:
            entry["stats"] = snapshot.file_stats[path]
        out.append(entry)
    for path in snapshot.position_delete_files:
        entry = {"path": path, "kind": "pos-delete", "seq": snapshot.file_seqs.get(path, 0)}
        if path in snapshot.file_stats:
            entry["stats"] = snapshot.file_stats[path]
        out.append(entry)
    return out


def plan_manifests(
    store,
    table_location: str,
    operation: str,
    prev_snapshot: "Snapshot | None",
    staged_entries: list[dict] | None,
    snapshot: "Snapshot",
) -> None:
    """Decide the manifest layout for ``snapshot`` (mutates
    ``snapshot.manifests``): inline up to ``MANIFEST_THRESHOLD`` entries;
    above it, reuse the parent's chunks plus one delta chunk for additive
    operations (append / MOR delete with ``staged_entries``), else one full
    rewrite. A chunked snapshot's in-memory file lists are then put in
    chunk order (``Snapshot.order_like_chunks``), so the committed table
    equals what a reader inflating ``manifests`` loads."""
    total = (
        len(snapshot.data_files)
        + len(snapshot.delete_files)
        + len(snapshot.position_delete_files)
    )
    if total <= MANIFEST_THRESHOLD:
        snapshot.manifests = None
        return
    additive = (
        operation in ("append", "delete", "rowdelta")
        and staged_entries is not None
        and prev_snapshot is not None
        and prev_snapshot.manifests
    )
    if additive:
        # delta chunks are usually small; a bulk load bigger than the
        # chunk target still splits so no single commit can produce an
        # unprunable mega-chunk (r16)
        parts = (
            [staged_entries]
            if len(staged_entries) <= MANIFEST_CHUNK_TARGET
            else split_entries(staged_entries)
        )
        snapshot.manifests = [
            *prev_snapshot.manifests,
            *(make_chunk(store, table_location, d) for d in parts),
        ]
        snapshot.order_like_chunks(parts, prev_snapshot)
    else:
        # full rewrite: CLUSTERED bounded chunks (r16) — one chunk per
        # ~MANIFEST_CHUNK_TARGET entries, partition/bounds-sorted so each
        # summary stays selective at 10^7 files
        parts = split_entries(snapshot_entries(snapshot))
        snapshot.manifests = [
            make_chunk(store, table_location, part) for part in parts
        ]
        snapshot.order_like_chunks(parts)


def new_snapshot_id(existing: set[int] | None = None) -> int:
    """Collision-safe snapshot id: uuid4 entropy masked to 63 bits (Iceberg
    ids are positive int64), re-rolled against ``existing``. Epoch-ms-based
    ids (the round-1 scheme) collide for commits landing in the same
    millisecond, and snapshot_by_id/time-travel resolve by first match — a
    collision silently returns the wrong snapshot."""
    existing = existing or set()
    while True:
        sid = uuid.uuid4().int & ((1 << 63) - 1)
        if sid and sid not in existing:
            return sid


def normalize_sort_specs(columns: list) -> list[tuple]:
    """Canonicalize a sort-column list to ``(name, direction, null_order)``
    triples (r17). Accepted entry shapes: a bare column name (ascending),
    a ``(name, direction)`` pair, or a ``(name, direction, null_order)``
    triple; direction/null_order are case-insensitive with ``nulls_last``
    and ``NULLS LAST`` spellings tolerated. Omitted null order follows
    Iceberg's SortField default: asc -> nulls-first, desc -> nulls-last."""
    out = []
    for entry in columns:
        if isinstance(entry, str):
            name, direction, null_order = entry, "asc", None
        else:
            parts = list(entry)
            if not 1 <= len(parts) <= 3:
                raise ValueError(f"bad sort spec {entry!r}")
            name = str(parts[0])
            direction = str(parts[1]).lower() if len(parts) > 1 and parts[1] else "asc"
            null_order = (
                str(parts[2]).lower().replace("_", "-").replace(" ", "-")
                if len(parts) > 2 and parts[2] else None
            )
        if direction not in ("asc", "desc"):
            raise ValueError(
                f"sort direction must be asc or desc, got {direction!r} on {name!r}"
            )
        if null_order is None:
            null_order = "nulls-first" if direction == "asc" else "nulls-last"
        if null_order in ("first", "last"):
            null_order = f"nulls-{null_order}"
        if null_order not in ("nulls-first", "nulls-last"):
            raise ValueError(
                f"null order must be nulls-first or nulls-last, got "
                f"{null_order!r} on {name!r}"
            )
        out.append((name, direction, null_order))
    return out


def sort_spec_sql(spec: tuple) -> str:
    """Canonical SQL spelling of one ``(name, direction, null_order)``
    sort field — defaults omitted (``k``, ``k DESC``, ``k NULLS LAST``,
    ``k DESC NULLS FIRST``) so SHOW CREATE TABLE stays minimal and
    round-trips through the WRITE ORDERED BY parser."""
    name, direction, null_order = spec
    default_nulls = "nulls-first" if direction == "asc" else "nulls-last"
    s = name
    if direction == "desc":
        s += " DESC"
    if null_order != default_nulls:
        s += " NULLS " + null_order.split("-")[1].upper()
    return s


class Snapshot:
    """One table version. Small snapshots inline their file lists in the
    metadata JSON; manifest-backed snapshots (``manifests`` set) keep only
    chunk refs there and inflate the lists LAZILY — loading a 10^7-file
    snapshot reads zero chunks until something actually needs the full file
    list. Planning walks that pass a chunk test to ``Table._data_entries``
    (and the summary folds of ``record_count``) never do. Field semantics:

    - ``data_files``: table-relative parquet paths.
    - ``delete_files``: equality-delete files (Iceberg v2 merge-on-read) —
      readers anti-join them against data files whose sequence number is
      LOWER than the delete file's (v2 scoping, so a key re-inserted after
      the delete is not masked).
    - ``position_delete_files``: (file_path, row_index) pair files;
      anti-joined against the scan's ``_metadata`` columns, so an
      arbitrary-predicate DELETE commits O(matched rows).
    - ``deletion_vectors``: Iceberg v3 deletion vectors — data-file rel
      path -> {"puffin", "offset", "length", "cardinality"} addressing one
      roaring-bitmap blob per file in a Puffin sidecar (catalog/dv.py). At
      most one vector per data file; a new vector SUPERSEDES all earlier
      positional deletes for that file. Applied file-scoped (no sequence
      check — the vector names the exact file it deletes from).
    - ``first_row_ids``: Iceberg v3 row lineage — data-file rel path ->
      first_row_id. A row's stable id is ``first_row_id + its position in
      the file`` (the inheritance model: zero per-row write cost); ids are
      assigned at commit from ``TableMetadata.next_row_id`` and never
      reused.
    - ``sequence_number``: commit order (Iceberg v2 data sequence number).
    - ``file_seqs``: path -> sequence number at which the file was added;
      the basis for delete scoping and rename resolution.
    - ``manifests``: chunk refs ``{"path", "summary"}`` (legacy: plain
      path strings, no summary) when the file lists spilled out of the
      metadata JSON (``plan_manifests``).
    - ``file_partitions``: path -> {column: string value} identity-partition
      tuple; scan planning prunes on these from metadata alone.
    - ``file_stats``: path -> {"record_count", "bounds", "null_counts"} —
      the Iceberg manifest metrics model, written at commit time from
      footers the writer already has in hand. Bounds are
      encode_bound-tagged; string bounds are truncated Iceberg-style
      (upper = prefix with last code point incremented, or null when
      un-incrementable). Statless legacy files simply have no entry.
    """

    def __init__(
        self,
        snapshot_id: int,
        timestamp_ms: int,
        operation: str,  # "append" | "overwrite" | "delete"
        data_files: list[str] | None = None,
        summary: dict | None = None,
        delete_files: list[str] | None = None,
        position_delete_files: list[str] | None = None,
        sequence_number: int = 0,
        file_seqs: dict | None = None,
        manifests: list | None = None,
        file_partitions: dict | None = None,
        file_stats: dict | None = None,
        store=None,
        deferred: bool = False,
        deletion_vectors: dict | None = None,
        first_row_ids: dict | None = None,
    ):
        self.snapshot_id = snapshot_id
        self.timestamp_ms = timestamp_ms
        self.operation = operation
        self.summary = summary or {}
        self.sequence_number = sequence_number
        self.manifests = manifests
        self._data_files = list(data_files or [])
        self._delete_files = list(delete_files or [])
        self._position_delete_files = list(position_delete_files or [])
        self._file_seqs = dict(file_seqs or {})
        self._file_partitions = dict(file_partitions or {})
        self._file_stats = dict(file_stats or {})
        # Iceberg v3 deletion vectors: data-file rel path -> {"puffin",
        # "offset", "length", "cardinality"} (see catalog/dv.py). Kept
        # INLINE in the metadata JSON even for manifest-backed snapshots —
        # the map is bounded by the pending-delete set (at most one entry
        # per file with live deletes), the analog of v3's delete manifests.
        self._deletion_vectors = dict(deletion_vectors or {})
        # Iceberg v3 row lineage: data-file rel path -> first_row_id (the
        # inheritance model — a row's id is first_row_id + its position in
        # the file; assigned at commit from TableMetadata.next_row_id, never
        # reused). Inline like deletion_vectors: one long per file.
        self._first_row_ids = dict(first_row_ids or {})
        self._store = store
        self._inflated = not deferred
        if deferred and store is None:
            raise ValueError("deferred snapshot requires an object store to load")

    def _ensure_inflated(self) -> None:
        if self._inflated:
            return
        for c in self.manifests or []:
            doc = load_chunk(self._store, chunk_path(c))
            for e in doc["entries"]:
                kind, path = e["kind"], e["path"]
                if kind == "data":
                    self._data_files.append(path)
                elif kind == "eq-delete":
                    self._delete_files.append(path)
                else:
                    self._position_delete_files.append(path)
                self._file_seqs[path] = e.get("seq", 0)
                if e.get("partition") is not None:
                    self._file_partitions[path] = e["partition"]
                if e.get("stats") is not None:
                    self._file_stats[path] = e["stats"]
        self._inflated = True

    def order_like_chunks(self, parts: list[list[dict]], parent=None) -> None:
        """Re-order the per-kind file lists to what inflating ``manifests``
        yields: ``parent``'s lists (an additive layout reusing its chunks),
        then the entries of ``parts``, the chunks just written, in order."""
        lists = {
            "data": list(parent.data_files) if parent else [],
            "eq-delete": list(parent.delete_files) if parent else [],
            "pos-delete": list(parent.position_delete_files) if parent else [],
        }
        for part in parts:
            for e in part:
                lists[e["kind"]].append(e["path"])
        self._data_files = lists["data"]
        self._delete_files = lists["eq-delete"]
        self._position_delete_files = lists["pos-delete"]

    def deferred(self, store) -> "Snapshot":
        """This snapshot as ``from_json`` loads it: itself when inline or not
        yet inflated, else a copy that keeps the chunk refs and the inline
        maps and reads its file lists from ``store`` again on demand."""
        if self.manifests is None or not self._inflated:
            return self
        return Snapshot(
            snapshot_id=self.snapshot_id,
            timestamp_ms=self.timestamp_ms,
            operation=self.operation,
            summary=self.summary,
            sequence_number=self.sequence_number,
            manifests=self.manifests,
            store=store,
            deferred=True,
            deletion_vectors=self._deletion_vectors,
            first_row_ids=self._first_row_ids,
        )

    @property
    def data_files(self) -> list[str]:
        self._ensure_inflated()
        return self._data_files

    @property
    def delete_files(self) -> list[str]:
        self._ensure_inflated()
        return self._delete_files

    @property
    def position_delete_files(self) -> list[str]:
        self._ensure_inflated()
        return self._position_delete_files

    def id_diffable(self) -> bool:
        """True when this snapshot's row-level changes are reconstructible
        from row lineage (the batch changelog and both stream readers share
        this predicate — r13): a MERGE's explicit ``lineage-diff`` claim,
        or a manual overwrite that MATERIALIZED row ids
        (``overwrite_dataframe(lineage_materialized=True)``). Plain
        overwrites refuse loudly everywhere; ``lineage-preserving``
        (compaction) is checked FIRST by every caller — zero changes, no
        diff runs."""
        summary = self.summary or {}
        return summary.get("lineage-diff") == "true" or (
            self.operation == "overwrite"
            and summary.get("lineage-materialized") == "true"
        )

    @property
    def file_seqs(self) -> dict:
        self._ensure_inflated()
        return self._file_seqs

    @property
    def file_partitions(self) -> dict:
        self._ensure_inflated()
        return self._file_partitions

    @property
    def file_stats(self) -> dict:
        self._ensure_inflated()
        return self._file_stats

    @property
    def deletion_vectors(self) -> dict:
        """Deletion-vector map (inline — never deferred to chunks)."""
        return self._deletion_vectors

    @property
    def first_row_ids(self) -> dict:
        """Row-lineage map: rel path -> first_row_id (inline)."""
        return self._first_row_ids

    def chunk_refs(self) -> list[dict] | None:
        """Manifest-list refs WITH summaries, or None when the snapshot is
        inline / legacy (some chunk lacks a summary). A non-None return means
        two-level pruning is available: ``Table._data_entries`` then skips
        chunks by summary; on None it walks the per-file dicts."""
        if not self.manifests:
            return None
        refs = [c for c in self.manifests if isinstance(c, dict) and c.get("summary")]
        return refs if len(refs) == len(self.manifests) else None

    def chunk_records(self, kind: str = "data") -> int | None:
        """Snapshot record count folded from manifest-list summaries —
        O(#chunks), ZERO chunk reads. None when unavailable (inline or
        legacy snapshot, or a chunk whose entries lacked counts)."""
        refs = self.chunk_refs()
        if refs is None:
            return None
        total = 0
        for c in refs:
            r = c["summary"]["records"].get(kind)
            if r is None:
                return None
            total += r
        return total

    def to_json(self) -> dict:
        common = {
            "snapshot-id": self.snapshot_id,
            "timestamp-ms": self.timestamp_ms,
            "operation": self.operation,
            "sequence-number": self.sequence_number,
            "summary": self.summary,
        }
        # deletion vectors and row-lineage firsts stay inline in the JSON in
        # both layouts; keys are omitted when empty so pre-v3 documents stay
        # byte-identical
        dv = (
            {"deletion-vectors": self._deletion_vectors}
            if self._deletion_vectors
            else {}
        )
        fr = (
            {"first-row-ids": self._first_row_ids} if self._first_row_ids else {}
        )
        if self.manifests is not None:
            return {**common, "manifests": list(self.manifests), **dv, **fr}
        return {
            **common,
            "data-files": self.data_files,
            "delete-files": self.delete_files,
            "position-delete-files": self.position_delete_files,
            "file-seqs": self.file_seqs,
            "file-partitions": self.file_partitions,
            "file-stats": self.file_stats,
            **dv,
            **fr,
        }

    @staticmethod
    def from_json(d: dict, store=None) -> "Snapshot":
        if "manifests" in d:
            # Deferred: chunk refs only — no chunk is fetched until a caller
            # actually needs the inflated file lists.
            return Snapshot(
                snapshot_id=d["snapshot-id"],
                timestamp_ms=d["timestamp-ms"],
                operation=d["operation"],
                summary=d.get("summary", {}),
                sequence_number=d.get("sequence-number", 0),
                manifests=list(d["manifests"]),
                store=store,
                deferred=True,
                deletion_vectors=dict(d.get("deletion-vectors", {})),
                first_row_ids=dict(d.get("first-row-ids", {})),
            )
        return Snapshot(
            snapshot_id=d["snapshot-id"],
            timestamp_ms=d["timestamp-ms"],
            operation=d["operation"],
            data_files=list(d["data-files"]),
            summary=d.get("summary", {}),
            delete_files=list(d.get("delete-files", [])),
            position_delete_files=list(d.get("position-delete-files", [])),
            sequence_number=d.get("sequence-number", 0),
            file_seqs=dict(d.get("file-seqs", {})),
            file_partitions=dict(d.get("file-partitions", {})),
            file_stats=dict(d.get("file-stats", {})),
            deletion_vectors=dict(d.get("deletion-vectors", {})),
            first_row_ids=dict(d.get("first-row-ids", {})),
        )


@dataclass
class TableMetadata:
    """The JSON document a catalog pointer resolves to (mod.rs:217-220)."""

    table_uuid: str
    location: str
    schema: dict  # iceberg SchemaV2 dict
    snapshots: list[Snapshot] = field(default_factory=list)
    current_snapshot_id: int | None = None
    last_updated_ms: int = 0
    format_version: int = 1
    properties: dict = field(default_factory=dict)
    partition_spec: list = field(default_factory=list)
    """Identity-transform partition columns (Iceberg PartitionSpec, identity
    only): data files record their tuple in ``Snapshot.file_partitions`` and
    scans prune on it from metadata alone."""
    refs: dict = field(default_factory=dict)
    """Named snapshot refs (Iceberg branches/tags): name -> {"snapshot-id",
    "type": "tag" | "branch"}. Tags pin a snapshot forever (reproducible
    reads — e.g. the exact corpus version a training run used); the "main"
    branch is implicit (current_snapshot_id). Carried through every commit
    unchanged; tags survive expire_snapshots (their snapshots are retained)."""
    partition_spec_log: list = field(default_factory=list)
    """PRIOR partition specs, oldest first (each a list of entry strings):
    ``commit_partition_spec`` appends the superseded spec, so the document
    can serialize the full ``partition-specs`` history with real spec-ids
    instead of pretending the current spec is the only one that ever
    existed (r7 doc-fidelity gap: evolved tables' mixed-spec file layout
    was misdescribed by a single spec-id-0 entry)."""
    sort_orders: list = field(default_factory=lambda: [{"order-id": 0, "fields": []}])
    """Spec ``sort-orders``: structured sort-order documents. Order 0 is
    the reserved unsorted order; ``append_dataframe(sort_by=...)`` writes
    register their identity/asc/nulls-first order here (id-based
    ``source-id`` fields, rename-proof) and advance
    ``default_sort_order_id``. Z-ordered writes are NOT expressible as an
    Iceberg sort order (the spec's sort transforms are the partition
    transforms; Morton interleaving is not one) — they record
    ``write.zorder-columns`` in properties instead, a documented
    deviation."""
    default_sort_order_id: int = 0
    metadata_log: list = field(default_factory=list)
    """Spec ``metadata-log``: previous metadata-file locations, oldest first
    ({"timestamp-ms", "metadata-file"}). Appended by the snapshot-commit and
    metadata-edit paths (the spec allows the log to be partial/truncated);
    lets an operator walk pointer history without the catalog's row, and
    metadata GC uses it to find unreferenced older documents."""
    statistics: list = field(default_factory=list)
    """Spec top-level ``statistics``: statistics-file entries
    ({"snapshot-id", "statistics-path", "file-size-in-bytes",
    "file-footer-size-in-bytes", "blob-metadata": [...]}) pointing at real
    Puffin sidecar files (``puffin.py``). ``update_column_ndv`` writes one
    entry carrying the HLL NDV sketches per analyzed column — this is what
    exposes the CBO inputs to a foreign engine; the ``ndv.*`` properties
    remain the engine-native mirror (r9, VERDICT item 3). Entries are
    replaced per ANALYZE run; superseded Puffin files age out with
    metadata GC."""
    next_row_id: int = 0
    """Iceberg v3 ROW LINEAGE high-water mark (spec ``next-row-id``): the
    first row id the next data commit may assign. Appends assign each new
    file a ``first_row_id`` (see ``Snapshot.first_row_ids``) and advance
    this by the file's record count; ids are NEVER reused, so a row's
    ``_row_id = first_row_id + row position`` is stable for the row's
    lifetime (the v3 inheritance model — no per-row storage cost on
    write)."""
    partition_statistics: list = field(default_factory=list)
    """Spec top-level ``partition-statistics``: PartitionStatisticsFile
    entries ({"snapshot-id", "statistics-path", "file-size-in-bytes"})
    pointing at real PARQUET files in the spec's partition-statistics
    schema (unified partition struct + per-partition data/delete
    record+file counts, ``maintenance.update_partition_statistics``).
    One entry, replaced per run (r9)."""

    #: metadata-log entries retained per document (spec-sanctioned
    #: truncation, mirroring write.metadata.previous-versions-max)
    METADATA_LOG_MAX = 100

    def with_log_entry(
        self, prev_location: str | None, prev_timestamp_ms: int
    ) -> "TableMetadata":
        """Append the about-to-be-replaced metadata file to the log (call on
        the NEXT document with the CURRENT doc's location + timestamp)."""
        from dataclasses import replace as _dc_replace

        if not prev_location:
            return self
        entry = {
            "timestamp-ms": prev_timestamp_ms,
            "metadata-file": prev_location,
        }
        log = [*self.metadata_log, entry][-self.METADATA_LOG_MAX:]
        return _dc_replace(self, metadata_log=log)

    def with_history_deferred(self, store) -> "TableMetadata":
        """This document with every snapshot but the current one as
        ``from_json`` loads it (``Snapshot.deferred``). A table handed back
        by a commit then holds the file lists of its current snapshot only,
        not one inflated set per commit it was built through."""
        from dataclasses import replace as _dc_replace

        return _dc_replace(
            self,
            snapshots=[
                s if s.snapshot_id == self.current_snapshot_id else s.deferred(store)
                for s in self.snapshots
            ],
        )

    @staticmethod
    def new(
        location: str,
        schema: StructType,
        identifier_field_ids: list[int] | None = None,
        partition_spec: list | None = None,
    ) -> "TableMetadata":
        return TableMetadata(
            table_uuid=str(uuid.uuid4()),
            location=location,
            schema=schema_to_iceberg(schema, identifier_field_ids=identifier_field_ids),
            last_updated_ms=int(time.time() * 1000),
            partition_spec=list(partition_spec or []),
        )

    @property
    def spark_schema(self) -> StructType:
        return schema_to_spark(self.schema)

    def current_snapshot(self) -> Snapshot | None:
        if self.current_snapshot_id is None:
            return None
        return next(s for s in self.snapshots if s.snapshot_id == self.current_snapshot_id)

    def current_data_files(self) -> list[str]:
        snap = self.current_snapshot()
        return snap.data_files if snap else []

    def current_delete_files(self) -> list[str]:
        snap = self.current_snapshot()
        return snap.delete_files if snap else []

    def current_position_delete_files(self) -> list[str]:
        snap = self.current_snapshot()
        return snap.position_delete_files if snap else []

    def current_deletion_vectors(self) -> dict:
        snap = self.current_snapshot()
        return dict(snap.deletion_vectors) if snap else {}

    def current_first_row_ids(self) -> dict:
        snap = self.current_snapshot()
        return dict(snap.first_row_ids) if snap else {}

    def current_file_seqs(self) -> dict:
        snap = self.current_snapshot()
        return dict(snap.file_seqs) if snap else {}

    def current_file_partitions(self) -> dict:
        snap = self.current_snapshot()
        return dict(snap.file_partitions) if snap else {}

    def current_file_stats(self) -> dict:
        snap = self.current_snapshot()
        return dict(snap.file_stats) if snap else {}

    def next_sequence_number(self) -> int:
        return max((s.sequence_number for s in self.snapshots), default=0) + 1

    def snapshot_ids(self) -> set[int]:
        return {s.snapshot_id for s in self.snapshots}

    def with_snapshot(self, snapshot: Snapshot) -> "TableMetadata":
        """Functional update: new metadata doc with the snapshot appended and
        made current. Old doc is never mutated — time travel stays possible."""
        from dataclasses import replace as _dc_replace

        return _dc_replace(
            self,
            snapshots=[*self.snapshots, snapshot],
            current_snapshot_id=snapshot.snapshot_id,
            last_updated_ms=int(time.time() * 1000),
            properties=dict(self.properties),
            partition_spec=list(self.partition_spec),
            partition_spec_log=list(self.partition_spec_log),
            refs=dict(self.refs),
        )

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        raise ValueError(f"no such snapshot: {snapshot_id}")

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot | None:
        """Latest snapshot committed at or before ``timestamp_ms`` (the
        ``FOR SYSTEM_TIME AS OF`` resolution rule): snapshots are appended
        in commit order, so this is the last one with timestamp_ms <= t.
        None when the table had no snapshot yet at that time."""
        found = None
        for s in self.snapshots:
            if s.timestamp_ms <= timestamp_ms:
                found = s
        return found

    def _last_column_id(self) -> int:
        """Max assigned field id anywhere in the schema tree (spec
        ``last-column-id``) — new columns must be assigned ids above it."""

        def walk(t) -> int:
            if isinstance(t, dict):
                m = 0
                for f in t.get("fields", []):
                    m = max(m, int(f.get("id", 0)), walk(f.get("type")))
                # map/list element types carry ids in full Iceberg; ours keep
                # ids only on struct fields — walk nested structs
                for k in ("element", "value", "key"):
                    if k in t:
                        m = max(m, walk(t[k]))
                return m
            return 0

        return walk(self.schema)

    def partition_specs_json(self) -> list[dict]:
        """The spec's structured ``partition-specs`` form of our compact
        entry-string specs: the FULL spec history (``partition_spec_log`` +
        current), spec-ids by commit position, with Iceberg's global
        partition-field-id assignment — ids start at 1000, increase across
        specs, and the SAME (source, transform) entry reuses its id in
        every spec that carries it. Each field carries ``source-id``
        (resolved against the schema — rename follow-through rewrites
        historical entries too, so current names resolve), ``field-id``,
        ``name`` (Iceberg naming convention: ``col``, ``col_bucket``,
        ``col_trunc``, ``col_day``, …) and ``transform`` (``identity`` /
        ``bucket[N]`` / ``truncate[W]`` / ``year|month|day|hour``).

        An unresolvable source column is a LOUD error for the current spec
        (pre-r8 it serialized an invalid ``source-id: -1`` — ADVICE r7); a
        historical spec whose source was later dropped is omitted from the
        emitted list (its spec-id is skipped, preserving the ids of the
        specs around it) — a documented deviation, matching the drop-guard
        asymmetry (current-spec sources cannot be dropped, historical-only
        ones can)."""
        from .table import parse_partition_field  # local: avoids cycle at import

        ids = {f["name"]: int(f["id"]) for f in self.schema.get("fields", [])}
        # Assign global partition-field ids for EVERY entry of EVERY spec
        # up front, independently of source-id resolution: a historical
        # spec whose source was dropped breaks out of the emission loop
        # mid-spec, and id assignment inside that loop would shift the ids
        # of entries in LATER specs between serializations (ADVICE r8) —
        # violating Iceberg's stable partition-field-id invariant.
        field_ids: dict[str, int] = {}  # entry string -> global partition-field id
        for spec in [*self.partition_spec_log, self.partition_spec]:
            for entry in spec:
                if entry not in field_ids:
                    field_ids[entry] = 1000 + len(field_ids)
        specs = []
        for spec_id, spec in enumerate([*self.partition_spec_log, self.partition_spec]):
            is_current = spec_id == len(self.partition_spec_log)
            fields = []
            for entry in spec:
                kind, param, col = parse_partition_field(entry)
                if kind == "identity":
                    transform, name = "identity", col
                elif kind == "bucket":
                    transform, name = f"bucket[{param}]", f"{col}_bucket"
                elif kind == "truncate":
                    transform, name = f"truncate[{param}]", f"{col}_trunc"
                else:  # year/month/day/hour
                    transform, name = kind, f"{col}_{kind}"
                source_id = ids.get(col)
                if source_id is None:
                    if is_current:
                        raise ValueError(
                            f"partition-spec entry {entry!r}: source column "
                            f"{col!r} not found in the table schema — refusing "
                            "to serialize an invalid source-id"
                        )
                    fields = None  # historical spec with a dropped source
                    break
                fields.append(
                    {
                        "source-id": source_id,
                        "field-id": field_ids[entry],
                        "name": name,
                        "transform": transform,
                    }
                )
            if fields is not None:
                specs.append({"spec-id": spec_id, "fields": fields})
        return specs

    #: Every metadata document names its manifest-format deviation loudly: the
    #: snapshot file lists are content-addressed JSON chunks, NOT the spec's
    #: avro manifest-list/manifest files (no avro library in this
    #: environment), so a foreign Iceberg reader must refuse the table —
    #: which it will, since Snapshot JSON carries no ``manifest-list`` key —
    #: instead of mis-reading it. The property makes the refusal diagnosable.
    MANIFEST_FORMAT_PROP = "format.manifest-implementation"
    MANIFEST_FORMAT = "icp-spark-json-chunks-v1"

    def to_json(self) -> str:
        specs_json = self.partition_specs_json()
        # snapshot-log must be a valid history OF THE CURRENT SNAPSHOT: after
        # a rollback re-points current-snapshot-id, entries for snapshots
        # committed after it are not part of current's history and
        # spec-compliant readers reject them (ADVICE r7) — truncate at the
        # current snapshot's commit-order position (the spec explicitly
        # allows a partial log). No current snapshot -> empty log.
        cur_idx = None
        if self.current_snapshot_id is not None:
            cur_idx = next(
                (
                    i
                    for i, s in enumerate(self.snapshots)
                    if s.snapshot_id == self.current_snapshot_id
                ),
                None,
            )
        log_snaps = self.snapshots[: cur_idx + 1] if cur_idx is not None else []
        return json.dumps(
            {
                # ---- Iceberg TableMetadata spec fields (public v1/v2 doc
                # layout; schemas/partition-specs/sort-orders/snapshot-log
                # per the v2 shape) ----
                "format-version": self.format_version,
                "table-uuid": self.table_uuid,
                "location": self.location,
                "last-sequence-number": max(
                    (s.sequence_number for s in self.snapshots), default=0
                ),
                "last-updated-ms": self.last_updated_ms,
                "last-column-id": self._last_column_id(),
                "schemas": [self.schema],
                "current-schema-id": int(self.schema.get("schema-id", 0)),
                "partition-specs": specs_json,
                # spec-ids are commit-positional; the current spec's id is
                # its position after the full prior-spec log
                "default-spec-id": len(self.partition_spec_log),
                # highest partition-field id EVER assigned, not the max of
                # the emitted specs: an omitted historical spec (dropped
                # source) still consumed ids, and this value must never
                # decrease across serializations (ADVICE r8)
                "last-partition-id": 999
                + len(
                    {
                        e
                        for sp in [*self.partition_spec_log, self.partition_spec]
                        for e in sp
                    }
                ),
                "sort-orders": self.sort_orders,
                "default-sort-order-id": self.default_sort_order_id,
                "current-snapshot-id": self.current_snapshot_id,
                "snapshots": [s.to_json() for s in self.snapshots],
                # commit-order walk up to (and including) the CURRENT
                # snapshot — see log_snaps above; abandoned post-rollback
                # snapshots stay in "snapshots" (time travel) but leave the
                # log, which must describe current's lineage only
                "snapshot-log": [
                    {"timestamp-ms": s.timestamp_ms, "snapshot-id": s.snapshot_id}
                    for s in log_snaps
                ],
                "metadata-log": self.metadata_log,
                "statistics": self.statistics,
                "partition-statistics": self.partition_statistics,
                # v3 row lineage; omitted until the first lineage-assigning
                # commit so pre-lineage documents stay byte-identical
                **({"next-row-id": self.next_row_id} if self.next_row_id else {}),
                "properties": {
                    self.MANIFEST_FORMAT_PROP: self.MANIFEST_FORMAT,
                    **self.properties,
                },
                "refs": self.refs,
                # ---- engine-native keys (kept alongside; foreign readers
                # ignore unknown keys, ours reads these) ----
                "schema": self.schema,
                "partition-spec": self.partition_spec,
                "partition-spec-log": self.partition_spec_log,
            },
        )

    def with_sort_order(self, columns: list) -> "TableMetadata":
        """Register (or reuse) the identity sort order for ``columns`` and
        make it the default — called by sorted writes
        (``append_dataframe(sort_by=...)``) and ``replace_sort_order`` so
        the document's ``sort-orders`` reflects how the data was actually
        distributed. Each entry is a column name (ascending, Iceberg's
        default nulls-first) or a ``(name, direction[, null_order])``
        spec — ``direction`` in {asc, desc}, ``null_order`` in
        {nulls-first, nulls-last}, defaulting per Iceberg's SortField rule
        (asc -> nulls-first, desc -> nulls-last; r17). Fields are id-based
        (``source-id``), so later renames don't invalidate the order."""
        from dataclasses import replace as _dc_replace

        specs = normalize_sort_specs(columns)
        ids = {f["name"]: int(f["id"]) for f in self.schema.get("fields", [])}
        missing = [c for c, _, _ in specs if c not in ids]
        if missing:
            raise ValueError(f"sort_by column(s) not in schema: {missing}")
        fields = [
            {
                "transform": "identity",
                "source-id": ids[c],
                "direction": direction,
                "null-order": null_order,
            }
            for c, direction, null_order in specs
        ]
        for o in self.sort_orders:
            if o["fields"] == fields:
                if self.default_sort_order_id == o["order-id"]:
                    return self
                return _dc_replace(self, default_sort_order_id=o["order-id"])
        order_id = max(o["order-id"] for o in self.sort_orders) + 1
        return _dc_replace(
            self,
            sort_orders=[*self.sort_orders, {"order-id": order_id, "fields": fields}],
            default_sort_order_id=order_id,
        )

    def default_sort_fields(self) -> list[tuple]:
        """``(name, direction, null_order)`` triples of the default sort
        order, resolved through the CURRENT schema (fields are id-based,
        so this survives renames). Empty for the unsorted order 0, or when
        any field is non-identity or its source column no longer exists
        (drop) — callers then skip applying the order (r16/r17, ``ALTER
        TABLE ... WRITE ORDERED BY``)."""
        order = next(
            (o for o in self.sort_orders
             if o["order-id"] == self.default_sort_order_id),
            None,
        )
        if not order or not order["fields"]:
            return []
        names = {int(f["id"]): f["name"] for f in self.schema.get("fields", [])}
        cols = []
        for f in order["fields"]:
            if f.get("transform") != "identity":
                return []
            name = names.get(int(f["source-id"]))
            if name is None:
                return []
            cols.append((
                name,
                str(f.get("direction", "asc")),
                str(f.get("null-order",
                          "nulls-first" if f.get("direction", "asc") == "asc"
                          else "nulls-last")),
            ))
        return cols

    def default_sort_columns(self) -> list[str]:
        """Source column NAMES of the default sort order (direction
        dropped — see :meth:`default_sort_fields` for the full triples)."""
        return [name for name, _, _ in self.default_sort_fields()]

    def identifier_field_names(self) -> list[str]:
        """Column NAMES of the schema's ``identifier-field-ids`` (the
        declared row identity, ``mod.rs:433``), resolved through the
        CURRENT schema — ids, not names, so renames follow through (r17).
        Empty when no identity is declared. An id no longer in the schema
        raises: identifier columns cannot be dropped (commit_schema
        enforces it), so a dangling id means corrupted metadata."""
        ids = [int(i) for i in self.schema.get("identifier-field-ids", [])]
        if not ids:
            return []
        names = {int(f["id"]): f["name"] for f in self.schema.get("fields", [])}
        missing = [i for i in ids if i not in names]
        if missing:
            raise ValueError(
                f"identifier-field-ids reference unknown field ids {missing}"
            )
        return [names[i] for i in ids]

    @staticmethod
    def from_json(text: str, store=None) -> "TableMetadata":
        d = json.loads(text)
        schema = d.get("schema")
        if schema is None:
            # spec-layout-only document: resolve current schema from the list
            cur = d.get("current-schema-id", 0)
            schema = next(
                s for s in d["schemas"] if int(s.get("schema-id", 0)) == int(cur)
            )
        return TableMetadata(
            table_uuid=d["table-uuid"],
            location=d["location"],
            schema=schema,
            snapshots=[Snapshot.from_json(s, store=store) for s in d.get("snapshots", [])],
            current_snapshot_id=d.get("current-snapshot-id"),
            last_updated_ms=d.get("last-updated-ms", 0),
            format_version=d.get("format-version", 1),
            properties=d.get("properties", {}),
            partition_spec=list(d.get("partition-spec", [])),
            partition_spec_log=list(d.get("partition-spec-log", [])),
            sort_orders=list(d.get("sort-orders", [{"order-id": 0, "fields": []}])),
            default_sort_order_id=int(d.get("default-sort-order-id", 0)),
            refs=dict(d.get("refs", {})),
            metadata_log=list(d.get("metadata-log", [])),
            statistics=list(d.get("statistics", [])),
            partition_statistics=list(d.get("partition-statistics", [])),
            next_row_id=int(d.get("next-row-id", 0)),
        )
