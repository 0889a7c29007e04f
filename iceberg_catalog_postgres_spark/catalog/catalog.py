"""PostgresCatalog port: the reference's complete operator surface (SURVEY
§2.A, ``/root/reference/src/catalog/mod.rs``), re-expressed in Python with
parameterized SQL and a pluggable backend.

State model (identical to the reference, mod.rs:18-30):
- one pointer table ``iceberg_tables`` with composite PK
  (catalog_name, table_namespace, table_name) — DDL at mod.rs:365-385;
- all table data + metadata live in the warehouse (object store, mod.rs:29);
  Postgres/SQLite holds only VARCHAR pointers. This split is what keeps the
  catalog O(tables), not O(data), at 100 TB.

Concurrency: Iceberg's optimistic compare-and-swap commit (mod.rs:296-347) —
``UPDATE ... SET metadata_location=? WHERE ... AND metadata_location=?``;
affected-rowcount 1 means committed, 0 means a concurrent writer won. Unlike
the reference (which errors with no retry, mod.rs:342-343), ``Transaction``
adds a bounded retry loop that re-reads, re-applies, and re-attempts.
"""

from __future__ import annotations

import os
import posixpath
import uuid
from dataclasses import dataclass

from iceberg_catalog_postgres_spark.catalog.backend import SqlBackend, backend_from_url
from iceberg_catalog_postgres_spark.catalog.metadata import TableMetadata

CATALOG_TABLE_NAME = "iceberg_tables"  # mod.rs:18
CATALOG_NAME_COLUMN = "catalog_name"  # mod.rs:19
TABLE_NAMESPACE_COLUMN = "table_namespace"  # mod.rs:21
TABLE_NAME_COLUMN = "table_name"  # mod.rs:20
METADATA_LOCATION_COLUMN = "metadata_location"  # mod.rs:22
PREVIOUS_METADATA_LOCATION_COLUMN = "previous_metadata_location"  # mod.rs:23


class CatalogError(Exception):
    pass


class CommitConflictError(CatalogError):
    """CAS UPDATE affected 0 rows — a concurrent writer committed first
    (mod.rs:342-343)."""


class NoSuchTableError(CatalogError):
    """Pointer lookup matched 0 rows (mod.rs:229-232)."""


class TableAlreadyExistsError(CatalogError):
    """ON CONFLICT DO NOTHING inserted 0 rows (mod.rs:285-288)."""


class CorruptCatalogError(CatalogError):
    """More rows than the PK permits (mod.rs:233-235) — defensive check."""


def commit_retries(properties: dict) -> int:
    """Iceberg's ``commit.retry.num-retries`` property (default 5): how many
    times a lost pointer CAS is retried — by the single-table loop, the
    multi-table swap and view replaces alike."""
    return int(properties.get("commit.retry.num-retries", 5))


@dataclass(frozen=True)
class TableIdentifier:
    """``ns.name`` dotted identifier (mod.rs:8, parse at mod.rs:93)."""

    namespace: tuple[str, ...]
    name: str

    @staticmethod
    def parse(s: str) -> "TableIdentifier":
        parts = s.split(".")
        if len(parts) < 2 or not all(parts):
            raise ValueError(f"identifier must be 'ns[.ns2].name': {s!r}")
        return TableIdentifier(namespace=tuple(parts[:-1]), name=parts[-1])

    @property
    def namespace_str(self) -> str:
        return ".".join(self.namespace)

    def __str__(self) -> str:  # Display impl, mod.rs:79
        return f"{self.namespace_str}.{self.name}"


class ObjectStore:
    """Warehouse file accessor — the reference's ``Arc<dyn ObjectStore>``
    (mod.rs:15, 29) reduced to get/put/exists on paths.

    Local-filesystem implementation; on a cluster the same interface fronts
    s3a:// / abfss:// via Hadoop FS. Metadata documents are small (KBs), so
    driver-side I/O here never becomes a data-plane bottleneck.
    """

    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)

    def resolve(self, path: str) -> str:
        return path if os.path.isabs(path) else os.path.join(self.root, path)

    def get(self, path: str) -> bytes:  # mod.rs:209-216
        with open(self.resolve(path), "rb") as f:
            return f.read()

    def put(self, path: str, data: bytes) -> None:
        full = self.resolve(path)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        tmp = f"{full}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, full)  # atomic publish, no torn metadata reads

    def exists(self, path: str) -> bool:
        return os.path.exists(self.resolve(path))


class PostgresCatalog:
    """The reference's ``PostgresCatalog`` struct (mod.rs:26-30): a name, a
    DB connection, and an object store."""

    def __init__(self, name: str, backend: SqlBackend, object_store: ObjectStore):
        self.name = name
        self.backend = backend
        self._object_store = object_store

    # -- §2.A#1 connect (mod.rs:34-50) ------------------------------------
    @classmethod
    def connect(cls, name: str, url: str | None, warehouse: str) -> "PostgresCatalog":
        """Open the DB connection from a URL (postgres://... or sqlite://...)
        and bind the warehouse dir. The reference returns (Self, Connection)
        and makes the caller drive the connection future (mod.rs:420-424);
        synchronous Python needs no separate polling task."""
        return cls(name, backend_from_url(url), ObjectStore(warehouse))

    # -- §2.A#12 object_store (mod.rs:392-394) ----------------------------
    def object_store(self) -> ObjectStore:
        return self._object_store

    # -- §2.A#2 initialize (mod.rs:362-391) -------------------------------
    def initialize(self, properties: dict | None = None) -> None:
        """Idempotent DDL bootstrap — identical table shape to mod.rs:365-385
        (and to Iceberg's official JDBC catalog). ``properties`` accepted and
        ignored, like the reference."""
        self.backend.execute(
            f"""
            CREATE TABLE IF NOT EXISTS {CATALOG_TABLE_NAME} (
                {CATALOG_NAME_COLUMN} VARCHAR(255) NOT NULL,
                {TABLE_NAMESPACE_COLUMN} VARCHAR(255) NOT NULL,
                {TABLE_NAME_COLUMN} VARCHAR(255) NOT NULL,
                {METADATA_LOCATION_COLUMN} VARCHAR(5500),
                {PREVIOUS_METADATA_LOCATION_COLUMN} VARCHAR(5500),
                PRIMARY KEY ({CATALOG_NAME_COLUMN}, {TABLE_NAMESPACE_COLUMN}, {TABLE_NAME_COLUMN})
            )
            """
        )

    # -- §2.A#3 list_tables (mod.rs:56-96) --------------------------------
    def list_tables(self, namespace: str) -> list[TableIdentifier]:
        rows, _ = self.backend.execute(
            self.backend.sql(
                f"SELECT {TABLE_NAMESPACE_COLUMN}, {TABLE_NAME_COLUMN} FROM {CATALOG_TABLE_NAME} "
                f"WHERE {CATALOG_NAME_COLUMN} = ? AND {TABLE_NAMESPACE_COLUMN} = ?"
            ),
            (self.name, namespace),
        )
        return [TableIdentifier.parse(f"{ns}.{name}") for ns, name in rows]

    # -- §2.A#4 table_exists (mod.rs:107-136) -----------------------------
    def table_exists(self, identifier: TableIdentifier) -> bool:
        rows, _ = self.backend.execute(
            self.backend.sql(
                f"SELECT EXISTS (SELECT 1 FROM {CATALOG_TABLE_NAME} WHERE "
                f"{CATALOG_NAME_COLUMN} = ? AND {TABLE_NAMESPACE_COLUMN} = ? AND {TABLE_NAME_COLUMN} = ?)"
            ),
            (self.name, identifier.namespace_str, identifier.name),
        )
        return bool(rows[0][0])

    # -- §2.A#6 build_table (mod.rs:349-357) ------------------------------
    def build_table(
        self, identifier: TableIdentifier, schema, identifier_field_ids=None, partition_by=None
    ):
        """Stage a table: location = 'data.db/' + ns/name (mod.rs:355).
        ``partition_by`` declares identity-transform partition columns.
        Refuses a name an existing VIEW holds — tables and views share one
        name space (the mirror of ``views.create_view``'s table check)."""
        from iceberg_catalog_postgres_spark.catalog.table import TableBuilder
        from iceberg_catalog_postgres_spark.catalog.views import view_exists

        if view_exists(self, identifier):
            raise TableAlreadyExistsError(
                f"a VIEW named {identifier} exists; views and tables share "
                f"one name space"
            )
        location = posixpath.join("data.db", *identifier.namespace, identifier.name)
        return TableBuilder(
            self, identifier, location, schema, identifier_field_ids, partition_by
        )

    # -- §2.A#5 create_table (mod.rs:98-105) ------------------------------
    def create_table(
        self, identifier: TableIdentifier, schema, identifier_field_ids=None, partition_by=None
    ):
        """build_table + builder.commit() — exactly the reference composition."""
        return self.build_table(identifier, schema, identifier_field_ids, partition_by).commit()

    # -- §2.A#7 register_table (mod.rs:242-294) ---------------------------
    def register_table(self, identifier: TableIdentifier, metadata_file_location: str):
        """Race-safe create-if-absent: INSERT ... ON CONFLICT DO NOTHING;
        0 rows affected => already exists (mod.rs:283-293); then load."""
        _, count = self.backend.execute(
            self.backend.sql(
                f"INSERT INTO {CATALOG_TABLE_NAME} "
                f"({CATALOG_NAME_COLUMN}, {TABLE_NAMESPACE_COLUMN}, {TABLE_NAME_COLUMN}, "
                f"{METADATA_LOCATION_COLUMN}, {PREVIOUS_METADATA_LOCATION_COLUMN}) "
                f"VALUES (?, ?, ?, ?, NULL) "
                f"ON CONFLICT ({CATALOG_NAME_COLUMN}, {TABLE_NAMESPACE_COLUMN}, {TABLE_NAME_COLUMN}) DO NOTHING"
            ),
            (self.name, identifier.namespace_str, identifier.name, metadata_file_location),
        )
        if count != 1:
            raise TableAlreadyExistsError(f"Table {identifier} already exists.")
        return self.load_table(identifier)

    # -- §2.A#8 load_table (mod.rs:177-236) -------------------------------
    def load_table(self, identifier: TableIdentifier):
        """Pointer lookup -> object-store GET -> JSON parse -> Table handle."""
        from iceberg_catalog_postgres_spark.catalog.table import Table

        rows, _ = self.backend.execute(
            self.backend.sql(
                f"SELECT {METADATA_LOCATION_COLUMN} FROM {CATALOG_TABLE_NAME} WHERE "
                f"{CATALOG_NAME_COLUMN} = ? AND {TABLE_NAMESPACE_COLUMN} = ? AND {TABLE_NAME_COLUMN} = ?"
            ),
            (self.name, identifier.namespace_str, identifier.name),
        )
        if len(rows) == 0:
            raise NoSuchTableError(f"Table {identifier} does not exist.")  # mod.rs:229-232
        if len(rows) > 1:
            raise CorruptCatalogError(f"Multiple rows for {identifier}.")  # mod.rs:233-235
        metadata_location = rows[0][0]
        raw = self._object_store.get(metadata_location)  # mod.rs:209-216
        metadata = TableMetadata.from_json(
            raw.decode("utf-8"), store=self._object_store
        )  # mod.rs:217-220 (store inflates manifest-backed snapshots)
        return Table(identifier, self, metadata, metadata_location)  # mod.rs:222-228

    # -- §2.A#9 update_table (mod.rs:296-347) — THE CAS commit ------------
    def update_table(
        self,
        identifier: TableIdentifier,
        metadata_file_location: str,
        previous_metadata_file_location: str,
        metadata: TableMetadata | None = None,
    ):
        """Atomic pointer swap: succeeds iff the current pointer still equals
        the expected previous value. rowcount==1 => committed; 0 => conflict
        (mod.rs:340-346). On success the returned ``Table`` wraps
        ``metadata``, the document the caller wrote to
        ``metadata_file_location``, so a commit costs one statement. Without
        it the table is reloaded, as the reference does (mod.rs:341).

        The library calls it from one place, ``Table._swap_metadata``.
        Retry policy belongs to the callers: the single-table loop
        ``Table._commit_metadata_edit`` (metadata edits and
        ``Transaction.commit``) re-builds on the winner's metadata, while
        overwrite-style maintenance rewrites make one attempt and
        ``commit_schema`` / ``update_column_ndv`` recompute by their own
        rules."""
        _, count = self.backend.execute(
            self.backend.sql(
                f"UPDATE {CATALOG_TABLE_NAME} SET "
                f"{METADATA_LOCATION_COLUMN} = ?, {PREVIOUS_METADATA_LOCATION_COLUMN} = ? "
                f"WHERE {CATALOG_NAME_COLUMN} = ? AND {TABLE_NAMESPACE_COLUMN} = ? "
                f"AND {TABLE_NAME_COLUMN} = ? AND {METADATA_LOCATION_COLUMN} = ?"
            ),
            (
                metadata_file_location,
                previous_metadata_file_location,
                self.name,
                identifier.namespace_str,
                identifier.name,
                previous_metadata_file_location,
            ),
        )
        if count != 1:
            raise CommitConflictError(
                f"Commit conflict for {identifier}: expected pointer "
                f"{previous_metadata_file_location!r} was stale."
            )
        if metadata is None:
            return self.load_table(identifier)
        from iceberg_catalog_postgres_spark.catalog.table import Table

        return Table(identifier, self, metadata, metadata_file_location)

    def update_tables(
        self, updates: list[tuple[TableIdentifier, str, str, TableMetadata]]
    ) -> list:
        """ATOMIC multi-table pointer swap (§2.A#9 extended — the Iceberg
        REST catalog's multi-table commit on a plain SQL catalog): every
        ``(identifier, new_location, expected_previous_location,
        metadata)`` CAS lands in ONE database transaction, or none do. A
        reader therefore never observes a cross-table intermediate state —
        the consistency a move-rows-between-tables or fact+summary dual
        write needs. Returns the committed tables in order, each wrapping
        its ``metadata``, the document written to ``new_location``. Raises
        ``CommitConflictError`` naming the stale tables; retry policy
        belongs to the caller (``multi_txn.swap_all``)."""
        if not updates:
            return []
        seen: set[str] = set()
        for ident, _, _, _ in updates:
            if str(ident) in seen:
                raise ValueError(f"duplicate table in multi-table commit: {ident}")
            seen.add(str(ident))
        template = self.backend.sql(
            f"UPDATE {CATALOG_TABLE_NAME} SET "
            f"{METADATA_LOCATION_COLUMN} = ?, {PREVIOUS_METADATA_LOCATION_COLUMN} = ? "
            f"WHERE {CATALOG_NAME_COLUMN} = ? AND {TABLE_NAMESPACE_COLUMN} = ? "
            f"AND {TABLE_NAME_COLUMN} = ? AND {METADATA_LOCATION_COLUMN} = ?"
        )
        statements = [
            (
                template,
                (new_loc, prev_loc, self.name, ident.namespace_str,
                 ident.name, prev_loc),
            )
            for ident, new_loc, prev_loc, _ in updates
        ]
        counts = self.backend.execute_atomic_cas(statements)
        if not all(c == 1 for c in counts):
            stale = [
                str(u[0]) for u, c in zip(updates, counts) if c != 1
            ]
            raise CommitConflictError(
                f"multi-table commit conflict: stale pointer(s) for "
                f"{', '.join(stale)}; nothing was committed"
            )
        from iceberg_catalog_postgres_spark.catalog.table import Table

        return [Table(ident, self, md, new_loc) for ident, new_loc, _, md in updates]

    # -- §2.A#10 drop_table (mod.rs:138-175) ------------------------------
    def drop_table(self, identifier: TableIdentifier) -> None:
        """Delete the pointer row; exactly-1 assertion (mod.rs:163-174).
        Like the reference, data files are NOT purged (mod.rs:164 TODO)."""
        _, count = self.backend.execute(
            self.backend.sql(
                f"DELETE FROM {CATALOG_TABLE_NAME} WHERE "
                f"{CATALOG_NAME_COLUMN} = ? AND {TABLE_NAMESPACE_COLUMN} = ? AND {TABLE_NAME_COLUMN} = ?"
            ),
            (self.name, identifier.namespace_str, identifier.name),
        )
        if count == 0:
            raise NoSuchTableError(f"Table {identifier} does not exist.")
        if count > 1:
            raise CorruptCatalogError(f"Deleted {count} rows for {identifier}.")

    # -- §2.A#11 invalidate_table (mod.rs:238-240) ------------------------
    def invalidate_table(self, identifier: TableIdentifier) -> None:
        """Cache invalidation. The reference returns Err('Not implemented.');
        this port holds no cache, so the correct behavior is a no-op (the
        Spark analogue is spark.catalog.refreshTable)."""
        return None
