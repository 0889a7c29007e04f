"""Iceberg VIEWS on the Postgres catalog (r13 continuation).

The reference crate stores TABLE pointers only (`mod.rs:18-30`); the Iceberg
ecosystem's catalogs (REST, JDBC) extend the identical pointer model to
VIEWS — a view is a named, VERSIONED SQL definition whose metadata document
lives in the object store and whose current pointer lives in one catalog
row. This module adds that surface with the same architecture as tables:

- one pointer table ``iceberg_views`` with the same 5-column layout and
  composite PK as ``iceberg_tables`` (Iceberg's official JDBC catalog uses
  exactly this parallel-table shape for views);
- a view metadata JSON per the public Iceberg VIEW SPEC v1: ``view-uuid``,
  ``current-version-id``, append-only ``versions`` (each with its SQL
  representation, dialect, schema and summary), and a ``version-log`` —
  so ``CREATE OR REPLACE VIEW`` is a NEW version + CAS pointer swap, never
  an in-place edit, and any historical definition stays queryable
  (``SELECT ... FROM v VERSION AS OF <version-id>``);
- the same compare-and-swap commit protocol as ``update_table``
  (``UPDATE ... WHERE metadata_location = ?``), so concurrent REPLACE
  writers serialize exactly like table commits.

Resolution order in the SQL front-end is tables first, then views (a name
collision at create time is refused in BOTH directions, so the order can
never silently flip a query's meaning). View expansion happens at query
time — the stored SQL re-resolves through ``select_sql``'s rewriter, so a
view over a table sees the table's CURRENT snapshot (standard view
semantics; pin data versions with table tags, not view versions — view
versions pin the DEFINITION).

Scale: a view is O(1) catalog metadata — pointer row + a small JSON — and
expansion adds zero engine cost: the inner SQL lands in the same Catalyst
plan as if the user had inlined it (filter pushdown and metadata pruning
apply through the expansion).
"""

from __future__ import annotations

import json
import posixpath
import random
import time
import uuid
from dataclasses import dataclass, field, replace as _dc_replace

from iceberg_catalog_postgres_spark.catalog.catalog import (
    CATALOG_NAME_COLUMN,
    METADATA_LOCATION_COLUMN,
    PREVIOUS_METADATA_LOCATION_COLUMN,
    TABLE_NAME_COLUMN,
    TABLE_NAMESPACE_COLUMN,
    CommitConflictError,
    CorruptCatalogError,
    NoSuchTableError,
    TableAlreadyExistsError,
    TableIdentifier,
    commit_retries,
)
from iceberg_catalog_postgres_spark.catalog.metadata import write_metadata

__all__ = [
    "ViewMetadata",
    "View",
    "create_view",
    "load_view",
    "view_exists",
    "drop_view",
    "list_views",
]

VIEWS_TABLE_NAME = "iceberg_views"

_initialized = __import__("weakref").WeakSet()


def _ensure_views_table(catalog) -> None:
    """Idempotent DDL bootstrap for the view pointer table — the same
    column/PK shape as ``iceberg_tables`` (kept out of ``initialize()``
    so the reference-pinned table DDL stays byte-identical). Cached per
    live backend (WeakSet — a recycled id can never skip the DDL)."""
    if catalog.backend in _initialized:
        return
    catalog.backend.execute(
        f"""
        CREATE TABLE IF NOT EXISTS {VIEWS_TABLE_NAME} (
            {CATALOG_NAME_COLUMN} VARCHAR(255) NOT NULL,
            {TABLE_NAMESPACE_COLUMN} VARCHAR(255) NOT NULL,
            {TABLE_NAME_COLUMN} VARCHAR(255) NOT NULL,
            {METADATA_LOCATION_COLUMN} VARCHAR(5500),
            {PREVIOUS_METADATA_LOCATION_COLUMN} VARCHAR(5500),
            PRIMARY KEY ({CATALOG_NAME_COLUMN}, {TABLE_NAMESPACE_COLUMN}, {TABLE_NAME_COLUMN})
        )
        """
    )
    _initialized.add(catalog.backend)


@dataclass(frozen=True)
class ViewMetadata:
    """Iceberg view-spec v1 metadata document (public spec: view-uuid,
    format-version, location, current-version-id, versions[],
    version-log[], schemas[], properties)."""

    view_uuid: str
    location: str
    current_version_id: int
    versions: list  # [{"version-id", "timestamp-ms", "schema-id",
    #                   "summary": {"operation"}, "representations":
    #                   [{"type": "sql", "sql", "dialect"}],
    #                   "default-namespace": [...]}]
    version_log: list  # [{"timestamp-ms", "version-id"}]
    schemas: list  # iceberg SchemaV2 dicts, keyed by schema-id
    properties: dict = field(default_factory=dict)
    format_version: int = 1

    def version(self, version_id: int | None = None) -> dict:
        vid = version_id if version_id is not None else self.current_version_id
        for v in self.versions:
            if v["version-id"] == vid:
                return v
        raise ValueError(f"no such view version: {vid}")

    def sql(self, version_id: int | None = None, dialect: str = "spark") -> str:
        """The SQL representation of a version (current by default)."""
        for rep in self.version(version_id)["representations"]:
            if rep["type"] == "sql" and rep.get("dialect", dialect) == dialect:
                return rep["sql"]
        raise ValueError(
            f"view version {version_id} has no {dialect!r} SQL representation"
        )

    def version_as_of(self, ts_ms: int) -> int | None:
        """The version current AT ``ts_ms`` per the version-log (None =
        before the view existed)."""
        vid = None
        for entry in self.version_log:
            if entry["timestamp-ms"] <= ts_ms:
                vid = entry["version-id"]
        return vid

    def to_json(self) -> str:
        return json.dumps(
            {
                "view-uuid": self.view_uuid,
                "format-version": self.format_version,
                "location": self.location,
                "current-version-id": self.current_version_id,
                "versions": self.versions,
                "version-log": self.version_log,
                "schemas": self.schemas,
                "properties": self.properties,
            }
        )

    @staticmethod
    def from_json(text: str) -> "ViewMetadata":
        d = json.loads(text)
        return ViewMetadata(
            view_uuid=d["view-uuid"],
            location=d["location"],
            current_version_id=d["current-version-id"],
            versions=d["versions"],
            version_log=d["version-log"],
            schemas=d.get("schemas", []),
            properties=d.get("properties", {}),
            format_version=d.get("format-version", 1),
        )


@dataclass
class View:
    """A loaded view handle: identifier + metadata + its pointer location
    (the CAS expectation for the next replace)."""

    identifier: TableIdentifier
    catalog: object
    metadata: ViewMetadata
    metadata_location: str


def _new_version(
    version_id: int, sql: str, schema_id: int, operation: str, namespace: tuple
) -> dict:
    return {
        "version-id": version_id,
        "timestamp-ms": int(time.time() * 1000),
        "schema-id": schema_id,
        "summary": {"operation": operation},
        "representations": [{"type": "sql", "sql": sql, "dialect": "spark"}],
        "default-namespace": list(namespace),
    }


def _analyzed_schema(spark, catalog, sql: str) -> dict:
    """The view SQL's output schema as an iceberg SchemaV2 dict — analyzed
    through the same resolver the query path uses (so catalog table refs
    inside the view body resolve), without executing anything."""
    from iceberg_catalog_postgres_spark.catalog.metadata import schema_to_iceberg
    from iceberg_catalog_postgres_spark.catalog.select_sql import select_sql

    return schema_to_iceberg(select_sql(spark, catalog, sql).schema)


def _validate_view_sql(sql: str) -> str:
    head = sql.lstrip().split(None, 1)
    if not head or head[0].upper() not in ("SELECT", "WITH"):
        raise ValueError(
            f"a view body must be a SELECT/WITH statement, got "
            f"{head[0] if head else ''!r}"
        )
    return sql.strip().rstrip(";")


def _put_metadata(catalog, ident: TableIdentifier, md: ViewMetadata) -> str:
    return write_metadata(catalog.object_store(), md, f"v{md.current_version_id}")


def view_exists(catalog, identifier: TableIdentifier) -> bool:
    _ensure_views_table(catalog)
    rows, _ = catalog.backend.execute(
        catalog.backend.sql(
            f"SELECT EXISTS (SELECT 1 FROM {VIEWS_TABLE_NAME} WHERE "
            f"{CATALOG_NAME_COLUMN} = ? AND {TABLE_NAMESPACE_COLUMN} = ? "
            f"AND {TABLE_NAME_COLUMN} = ?)"
        ),
        (catalog.name, identifier.namespace_str, identifier.name),
    )
    return bool(rows[0][0])


def list_views(catalog, namespace: str) -> list[TableIdentifier]:
    _ensure_views_table(catalog)
    rows, _ = catalog.backend.execute(
        catalog.backend.sql(
            f"SELECT {TABLE_NAMESPACE_COLUMN}, {TABLE_NAME_COLUMN} "
            f"FROM {VIEWS_TABLE_NAME} "
            f"WHERE {CATALOG_NAME_COLUMN} = ? AND {TABLE_NAMESPACE_COLUMN} = ?"
        ),
        (catalog.name, namespace),
    )
    return [TableIdentifier.parse(f"{ns}.{name}") for ns, name in rows]


def load_view(catalog, identifier: TableIdentifier) -> View:
    _ensure_views_table(catalog)
    rows, _ = catalog.backend.execute(
        catalog.backend.sql(
            f"SELECT {METADATA_LOCATION_COLUMN} FROM {VIEWS_TABLE_NAME} WHERE "
            f"{CATALOG_NAME_COLUMN} = ? AND {TABLE_NAMESPACE_COLUMN} = ? "
            f"AND {TABLE_NAME_COLUMN} = ?"
        ),
        (catalog.name, identifier.namespace_str, identifier.name),
    )
    if len(rows) == 0:
        raise NoSuchTableError(f"View {identifier} does not exist.")
    if len(rows) > 1:
        raise CorruptCatalogError(f"Multiple rows for view {identifier}.")
    loc = rows[0][0]
    md = ViewMetadata.from_json(
        catalog.object_store().get(loc).decode("utf-8")
    )
    return View(identifier, catalog, md, loc)


def create_view(
    spark,
    catalog,
    identifier: TableIdentifier,
    sql: str,
    properties: dict | None = None,
    or_replace: bool = False,
) -> View:
    """CREATE [OR REPLACE] VIEW: validate + analyze the body (schema is
    recorded per the view spec), write the metadata document, and publish
    the pointer — INSERT ON CONFLICT DO NOTHING for create (race-safe,
    like ``register_table``), CAS UPDATE appending a new version for
    replace. Name collisions with TABLES are refused in both directions
    (``build_table`` checks views; this checks tables) so table-first
    resolution order can never silently change a query's meaning. The
    cross-kind check is best-effort under a perfectly-timed concurrent
    create of the OTHER kind (two pointer tables cannot share one unique
    constraint); resolution order stays deterministic either way — the
    table wins — so the failure mode is a shadowed view, never a flipped
    query."""
    _ensure_views_table(catalog)
    sql = _validate_view_sql(sql)
    if catalog.table_exists(identifier):
        raise TableAlreadyExistsError(
            f"a TABLE named {identifier} exists; views and tables share "
            f"one name space"
        )
    schema = _analyzed_schema(spark, catalog, sql)

    if view_exists(catalog, identifier):
        if not or_replace:
            raise TableAlreadyExistsError(f"View {identifier} already exists.")
        return _replace_view(spark, catalog, identifier, sql, schema, properties)

    location = posixpath.join(
        "data.db", *identifier.namespace, identifier.name
    )
    now = int(time.time() * 1000)
    schema["schema-id"] = 0
    md = ViewMetadata(
        view_uuid=str(uuid.uuid4()),
        location=location,
        current_version_id=1,
        versions=[_new_version(1, sql, 0, "create", identifier.namespace)],
        version_log=[{"timestamp-ms": now, "version-id": 1}],
        schemas=[schema],
        properties=dict(properties or {}),
    )
    loc = _put_metadata(catalog, identifier, md)
    _, count = catalog.backend.execute(
        catalog.backend.sql(
            f"INSERT INTO {VIEWS_TABLE_NAME} "
            f"({CATALOG_NAME_COLUMN}, {TABLE_NAMESPACE_COLUMN}, {TABLE_NAME_COLUMN}, "
            f"{METADATA_LOCATION_COLUMN}, {PREVIOUS_METADATA_LOCATION_COLUMN}) "
            f"VALUES (?, ?, ?, ?, NULL) "
            f"ON CONFLICT ({CATALOG_NAME_COLUMN}, {TABLE_NAMESPACE_COLUMN}, "
            f"{TABLE_NAME_COLUMN}) DO NOTHING"
        ),
        (catalog.name, identifier.namespace_str, identifier.name, loc),
    )
    if count != 1:
        if or_replace:
            # lost the create race to a concurrent writer — replace their
            # version instead (the OR REPLACE contract holds under races)
            return _replace_view(
                spark, catalog, identifier, sql, schema, properties
            )
        raise TableAlreadyExistsError(f"View {identifier} already exists.")
    return load_view(catalog, identifier)


def _replace_view(
    spark, catalog, identifier, sql: str, schema: dict, properties
) -> View:
    """Append a new version + CAS the pointer (retrying on a concurrent
    replace by re-reading and re-appending — versions are append-only, so
    replace commutes the way table appends do). The view's
    ``commit.retry.num-retries`` (default 5) bounds the retries, with the
    single-table loop's randomized, growing backoff between attempts."""
    cur = load_view(catalog, identifier)
    budget = commit_retries(cur.metadata.properties)
    for attempt in range(budget + 1):
        md = cur.metadata
        next_id = max(v["version-id"] for v in md.versions) + 1
        schema = dict(schema)
        schema["schema-id"] = next_id - 1
        now = int(time.time() * 1000)
        new_md = _dc_replace(
            md,
            current_version_id=next_id,
            versions=[
                *md.versions,
                _new_version(next_id, sql, schema["schema-id"], "replace",
                             identifier.namespace),
            ],
            version_log=[
                *md.version_log,
                {"timestamp-ms": now, "version-id": next_id},
            ],
            schemas=[*md.schemas, schema],
            properties={**md.properties, **(properties or {})},
        )
        loc = _put_metadata(catalog, identifier, new_md)
        _, count = catalog.backend.execute(
            catalog.backend.sql(
                f"UPDATE {VIEWS_TABLE_NAME} SET "
                f"{METADATA_LOCATION_COLUMN} = ?, "
                f"{PREVIOUS_METADATA_LOCATION_COLUMN} = ? "
                f"WHERE {CATALOG_NAME_COLUMN} = ? AND {TABLE_NAMESPACE_COLUMN} = ? "
                f"AND {TABLE_NAME_COLUMN} = ? AND {METADATA_LOCATION_COLUMN} = ?"
            ),
            (
                loc, cur.metadata_location, catalog.name,
                identifier.namespace_str, identifier.name,
                cur.metadata_location,
            ),
        )
        if count == 1:
            return load_view(catalog, identifier)
        if attempt < budget:
            time.sleep(random.uniform(0.01, 0.05) * (attempt + 1))
            cur = load_view(catalog, identifier)
    raise CommitConflictError(
        f"replace view {identifier}: pointer kept moving after "
        f"{budget + 1} attempts"
    )


def create_view_sql(spark, catalog, sql: str) -> View:
    """``CREATE [OR REPLACE] VIEW [IF NOT EXISTS] ns.v
    [TBLPROPERTIES ('k'='v', ...)] AS <select>`` — the statement form of
    ``create_view``. IF NOT EXISTS returns the existing view untouched
    (mutually exclusive with OR REPLACE, which appends a version)."""
    from iceberg_catalog_postgres_spark.catalog.ddl_sql import _prop_key
    from iceberg_catalog_postgres_spark.catalog.merge_sql import (
        _Cursor,
        _split_top,
        _tokenize,
    )
    from iceberg_catalog_postgres_spark.catalog.select_sql import (
        _parse_literal,
        _upper,
    )

    toks = _tokenize(sql.strip().rstrip(";"))
    cur = _Cursor(toks)
    if _upper(cur.next()) != "CREATE":
        raise ValueError("CREATE VIEW parse error: expected CREATE")
    or_replace = False
    if _upper(cur.peek()) == "OR":
        cur.next()
        if _upper(cur.next()) != "REPLACE":
            raise ValueError("CREATE VIEW parse error: expected OR REPLACE")
        or_replace = True
    if _upper(cur.next()) != "VIEW":
        raise ValueError("CREATE VIEW parse error: expected VIEW")
    if_not_exists = False
    if _upper(cur.peek()) == "IF":
        cur.next()
        for expect in ("NOT", "EXISTS"):
            if _upper(cur.next()) != expect:
                raise ValueError("CREATE VIEW parse error: expected IF NOT EXISTS")
        if or_replace:
            raise ValueError("OR REPLACE and IF NOT EXISTS are mutually exclusive")
        if_not_exists = True
    ident = TableIdentifier.parse(cur.dotted_name())
    properties = None
    if _upper(cur.peek()) == "TBLPROPERTIES":
        cur.next()
        properties = {}
        for piece in _split_top(cur.balanced_parens(), ","):
            sides = _split_top(piece, "=")
            if len(sides) != 2:
                raise ValueError("CREATE VIEW TBLPROPERTIES: expected 'k' = 'v'")
            properties[_prop_key(sides[0])] = str(
                _parse_literal(_Cursor(sides[1]))
            )
    if _upper(cur.next()) != "AS":
        raise ValueError("CREATE VIEW parse error: expected AS <select>")
    body = " ".join(toks[cur.i:])
    if if_not_exists and view_exists(catalog, ident):
        return load_view(catalog, ident)
    return create_view(
        spark, catalog, ident, body, properties=properties, or_replace=or_replace
    )


def show_views_sql(spark, catalog, sql: str):
    """``SHOW VIEWS IN <namespace>`` -> (namespace, view_name,
    current_version_id) rows."""
    from iceberg_catalog_postgres_spark.catalog.merge_sql import _Cursor, _tokenize
    from iceberg_catalog_postgres_spark.catalog.select_sql import _upper

    cur = _Cursor(_tokenize(sql.strip().rstrip(";")))
    for kw in ("SHOW", "VIEWS", "IN"):
        if _upper(cur.next()) != kw:
            raise ValueError(f"SHOW VIEWS parse error: expected {kw}")
    ns = cur.dotted_name()
    rows = sorted(
        (
            i.namespace_str,
            i.name,
            load_view(catalog, i).metadata.current_version_id,
        )
        for i in list_views(catalog, ns)
    )
    return spark.createDataFrame(
        rows or [], "namespace string, view_name string, current_version_id int"
    )


def describe_view_sql(spark, catalog, sql: str):
    """``DESCRIBE VIEW ns.v`` -> (kind, name, value) rows: one ``col`` row
    per output column of the CURRENT version, one ``version`` row per
    stored version (value = its SQL), and a ``current-version`` row — the
    full versioned definition as data."""
    from iceberg_catalog_postgres_spark.catalog.merge_sql import _Cursor, _tokenize
    from iceberg_catalog_postgres_spark.catalog.metadata import schema_to_spark
    from iceberg_catalog_postgres_spark.catalog.select_sql import _upper

    cur = _Cursor(_tokenize(sql.strip().rstrip(";")))
    if _upper(cur.next()) not in ("DESCRIBE", "DESC"):
        raise ValueError("DESCRIBE VIEW parse error")
    if _upper(cur.next()) != "VIEW":
        raise ValueError("DESCRIBE VIEW parse error: expected VIEW")
    view = load_view(catalog, TableIdentifier.parse(cur.dotted_name()))
    md = view.metadata
    cur_version = md.version()
    schema = next(
        (s for s in md.schemas if s.get("schema-id") == cur_version["schema-id"]),
        None,
    )
    rows = []
    if schema is not None:
        for f in schema_to_spark(schema).fields:
            rows.append(("col", f.name, f.dataType.simpleString()))
    for v in md.versions:
        rows.append(("version", str(v["version-id"]),
                     next(r["sql"] for r in v["representations"]
                          if r["type"] == "sql")))
    rows.append(("current-version", str(md.current_version_id), ""))
    return spark.createDataFrame(rows, "kind string, name string, value string")


def drop_view_sql(spark, catalog, sql: str) -> None:
    """``DROP VIEW [IF EXISTS] ns.v`` -> ``drop_view`` (pointer delete;
    metadata documents become orphans for GC, like dropped tables)."""
    from iceberg_catalog_postgres_spark.catalog.merge_sql import _Cursor, _tokenize
    from iceberg_catalog_postgres_spark.catalog.select_sql import _upper

    cur = _Cursor(_tokenize(sql.strip().rstrip(";")))
    for kw in ("DROP", "VIEW"):
        if _upper(cur.next()) != kw:
            raise ValueError(f"DROP VIEW parse error: expected {kw}")
    if_exists = False
    if _upper(cur.peek()) == "IF":
        cur.next()
        if _upper(cur.next()) != "EXISTS":
            raise ValueError("DROP VIEW parse error: expected IF EXISTS")
        if_exists = True
    ident = TableIdentifier.parse(cur.dotted_name())
    if if_exists and not view_exists(catalog, ident):
        return None
    drop_view(catalog, ident)
    return None


def drop_view(catalog, identifier: TableIdentifier) -> None:
    _ensure_views_table(catalog)
    _, count = catalog.backend.execute(
        catalog.backend.sql(
            f"DELETE FROM {VIEWS_TABLE_NAME} WHERE "
            f"{CATALOG_NAME_COLUMN} = ? AND {TABLE_NAMESPACE_COLUMN} = ? "
            f"AND {TABLE_NAME_COLUMN} = ?"
        ),
        (catalog.name, identifier.namespace_str, identifier.name),
    )
    if count == 0:
        raise NoSuchTableError(f"View {identifier} does not exist.")
    if count > 1:
        raise CorruptCatalogError(f"Deleted {count} rows for view {identifier}.")
