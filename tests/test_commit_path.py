"""One commit path: every metadata write and pointer swap has one site.

Every commit turns a metadata document into the table's current version
through ``Table._swap_metadata`` (catalog/table.py): it appends the
superseded document to ``metadata-log``, writes the new one through
``metadata.write_metadata`` (the only place a ``.metadata.json`` name is
composed) and compare-and-swaps the catalog pointer. Single-table retries
live in one loop, ``Table._commit_metadata_edit``. The first tests parse
the library with ``ast`` and fail when a module grows its own copy of those
steps — the copies are how commit paths drifted apart before (gaps in
``metadata-log``, retry budgets that ignored ``commit.retry.num-retries``).
The last one runs every commit path and checks that the table a commit
returns — built from the document it wrote, not re-read — equals a fresh
load, and that a commit costs one catalog statement.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "iceberg_catalog_postgres_spark"


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), ast.parse(path.read_text(), str(path))


def _walk_scoped(tree):
    """Yield ``(qualname, node)`` for every node, ``qualname`` naming the
    enclosing class/function chain (``""`` at module level)."""
    stack = [("", tree)]
    while stack:
        scope, node = stack.pop()
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            yield inner, child
            stack.append((inner, child))


def _call_sites(name: str) -> list[tuple[str, str]]:
    """``(module, qualname)`` of every call to ``name`` — as a method
    (``x.name(...)``) or a bare function (``name(...)``)."""
    out = []
    for mod, tree in _modules():
        for scope, node in _walk_scoped(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if called == name:
                out.append((mod, scope))
    return out


SWAP_SITE = ("catalog/table.py", "Table._swap_metadata")


def test_pointer_swap_has_one_call_site():
    assert _call_sites("update_table") == [SWAP_SITE]


def test_metadata_log_entry_has_one_call_site():
    assert _call_sites("with_log_entry") == [SWAP_SITE]


def test_manifest_planning_stays_in_table_module():
    # Transaction.commit's snapshot build and Table._commit_snapshot;
    # maintenance rewrites commit through the latter
    sites = _call_sites("plan_manifests")
    assert sites and {mod for mod, _ in sites} == {"catalog/table.py"}, sites


def _docstring_nodes(tree) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                ids.add(id(body[0].value))
    return ids


def _name_checks(tree) -> set[int]:
    """String arguments of ``.endswith(...)`` tests: they inspect a name,
    they compose none."""
    return {
        id(arg)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "endswith"
        for arg in node.args
    }


def test_metadata_file_names_composed_in_one_writer():
    writer = ("catalog/metadata.py", "write_metadata")
    exempt = {
        # the Avro exporter writes a standalone spec tree with a fixed name,
        # outside any catalog table
        ("catalog/avro_export.py", "v1.metadata.json"),
    }
    offenders = []
    writer_seen = False
    for mod, tree in _modules():
        skip = _docstring_nodes(tree) | _name_checks(tree)
        for scope, node in _walk_scoped(tree):
            if not (isinstance(node, ast.Constant) and isinstance(node.value, str)):
                continue
            if ".metadata.json" not in node.value or id(node) in skip:
                continue
            if node.value.startswith("*") or (mod, node.value) in exempt:
                continue  # glob patterns list documents, they name none
            if (mod, scope) == writer:
                writer_seen = True
                continue
            offenders.append((mod, scope, node.value))
    assert writer_seen
    assert offenders == []


def test_one_single_table_retry_loop():
    """``table.py`` has one loop that retries a lost CAS; ``commit_schema``
    keeps its recompute-on-conflict rule without a loop of its own."""
    tree = ast.parse((PKG / "catalog" / "table.py").read_text())

    def catches_conflict(node) -> bool:
        return any(
            isinstance(h, ast.ExceptHandler)
            and isinstance(h.type, ast.Name)
            and h.type.id == "CommitConflictError"
            for t in ast.walk(node)
            if isinstance(t, ast.Try)
            for h in t.handlers
        )

    loops = [
        scope
        for scope, node in _walk_scoped(tree)
        if isinstance(node, (ast.For, ast.While)) and catches_conflict(node)
    ]
    assert loops == ["Table._commit_metadata_edit"]


# ---------------------------------------------------------------------------
# A commit hands back the document it wrote: one statement, no read-back


def _same(a, b, where="metadata"):
    """Deep equality that is type-sensitive and order-sensitive for
    sequences. Dicts compare as mappings (key order is not part of a JSON
    object); a ``Snapshot`` compares by its public, inflated view."""
    from dataclasses import fields, is_dataclass

    from iceberg_catalog_postgres_spark.catalog.metadata import Snapshot

    assert type(a) is type(b), f"{where}: {type(a).__name__} != {type(b).__name__}"
    if is_dataclass(a):
        for f in fields(a):
            _same(getattr(a, f.name), getattr(b, f.name), f"{where}.{f.name}")
    elif isinstance(a, Snapshot):
        for attr in (
            "snapshot_id", "timestamp_ms", "operation", "summary",
            "sequence_number", "manifests", "data_files", "delete_files",
            "position_delete_files", "file_seqs", "file_partitions",
            "file_stats", "deletion_vectors", "first_row_ids",
        ):
            _same(getattr(a, attr), getattr(b, attr), f"{where}.{attr}")
    elif isinstance(a, dict):
        assert a.keys() == b.keys(), f"{where}: keys differ"
        for k in a:
            _same(a[k], b[k], f"{where}[{k!r}]")
    elif isinstance(a, (list, tuple)):
        assert len(a) == len(b), f"{where}: length {len(a)} != {len(b)}"
        for i, (x, y) in enumerate(zip(a, b)):
            _same(x, y, f"{where}[{i}]")
    else:
        assert a == b, f"{where}: {a!r} != {b!r}"


class _Counter:
    """Counts catalog statements and metadata-document GETs while active."""

    def __init__(self, catalog, monkeypatch):
        self.statements: list[str] = []
        self.doc_gets: list[str] = []
        self.active = False
        execute, get = catalog.backend.execute, catalog.object_store().get

        def counted_execute(sql, params=()):
            if self.active:
                self.statements.append(" ".join(sql.split()))
            return execute(sql, params)

        def counted_get(path):
            if self.active and path.endswith(".metadata.json"):
                self.doc_gets.append(path)
            return get(path)

        monkeypatch.setattr(catalog.backend, "execute", counted_execute)
        monkeypatch.setattr(catalog.object_store(), "get", counted_get)

    def commit(self, run):
        self.statements.clear()
        self.doc_gets.clear()
        self.active = True
        try:
            return run()
        finally:
            self.active = False


def test_committed_table_equals_fresh_load(spark, tmp_path, monkeypatch):
    """Every commit path returns the table built from the document it wrote,
    and that table equals a fresh ``load_table``: same metadata, same JSON
    text, same location. Tiny manifest knobs make full rewrites (clustered
    chunk order) and split delta chunks run; descending ids make the
    clustered order differ from writer order. A single-table commit makes
    one statement, the CAS ``UPDATE``, and reads no metadata document; the
    returned table keeps only its current snapshot inflated."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from iceberg_catalog_postgres_spark.catalog import maintenance as mx
    from iceberg_catalog_postgres_spark.catalog import metadata as md_mod
    from iceberg_catalog_postgres_spark.catalog.catalog import (
        PostgresCatalog,
        TableIdentifier,
    )
    from iceberg_catalog_postgres_spark.catalog.multi_txn import MultiTableTransaction

    monkeypatch.setattr(md_mod, "MANIFEST_THRESHOLD", 1)
    monkeypatch.setattr(md_mod, "MANIFEST_CHUNK_TARGET", 2)
    catalog = PostgresCatalog.connect("cp", None, str(tmp_path / "wh"))
    catalog.initialize()
    counter = _Counter(catalog, monkeypatch)
    schema = StructType(
        [StructField("id", LongType(), True), StructField("v", StringType(), True)]
    )
    t = catalog.create_table(TableIdentifier.parse("ns.t"), schema)
    other = catalog.create_table(TableIdentifier.parse("ns.u"), schema)

    def rows(*ids):
        return [(i, f"r{i}") for i in ids]

    def frame(*ids):
        # one file per row, written in the order given
        rdd = spark.sparkContext.parallelize(rows(*ids), len(ids))
        return spark.createDataFrame(rdd, schema)

    def check(name, committed, single=True):
        # only the current snapshot's file lists stay in memory; earlier
        # chunk-backed snapshots come back deferred, as a load has them
        md = committed.metadata
        held = [
            s.snapshot_id for s in md.snapshots
            if s.snapshot_id != md.current_snapshot_id
            and s.manifests is not None and s._inflated
        ]
        assert held == [], (name, held)
        loaded = catalog.load_table(committed.identifier)
        assert committed.metadata_location() == loaded.metadata_location(), name
        _same(committed.metadata, loaded.metadata, name)
        text = committed.metadata.to_json()
        assert text == loaded.metadata.to_json(), name
        assert "\n" not in text, name
        assert counter.doc_gets == [], (name, counter.doc_gets)
        if single:
            assert len(counter.statements) == 1, (name, counter.statements)
            assert counter.statements[0].startswith("UPDATE iceberg_tables SET"), name
        return loaded

    def commit(name, run, single=True):
        committed = counter.commit(run)
        check(name, committed, single)
        return committed

    for i in (100, 99, 98):
        t = commit(
            "append_rows",
            lambda: t.new_transaction().append_rows(spark, rows(i), schema).commit(),
        )
    t = commit(
        "append_dataframe",
        lambda: t.new_transaction()
        .append_dataframe(frame(90, 80, 70))
        .commit(),
    )
    assert len(t.metadata.current_snapshot().manifests) > 2
    keys = spark.createDataFrame([(99,)], "id long").coalesce(1)
    t = commit(
        "MOR delete", lambda: t.new_transaction().delete_keys_dataframe(keys).commit()
    )
    t = commit(
        "overwrite",
        lambda: t.new_transaction()
        .overwrite_dataframe(frame(50, 40, 30))
        .commit(),
    )
    t = commit("update_properties", lambda: t.update_properties({"owner": "x"}))
    t = commit("set_ref", lambda: t.set_ref("audit"))
    wider = StructType([*t.schema.fields, StructField("extra", LongType(), True)])
    t = commit("commit_schema", lambda: t.commit_schema(wider))
    for i in (20, 10):
        t = t.new_transaction().append_rows(
            spark, [(i, f"r{i}", i)], t.schema
        ).commit()
    t = commit(
        "rewrite_manifests",
        lambda: mx.rewrite_manifests(t, max_chunks=1, target_entries=2),
    )
    t = commit("expire_snapshots", lambda: mx.expire_snapshots(t, keep_last=2))

    def multi():
        mt = MultiTableTransaction(catalog)
        mt.transaction(t).append_rows(spark, [(5, "r5", 5)], t.schema)
        mt.transaction(other).append_rows(spark, rows(7, 6), schema)
        return mt.commit()

    committed = counter.commit(multi)
    for table in committed:
        check("MultiTableTransaction", table, single=False)
    assert counter.statements == []  # the swap runs in execute_atomic_cas
