"""One commit path: every metadata write and pointer swap has one site.

Every commit turns a metadata document into the table's current version
through ``Table._swap_metadata`` (catalog/table.py): it appends the
superseded document to ``metadata-log``, writes the new one through
``metadata.write_metadata`` (the only place a ``.metadata.json`` name is
composed) and compare-and-swaps the catalog pointer. Single-table retries
live in one loop, ``Table._commit_metadata_edit``. This test parses the
library with ``ast`` and fails when a module grows its own copy of those
steps — the copies are how commit paths drifted apart before (gaps in
``metadata-log``, retry budgets that ignored ``commit.retry.num-retries``).
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
