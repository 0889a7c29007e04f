"""SQL transaction scripts: ``BEGIN; <dml>; ...; COMMIT`` (r13
continuation) — the statement form of ``MultiTableTransaction``.

A script is a semicolon-separated batch of DML statements (INSERT /
UPDATE / DELETE / MERGE, each targeting a DIFFERENT catalog table)
bracketed by ``BEGIN [TRANSACTION]`` and ``COMMIT``. Every statement runs
its normal engine — the same parsers, clause algebra, MOR/CoW writers the
solo paths use — but hands its pointer swap to the script coordinator
(the ``pointer_swap`` seam in ``Transaction.commit``), and ALL pointers
land in ONE database transaction via ``catalog.update_tables``. A reader
can never observe statement 2's table updated next to statement 1's
stale one.

Semantics (documented, not accidental):

- **Isolation**: statements read the PRE-script state of every table
  (single-snapshot isolation). Each table may therefore appear as the
  TARGET of at most one statement — a second statement on the same table
  would silently read state the first was about to replace; refused at
  parse time. Reading a table another statement writes is allowed and
  sees its pre-script snapshot (that is what atomicity means here).
- **Retry**: on a pointer conflict nothing commits; the script re-runs
  every statement from freshly-loaded state (re-running the engine IS
  the rebase — each engine recomputes its writes from the current
  snapshot, so overwrite-vs-base staleness cannot arise the way it can
  for staged transactions), bounded by ``max_retries``.
- **No DDL in scripts**: CREATE/ALTER/DROP swap or insert pointers with
  their own non-CAS semantics; refusing them keeps the all-or-nothing
  claim honest.

Failed attempts leave only uniquely-named orphan data/metadata files —
the same debris as any lost CAS race — which orphan GC collects.
"""

from __future__ import annotations

import inspect

from iceberg_catalog_postgres_spark.catalog.merge_sql import (
    _kw,
    _render,
    _split_top,
    _tokenize,
    delete_sql,
    insert_sql,
    merge_sql,
    parse_delete,
    parse_insert,
    parse_merge,
    parse_update,
    update_sql,
)
from iceberg_catalog_postgres_spark.catalog.multi_txn import swap_all

__all__ = ["execute_script", "parse_script"]

_STATEMENTS = {
    "INSERT": (insert_sql, parse_insert),
    "UPDATE": (update_sql, parse_update),
    "DELETE": (delete_sql, parse_delete),
    "MERGE": (merge_sql, parse_merge),
}


def _upper(tok: str | None) -> str | None:
    if tok is None or tok.startswith(("'", "`")):
        return None
    return tok.upper()


def parse_script(script: str) -> list[tuple[str, str, str]]:
    """Validate the BEGIN/COMMIT bracket and split the body into
    ``(keyword, target, statement_text)`` triples. Refuses non-DML
    statements and duplicate targets."""
    toks = _tokenize(script.strip())
    stmts = [s for s in _split_top(toks, ";") if s]
    if len(stmts) < 2:
        raise ValueError("a transaction script needs BEGIN ... COMMIT")
    head = stmts[0]
    if _upper(head[0]) != "BEGIN" or (
        len(head) > 1 and _upper(head[1]) != "TRANSACTION"
    ) or len(head) > 2:
        raise ValueError(
            f"script must start with BEGIN [TRANSACTION], got "
            f"{' '.join(head)!r}"
        )
    tail = stmts[-1]
    if [_upper(t) for t in tail] != ["COMMIT"]:
        raise ValueError(
            f"script must end with COMMIT, got {' '.join(tail)!r}"
        )
    out: list[tuple[str, str, str]] = []
    seen: set[str] = set()
    for stmt in stmts[1:-1]:
        kw = _upper(stmt[0])
        if kw not in _STATEMENTS:
            raise ValueError(
                f"transaction scripts support {sorted(_STATEMENTS)} "
                f"statements only, got {kw!r} (DDL has its own pointer "
                f"semantics and cannot join an atomic batch)"
            )
        text = _render(stmt, {})
        target = _STATEMENTS[kw][1](text)["target"]
        key = target.lower()
        if key in seen:
            raise ValueError(
                f"table {target} is the target of two statements — scripts "
                f"give every statement the PRE-script snapshot, so the "
                f"second would silently ignore the first; split the script"
            )
        seen.add(key)
        out.append((kw, target, text))
    return out


def execute_script(
    spark, catalog, script: str, max_retries: int | None = None, **kwargs
):
    """Run a ``BEGIN; <dml>; ...; COMMIT`` script atomically and return
    the committed Tables in statement order (a provably no-op statement
    returns None in its slot). ``max_retries`` None follows the target
    tables: the smallest ``commit.retry.num-retries`` among them (default
    5). ``kwargs`` (``strategy``, ``preserve_lineage``, ``sources``, ...)
    forward to every statement that accepts them, like ``execute_dml``."""
    def step(kw: str, text: str):
        fn = _STATEMENTS[kw][0]
        accepted = set(inspect.signature(fn).parameters)
        opts = {k: v for k, v in kwargs.items() if k in accepted}

        def run(record) -> None:
            fn(spark, catalog, text, pointer_swap=record, **opts)

        return run

    # no rebase: a retry re-runs every engine from freshly loaded state
    return swap_all(
        catalog,
        [step(kw, text) for kw, _target, text in parse_script(script)],
        max_retries,
    )
