"""Multi-table ATOMIC transactions (r13 continuation).

The reference's CAS protocol (mod.rs:296-347) swaps ONE pointer; real
pipelines routinely need two or more tables to move together — archive
rows out of a hot table into a cold one, keep a fact table and its summary
in lock-step, publish a batch across sharded tables. Iceberg's REST
catalog spec added exactly this (multi-table commits); on a plain SQL
catalog the same guarantee falls out of the database's own transaction:
every ``UPDATE ... WHERE metadata_location = <expected>`` CAS runs in one
``BEGIN ... COMMIT`` block and the batch lands iff every rowcount is 1
(``SqlBackend.execute_atomic_cas``).

Protocol (two-phase, like any Iceberg commit — data first, pointer last):

1. **Prepare** — every staged per-table ``Transaction`` builds and WRITES
   its new metadata document (manifests, snapshot, lineage ids) exactly as
   a solo commit would, but hands the pointer swap back to this
   coordinator (``Transaction.commit(pointer_swap=...)``) instead of
   CASing it.
2. **Swap** — one ``catalog.update_tables`` call: all pointers move in one
   database transaction, or none do. A reader can never observe table A's
   new snapshot next to table B's old one.
3. **Retry** — on conflict (any pointer stale), every transaction rebases
   onto the freshly-loaded winner state and re-prepares; appends and MOR
   deletes commute, while overwrite and rowdelta transactions validate
   their base file set first (``Transaction._check_base_files``, the same
   validateNoNewFiles rule solo commits apply) and refuse loudly if a
   concurrent writer changed it.

Prepare → swap → retry is one loop, ``swap_all``; the SQL transaction
scripts (``transaction_sql.execute_script``) run through it too.

Failed prepares leave only uniquely-named orphan metadata/manifest files —
the identical debris a lost solo CAS race leaves — and orphan GC collects
them.

Scale: the prepare phase is per-table metadata work (unchanged); the swap
adds ONE short database transaction over N single-row updates. Nothing
data-plane is serialized across tables — only the pointer flips are.
"""

from __future__ import annotations

from iceberg_catalog_postgres_spark.catalog.catalog import (
    CommitConflictError,
    commit_retries,
)
from iceberg_catalog_postgres_spark.catalog.table import Table, Transaction

__all__ = ["MultiTableTransaction"]


def swap_all(catalog, steps, max_retries: int | None = None, rebase=None) -> list:
    """The multi-table swap loop. Each step prepares one slot: called with a
    ``pointer_swap`` recorder, it builds and writes its metadata and hands
    ``(identifier, new, prev, metadata)`` to the recorder instead of
    CASing. Then ONE ``catalog.update_tables`` call moves every recorded
    pointer in one database transaction and returns, per slot, the
    committed table built from the recorded metadata — or, for a step that
    recorded nothing, what the step returned. On conflict nothing has
    landed: ``rebase()`` runs (if given) and every step prepares again, up
    to ``max_retries`` times. ``max_retries`` None means the smallest
    ``commit.retry.num-retries`` among the first attempt's documents."""
    attempt = 0
    while True:
        swaps: list = []
        slots: list[int] = []
        results: list = []
        for i, step in enumerate(steps):
            def record(ident, new_loc, prev_loc, md, _i=i):
                swaps.append((ident, new_loc, prev_loc, md))
                slots.append(_i)

            results.append(step(record))
        if not swaps:
            return results
        if max_retries is None:
            max_retries = min(commit_retries(md.properties) for *_, md in swaps)
        try:
            committed = catalog.update_tables(swaps)
        except CommitConflictError:
            if attempt >= max_retries:
                raise
            attempt += 1
            if rebase is not None:
                rebase()
            continue
        for i, table in zip(slots, committed):
            results[i] = table
        return results


class MultiTableTransaction:
    """Stage transactions on several tables; commit all pointer swaps
    atomically. Usage::

        mt = MultiTableTransaction(catalog)
        mt.transaction(hot).overwrite_dataframe(kept)
        mt.transaction(cold).append_dataframe(archived)
        hot2, cold2 = mt.commit()
    """

    def __init__(self, catalog, max_retries: int | None = None):
        """``max_retries`` None follows the staged tables: the smallest
        ``commit.retry.num-retries`` among them (default 5)."""
        self.catalog = catalog
        self.max_retries = max_retries
        self._txns: list[Transaction] = []

    def transaction(self, table: Table, branch: str = "main") -> Transaction:
        """A staged ``Transaction`` on ``table`` — the same object
        ``new_transaction`` returns, so every staging method (append /
        overwrite / row delta / fence / set_properties / sort_by) works
        unchanged. One table may appear once per multi-transaction."""
        if table.catalog is not self.catalog:
            raise ValueError(
                f"{table.identifier} belongs to a different catalog"
            )
        if any(
            str(t.table.identifier) == str(table.identifier)
            for t in self._txns
        ):
            raise ValueError(
                f"table {table.identifier} is already staged in this "
                f"multi-table transaction"
            )
        txn = Transaction(table, branch=branch)
        self._txns.append(txn)
        return txn

    def commit(self) -> list[Table]:
        """Prepare every staged transaction, swap all pointers in ONE
        database transaction, and return the committed tables in staging
        order. All-or-nothing: a conflict on ANY table commits NOTHING
        (then rebases and retries, bounded)."""
        return swap_all(
            self.catalog,
            [lambda record, t=txn: t.commit(pointer_swap=record) for txn in self._txns],
            self.max_retries,
            self._rebase,
        )

    def _rebase(self) -> None:
        """Reload every staged table at the winner's state. Appends (and
        MOR deletes) re-apply cleanly; overwrite/rowdelta transactions
        whose base FILE SET changed refuse — their staged files were
        computed from state that no longer exists
        (``Transaction._check_base_files``, the rule solo retries apply)."""
        for txn in self._txns:
            fresh = self.catalog.load_table(txn.table.identifier)
            txn._check_base_files(fresh.metadata)
            txn.table = fresh
