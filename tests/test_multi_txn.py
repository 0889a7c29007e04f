"""Multi-table ATOMIC transactions (r13 continuation): N per-table
transactions prepare their metadata solo-style, then every pointer CAS
lands in ONE backend database transaction (``execute_atomic_cas``) — all
or nothing. Covers: archive-move consistency, all-or-nothing on a stale
pointer, append rebasing on conflict, overwrite base-set validation,
concurrent multi-commit races, fences inside a multi-commit, and the
backend primitive's rollback behavior on both SQLite paths."""

from __future__ import annotations

import threading

import pytest

from iceberg_catalog_postgres_spark.catalog.backend import SqliteBackend
from iceberg_catalog_postgres_spark.catalog.catalog import (
    CommitConflictError,
    PostgresCatalog,
    TableIdentifier,
)
from iceberg_catalog_postgres_spark.catalog.multi_txn import MultiTableTransaction


@pytest.fixture
def catalog(tmp_path):
    cat = PostgresCatalog.connect("mtx", None, str(tmp_path / "wh"))
    cat.initialize()
    yield cat
    cat.backend.close()


def _seed(catalog, spark, name, rows):
    df = spark.createDataFrame(rows, "k int, r int")
    t = catalog.create_table(TableIdentifier.parse(name), df.schema)
    if rows:
        t = t.new_transaction().append_dataframe(df.coalesce(1)).commit()
    return t


# ---------------------------------------------------------------------------
# backend primitive


def test_execute_atomic_cas_all_or_nothing():
    be = SqliteBackend(":memory:")
    be.execute("CREATE TABLE p (k TEXT PRIMARY KEY, loc TEXT)")
    be.execute("INSERT INTO p VALUES ('a', 'v1'), ('b', 'v1')")
    # both CAS match -> committed
    counts = be.execute_atomic_cas([
        ("UPDATE p SET loc = 'v2' WHERE k = 'a' AND loc = 'v1'", ()),
        ("UPDATE p SET loc = 'v2' WHERE k = 'b' AND loc = 'v1'", ()),
    ])
    assert counts == [1, 1]
    # one stale -> NOTHING commits (a's update must roll back)
    counts = be.execute_atomic_cas([
        ("UPDATE p SET loc = 'v3' WHERE k = 'a' AND loc = 'v2'", ()),
        ("UPDATE p SET loc = 'v3' WHERE k = 'b' AND loc = 'stale'", ()),
    ])
    assert counts == [1, 0]
    rows, _ = be.execute("SELECT loc FROM p ORDER BY k")
    assert [r[0] for r in rows] == ["v2", "v2"]
    # a raising statement rolls back and re-raises
    with pytest.raises(Exception):
        be.execute_atomic_cas([
            ("UPDATE p SET loc = 'v4' WHERE k = 'a' AND loc = 'v2'", ()),
            ("UPDATE nonexistent SET x = 1", ()),
        ])
    rows, _ = be.execute("SELECT loc FROM p WHERE k = 'a'")
    assert rows[0][0] == "v2"
    be.close()


def test_base_backend_refuses_atomic():
    from iceberg_catalog_postgres_spark.catalog.backend import SqlBackend

    class Fake(SqlBackend):
        def execute(self, sql, params=()):
            return [], 0

        def close(self):
            pass

    with pytest.raises(ValueError, match="atomic multi-statement"):
        Fake().execute_atomic_cas([("UPDATE x SET y = 1", ())])


# ---------------------------------------------------------------------------
# MultiTableTransaction


def test_archive_move_is_atomic_and_consistent(spark, catalog):
    hot = _seed(catalog, spark, "ns.hot", [(i, i % 3) for i in range(12)])
    cold = _seed(catalog, spark, "ns.cold", [])
    keep = hot.to_df(spark).filter("r <> 2")
    arch = hot.to_df(spark).filter("r = 2")
    mt = MultiTableTransaction(catalog)
    mt.transaction(hot).overwrite_dataframe(keep.coalesce(1))
    mt.transaction(cold).append_dataframe(arch.coalesce(1))
    hot2, cold2 = mt.commit()
    assert hot2.to_df(spark).count() == 8
    assert cold2.to_df(spark).count() == 4
    # union is the original table: nothing lost, nothing duplicated
    got = sorted(
        r.k for r in hot2.to_df(spark).union(cold2.to_df(spark)).collect()
    )
    assert got == list(range(12))


def test_stale_pointer_commits_nothing(spark, catalog):
    hot = _seed(catalog, spark, "ns.hot", [(i, i % 3) for i in range(6)])
    cold = _seed(catalog, spark, "ns.cold", [])
    extra = spark.createDataFrame([(99, 9)], "k int, r int")
    # move the head AFTER capturing the stale handle
    hot.new_transaction().append_dataframe(extra.coalesce(1)).commit()
    mt = MultiTableTransaction(catalog, max_retries=0)
    mt.transaction(hot).overwrite_dataframe(
        hot.to_df(spark).filter("r = 0").coalesce(1)
    )
    mt.transaction(cold).append_dataframe(extra.coalesce(1))
    with pytest.raises(CommitConflictError, match="nothing was committed"):
        mt.commit()
    # the cold append must NOT have landed even though its CAS matched
    assert catalog.load_table(TableIdentifier.parse("ns.cold")).record_count() == 0


def test_append_rebase_on_conflict(spark, catalog):
    hot = _seed(catalog, spark, "ns.hot", [(1, 0)])
    cold = _seed(catalog, spark, "ns.cold", [(2, 0)])
    extra = spark.createDataFrame([(99, 9)], "k int, r int")
    stale_cold = cold
    catalog.load_table(TableIdentifier.parse("ns.cold")).new_transaction(
    ).append_dataframe(extra.coalesce(1)).commit()
    mt = MultiTableTransaction(catalog)
    mt.transaction(hot).append_dataframe(extra.coalesce(1))
    mt.transaction(stale_cold).append_dataframe(extra.coalesce(1))
    h, c = mt.commit()  # cold rebases; appends commute
    assert h.record_count() == 2
    assert c.record_count() == 3


def test_overwrite_base_change_refuses_on_rebase(spark, catalog):
    hot = _seed(catalog, spark, "ns.hot", [(i, i % 2) for i in range(4)])
    cold = _seed(catalog, spark, "ns.cold", [])
    extra = spark.createDataFrame([(99, 9)], "k int, r int")
    stale = hot
    hot.new_transaction().append_dataframe(extra.coalesce(1)).commit()
    mt = MultiTableTransaction(catalog)  # retries allowed — still refuses
    mt.transaction(stale).overwrite_dataframe(
        stale.to_df(spark).filter("r = 0").coalesce(1)
    )
    mt.transaction(cold).append_dataframe(extra.coalesce(1))
    with pytest.raises(CommitConflictError, match="changed the data-file set"):
        mt.commit()


def test_concurrent_multi_commits_race(spark, catalog):
    _seed(catalog, spark, "ns.a", [(1, 0)])
    _seed(catalog, spark, "ns.b", [(2, 0)])
    extra = spark.createDataFrame([(99, 9)], "k int, r int")
    errs = []

    def run():
        try:
            mt = MultiTableTransaction(catalog)
            mt.transaction(
                catalog.load_table(TableIdentifier.parse("ns.a"))
            ).append_dataframe(extra.coalesce(1))
            mt.transaction(
                catalog.load_table(TableIdentifier.parse("ns.b"))
            ).append_dataframe(extra.coalesce(1))
            mt.commit()
        except Exception as e:  # pragma: no cover - failure surface
            errs.append(e)

    threads = [threading.Thread(target=run) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert catalog.load_table(TableIdentifier.parse("ns.a")).record_count() == 5
    assert catalog.load_table(TableIdentifier.parse("ns.b")).record_count() == 5


def test_fence_noop_inside_multi(spark, catalog):
    """A fenced transaction whose epoch already landed no-ops while the
    OTHER table still commits — exactly-once composes with multi-table."""
    a = _seed(catalog, spark, "ns.a", [(1, 0)])
    b = _seed(catalog, spark, "ns.b", [(2, 0)])
    extra = spark.createDataFrame([(99, 9)], "k int, r int")
    a = (
        a.new_transaction().fence("epoch", 7)
        .append_dataframe(extra.coalesce(1)).commit()
    )
    mt = MultiTableTransaction(catalog)
    mt.transaction(a).fence("epoch", 7).append_dataframe(extra.coalesce(1))
    mt.transaction(b).append_dataframe(extra.coalesce(1))
    a2, b2 = mt.commit()
    assert a2.record_count() == 2  # replayed epoch: no-op
    assert b2.record_count() == 2  # the live table still landed


def test_staging_guards(spark, catalog):
    a = _seed(catalog, spark, "ns.a", [(1, 0)])
    mt = MultiTableTransaction(catalog)
    mt.transaction(a)
    with pytest.raises(ValueError, match="already staged"):
        mt.transaction(catalog.load_table(TableIdentifier.parse("ns.a")))
    other = PostgresCatalog.connect("other", None, catalog.object_store().root)
    other.initialize()
    foreign = other.create_table(TableIdentifier.parse("ns.x"), a.schema)
    with pytest.raises(ValueError, match="different catalog"):
        mt.transaction(foreign)
    assert MultiTableTransaction(catalog).commit() == []


@pytest.mark.parametrize("prop, attempts", [("0", 1), (None, 6)], ids=["zero", "default"])
def test_swap_budget_follows_commit_retries(spark, catalog, monkeypatch, prop, attempts):
    """With no explicit ``max_retries`` the multi-table swap retries as often
    as the smallest ``commit.retry.num-retries`` among the staged tables
    allows (default 5): a swap that always conflicts is attempted
    budget + 1 times."""
    a = _seed(catalog, spark, "ns.a", [(1, 0)])
    b = _seed(catalog, spark, "ns.b", [(2, 0)])
    if prop is not None:
        b = b.update_properties({"commit.retry.num-retries": prop})
    swaps = []

    def always_stale(updates):
        swaps.append(len(updates))
        raise CommitConflictError("stale")

    monkeypatch.setattr(catalog, "update_tables", always_stale)
    extra = spark.createDataFrame([(99, 9)], "k int, r int").coalesce(1)
    mt = MultiTableTransaction(catalog)
    mt.transaction(a).append_dataframe(extra)
    mt.transaction(b).append_dataframe(extra)
    with pytest.raises(CommitConflictError):
        mt.commit()
    assert swaps == [2] * attempts
