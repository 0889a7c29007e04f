"""Catalog tests.

1. The reference's own lifecycle round-trip (mod.rs:397-480) ported:
   initialize -> create (2-string-col schema, identifier_field_ids=[1,2]) ->
   exists -> transaction commit changes the metadata pointer -> drop ->
   not exists.
2. The concurrent-CAS race the reference leaves untested (SURVEY §5):
   N threads race commits; with retries all succeed exactly once and every
   staged file survives.
3. Spark data round-trip: append a DataFrame, load through the catalog,
   verify rows + snapshot time travel.
"""

from __future__ import annotations

import threading

import pytest

from tests.conftest import soak_only
from pyspark.sql.types import StringType, StructField, StructType

from iceberg_catalog_postgres_spark.catalog.catalog import (
    NoSuchTableError,
    PostgresCatalog,
    TableAlreadyExistsError,
    TableIdentifier,
)
from iceberg_catalog_postgres_spark.catalog.metadata import FIELD_ID_KEY

SCHEMA = StructType(
    [
        StructField("one", StringType(), True, {FIELD_ID_KEY: 1}),
        StructField("two", StringType(), True, {FIELD_ID_KEY: 2}),
    ]
)


@pytest.fixture(params=["sqlite", "postgres"])
def catalog(request, tmp_path):
    """Every catalog test runs against BOTH backends: SQLite (the in-process
    default) and a live PostgreSQL 15 via the pure-Python wire client — the
    reference's actual deployment shape (mod.rs:414-415). The PG variant
    shares the session-scoped private server and isolates tests by unique
    catalog_name (rows are keyed by it); it skips cleanly where the server
    binaries are absent."""
    if request.param == "postgres":
        import uuid as _uuid

        url = request.getfixturevalue("pg_url")
        cat = PostgresCatalog.connect(
            f"test_{_uuid.uuid4().hex[:10]}", url, str(tmp_path / "warehouse")
        )
    else:
        cat = PostgresCatalog.connect("test_catalog", None, str(tmp_path / "warehouse"))
    cat.initialize()
    yield cat
    cat.backend.close()


def test_lifecycle_create_update_drop(catalog, spark, sf_smoke):
    ident = TableIdentifier.parse("test.table1")

    table = catalog.create_table(ident, SCHEMA, identifier_field_ids=[1, 2])
    assert catalog.table_exists(ident)
    assert [str(t) for t in catalog.list_tables("test")] == ["test.table1"]

    metadata_location = table.metadata_location()
    assert "metadata" in metadata_location

    # Snapshot commit must CHANGE the metadata pointer (mod.rs:464-471).
    df = spark.createDataFrame([("a", "b"), ("c", "d")], SCHEMA)
    table2 = table.new_transaction().append_dataframe(df).commit()
    assert table2.metadata_location() != metadata_location
    assert table2.metadata.current_snapshot() is not None

    loaded = catalog.load_table(ident)
    assert loaded.metadata_location() == table2.metadata_location()
    assert loaded.to_df(spark).count() == 2
    assert [f.name for f in loaded.schema.fields] == ["one", "two"]
    assert loaded.schema.fields[0].metadata[FIELD_ID_KEY] == 1

    catalog.drop_table(ident)
    assert not catalog.table_exists(ident)
    with pytest.raises(NoSuchTableError):
        catalog.load_table(ident)


def test_create_duplicate_fails(catalog):
    ident = TableIdentifier.parse("test.dup")
    catalog.create_table(ident, SCHEMA)
    with pytest.raises(TableAlreadyExistsError):
        catalog.create_table(ident, SCHEMA)


def test_register_table_idempotent_conflict(catalog):
    ident = TableIdentifier.parse("test.reg")
    t = catalog.create_table(ident, SCHEMA)
    with pytest.raises(TableAlreadyExistsError):
        catalog.register_table(ident, t.metadata_location())


def test_drop_missing_table_errors(catalog):
    with pytest.raises(NoSuchTableError):
        catalog.drop_table(TableIdentifier.parse("test.ghost"))


def test_invalidate_table_noop(catalog):
    assert catalog.invalidate_table(TableIdentifier.parse("test.x")) is None


def test_empty_table_reads_empty_df(catalog, spark):
    ident = TableIdentifier.parse("test.empty")
    table = catalog.create_table(ident, SCHEMA)
    df = table.to_df(spark)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["one", "two"]


def test_concurrent_cas_commits_all_succeed(catalog, spark):
    """The race the reference never tests: N writers, one table. With the
    bounded-retry transaction every writer's snapshot lands; the final
    metadata contains all files; pointer history is linear."""
    ident = TableIdentifier.parse("test.race")
    catalog.create_table(ident, SCHEMA)

    n_writers = 8
    errors: list[Exception] = []

    def writer(i: int) -> None:
        try:
            t = catalog.load_table(ident)
            t.new_transaction().append_files([f"data/file-{i}.parquet"]).commit()
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert errors == []
    final = catalog.load_table(ident)
    files = final.metadata.current_data_files()
    assert sorted(files) == sorted(f"data/file-{i}.parquet" for i in range(n_writers))
    # one snapshot per writer, linear history
    assert len(final.metadata.snapshots) == n_writers


def test_cas_conflict_without_retry_raises(catalog):
    """Direct update_table with a stale expected pointer must fail with
    rowcount 0 -> CommitConflictError (mod.rs:342-343)."""
    from iceberg_catalog_postgres_spark.catalog.catalog import CommitConflictError

    ident = TableIdentifier.parse("test.stale")
    t = catalog.create_table(ident, SCHEMA)
    t.new_transaction().append_files(["data/a.parquet"]).commit()
    with pytest.raises(CommitConflictError):
        catalog.update_table(ident, "data.db/new.metadata.json", t.metadata_location() + "-stale")


def test_snapshot_time_travel(catalog, spark):
    ident = TableIdentifier.parse("test.travel")
    table = catalog.create_table(ident, SCHEMA)
    df1 = spark.createDataFrame([("s1", "x")], SCHEMA)
    df2 = spark.createDataFrame([("s2", "y")], SCHEMA)
    t1 = table.new_transaction().append_dataframe(df1).commit()
    snap1 = t1.metadata.current_snapshot_id
    t2 = t1.new_transaction().append_dataframe(df2).commit()

    assert t2.to_df(spark).count() == 2
    assert t2.to_df(spark, snapshot_id=snap1).count() == 1


def test_unknown_snapshot_id_raises_value_error(catalog, spark):
    """An unknown snapshot id is a ValueError everywhere. A bare
    StopIteration from the lookup would end an enclosing ``map`` early and
    silently shorten its result."""
    t = catalog.create_table(TableIdentifier.parse("test.unknown_snap"), SCHEMA)
    t = t.new_transaction().append_rows(spark, [("a", "x")], SCHEMA).commit()
    cur = t.metadata.current_snapshot_id
    bad = 123 if cur != 123 else 124
    for call in (
        lambda: t.planned_files("one", "a", "z", snapshot_id=bad),
        lambda: t.planned_files_composed(points={"one": "a"}, snapshot_id=bad),
        lambda: t.record_count(snapshot_id=bad),
        lambda: t.to_df(spark, snapshot_id=bad),
    ):
        with pytest.raises(ValueError, match=f"no such snapshot: {bad}"):
            call()
    with pytest.raises(ValueError, match="no such snapshot"):
        list(map(lambda s: t.planned_files("one", "a", "z", snapshot_id=s), [cur, bad, cur]))


def test_schema_evolution_nulls_for_old_files(catalog, spark, sf_smoke):
    """Files written under schema v1 must surface the v2 column as null."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    ident = TableIdentifier.parse("test.evolve")
    v1 = StructType([StructField("id", LongType(), True), StructField("a", StringType(), True)])
    t = catalog.create_table(ident, v1)
    t = t.new_transaction().append_dataframe(spark.createDataFrame([(1, "x")], v1)).commit()

    v2 = StructType([*v1.fields, StructField("b", StringType(), True)])
    t = t.commit_schema(v2)
    assert [f.name for f in t.schema.fields] == ["id", "a", "b"]
    # field ids: existing preserved, new one fresh
    from iceberg_catalog_postgres_spark.catalog.metadata import FIELD_ID_KEY

    ids = [f.metadata[FIELD_ID_KEY] for f in t.schema.fields]
    assert ids == [1, 2, 3]

    t = t.new_transaction().append_dataframe(spark.createDataFrame([(2, "y", "z")], v2)).commit()
    rows = {r["id"]: (r["a"], r["b"]) for r in t.to_df(spark).collect()}
    assert rows == {1: ("x", None), 2: ("y", "z")}


def test_stream_sink_batches_are_atomic_commits(catalog, spark, sf_smoke):
    """foreachBatch append: table row count equals streamed rows and every
    batch added exactly one snapshot."""
    from iceberg_catalog_postgres_spark.registry import load_all

    reg = load_all()
    out = reg["catalog_stream_sink_append"].fn(spark, sf_smoke)
    assert out.count() == 5  # one row per event_type in the complete-mode agg


def test_compaction_reduces_files_preserves_rows(spark, sf_smoke):
    from iceberg_catalog_postgres_spark.registry import load_all

    reg = load_all()
    row = reg["catalog_compaction"].fn(spark, sf_smoke).collect()[0]
    assert row["files_before"] > row["files_after"]
    assert row["files_after"] == 1
    assert row["rows_before"] == row["rows_after"]


def test_merge_upsert_replaces_by_key(catalog, spark):
    from iceberg_catalog_postgres_spark.catalog.maintenance import merge_upsert
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True), StructField("v", StringType(), True)])
    ident = TableIdentifier.parse("test.merge")
    t = catalog.create_table(ident, schema)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(1, "a"), (2, "b")], schema)
    ).commit()
    t = merge_upsert(
        spark, t, spark.createDataFrame([(2, "B"), (3, "c")], schema), ["k"]
    )
    rows = {r["k"]: r["v"] for r in t.to_df(spark).collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}
    assert t.metadata.current_snapshot().operation == "overwrite"


def test_incremental_read_returns_only_new_rows(catalog, spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True), StructField("v", StringType(), True)])
    ident = TableIdentifier.parse("test.cdc")
    t = catalog.create_table(ident, schema)
    t = t.new_transaction().append_dataframe(spark.createDataFrame([(1, "a"), (2, "b")], schema)).commit()
    s1 = t.metadata.current_snapshot_id
    t = t.new_transaction().append_dataframe(spark.createDataFrame([(3, "c")], schema)).commit()
    s2 = t.metadata.current_snapshot_id

    inc = t.incremental_df(spark, s1, s2)
    assert [r["k"] for r in inc.collect()] == [3]

    # crossing an overwrite must refuse
    t = t.new_transaction().overwrite_dataframe(spark.createDataFrame([(9, "z")], schema)).commit()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-append"):
        t.incremental_df(spark, s1, t.metadata.current_snapshot_id)


def test_expire_snapshots_removes_orphans_keeps_data(catalog, spark):
    from iceberg_catalog_postgres_spark.catalog.maintenance import expire_snapshots
    import os

    ident = TableIdentifier.parse("test.expire")
    t = catalog.create_table(ident, SCHEMA)
    for i in range(4):
        t = t.new_transaction().append_dataframe(
            spark.createDataFrame([(f"r{i}", "x")], SCHEMA)
        ).commit()
    assert len(t.metadata.snapshots) == 4
    all_files_before = [catalog.object_store().resolve(f) for f in t.metadata.snapshots[0].data_files]

    t = expire_snapshots(t, keep_last=2)
    assert len(t.metadata.snapshots) == 2
    # current data intact: appends accumulate, so latest snapshot has all 4 rows
    assert t.to_df(spark).count() == 4
    # reload through the catalog sees the pruned history
    assert len(catalog.load_table(ident).metadata.snapshots) == 2
    # no orphans: appends reference cumulative file lists, so snapshot-1's
    # files are still live in the kept snapshots and must NOT be deleted
    for f in all_files_before:
        assert os.path.exists(f)


def test_expire_snapshots_deletes_overwritten_files(catalog, spark):
    from iceberg_catalog_postgres_spark.catalog.maintenance import expire_snapshots
    import os

    ident = TableIdentifier.parse("test.expire2")
    t = catalog.create_table(ident, SCHEMA)
    t = t.new_transaction().append_dataframe(spark.createDataFrame([("old", "x")], SCHEMA)).commit()
    old_files = [catalog.object_store().resolve(f) for f in t.metadata.current_data_files()]
    t = t.new_transaction().overwrite_dataframe(spark.createDataFrame([("new", "y")], SCHEMA)).commit()
    t = t.new_transaction().append_dataframe(spark.createDataFrame([("new2", "z")], SCHEMA)).commit()

    t = expire_snapshots(t, keep_last=2)
    # the overwritten (pre-overwrite) files are orphans -> physically deleted
    for f in old_files:
        assert not os.path.exists(f)
    assert t.to_df(spark).count() == 2


def test_mor_delete_no_rewrite_time_travel_and_inheritance(catalog, spark):
    """Equality deletes: no data-file rewrite, pre-delete snapshot still
    sees deleted rows, appends inherit pending deletes, overwrite clears."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True), StructField("v", StringType(), True)])
    ident = TableIdentifier.parse("test.mor")
    t = catalog.create_table(ident, schema)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema)
    ).commit()
    pre_delete = t.metadata.current_snapshot_id
    files_before = list(t.metadata.current_data_files())

    keys = spark.createDataFrame([(2,)], "k long")
    t = t.new_transaction().delete_keys_dataframe(keys).commit()
    assert t.metadata.current_data_files() == files_before
    assert len(t.metadata.current_delete_files()) >= 1
    assert t.metadata.current_snapshot().operation == "delete"
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == [1, 3]
    # time travel to the pre-delete snapshot still sees k=2
    assert sorted(r["k"] for r in t.to_df(spark, pre_delete).collect()) == [1, 2, 3]

    # append inherits the pending delete
    t = t.new_transaction().append_dataframe(spark.createDataFrame([(4, "d")], schema)).commit()
    assert len(t.metadata.current_delete_files()) >= 1
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == [1, 3, 4]

    # a second delete accumulates
    t = t.new_transaction().delete_keys_dataframe(spark.createDataFrame([(1,)], "k long")).commit()
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == [3, 4]

    # compaction (overwrite) materializes and clears delete files
    from iceberg_catalog_postgres_spark.catalog.maintenance import compact_table

    t = compact_table(spark, t, target_partitions=1)
    assert t.metadata.current_delete_files() == []
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == [3, 4]


def test_mor_delete_cannot_mix_with_writes(catalog, spark):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True)])
    t = catalog.create_table(TableIdentifier.parse("test.mormix"), schema)
    df = spark.createDataFrame([(1,)], schema)
    txn = t.new_transaction().append_dataframe(df)
    with pytest.raises(ValueError, match="mix"):
        txn.delete_keys_dataframe(df)
    txn2 = t.new_transaction().delete_keys_dataframe(df)
    with pytest.raises(ValueError, match="mix"):
        txn2.append_dataframe(df)


def test_cow_delete_rewrites_only_overlapping_files(catalog, spark):
    """Footer-stats pruning: disjoint files carried over byte-identical."""
    from iceberg_catalog_postgres_spark.catalog.maintenance import delete_where_cow
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True), StructField("v", StringType(), True)])
    t = catalog.create_table(TableIdentifier.parse("test.cow"), schema)
    for batch in ([(1, "a"), (5, "b")], [(10, "c"), (15, "d")], [(20, "e"), (25, "f")]):
        t = t.new_transaction().append_dataframe(
            spark.createDataFrame(batch, schema).coalesce(1)
        ).commit()
    before = set(t.metadata.current_data_files())
    assert len(before) == 3

    t, n_rewritten, n_kept = delete_where_cow(spark, t, "k", 10, 15)
    assert (n_rewritten, n_kept) == (1, 2)
    # the two disjoint files survive with identical paths (no rewrite)
    assert len(set(t.metadata.current_data_files()) & before) == 2
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == [1, 5, 20, 25]
    assert t.metadata.current_snapshot().summary["files-kept"] == "2"


def test_cow_delete_composes_with_pending_mor_deletes(catalog, spark):
    from iceberg_catalog_postgres_spark.catalog.maintenance import delete_where_cow
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True)])
    t = catalog.create_table(TableIdentifier.parse("test.cowmor"), schema)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(i,) for i in range(10)], schema)
    ).commit()
    t = t.new_transaction().delete_keys_dataframe(spark.createDataFrame([(0,)], "k long")).commit()
    t, _, _ = delete_where_cow(spark, t, "k", 7, 9)
    # equality delete (k=0) preserved across the cow commit
    assert len(t.metadata.current_delete_files()) >= 1
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == [1, 2, 3, 4, 5, 6]


def test_expire_snapshots_gc_includes_delete_files(catalog, spark):
    import os
    from iceberg_catalog_postgres_spark.catalog.maintenance import compact_table, expire_snapshots
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True)])
    t = catalog.create_table(TableIdentifier.parse("test.gcdel"), schema)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(1,), (2,)], schema)
    ).commit()
    t = t.new_transaction().delete_keys_dataframe(spark.createDataFrame([(1,)], "k long")).commit()
    del_files = [catalog.object_store().resolve(f) for f in t.metadata.current_delete_files()]
    t = compact_table(spark, t)  # materializes; delete file now only in history
    t = t.new_transaction().append_dataframe(spark.createDataFrame([(3,)], schema)).commit()
    t = expire_snapshots(t, keep_last=2)
    for f in del_files:  # expired-only delete files are GC'd
        assert not os.path.exists(f)
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == [2, 3]


def test_positional_delete_arbitrary_predicate(catalog, spark):
    """Positional deletes: arbitrary-predicate delete without rewrite,
    time travel intact, compaction materializes, composes with cow."""
    from iceberg_catalog_postgres_spark.catalog.maintenance import (
        compact_table,
        delete_where_mor,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True), StructField("v", StringType(), True)])
    t = catalog.create_table(TableIdentifier.parse("test.posdel"), schema)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(i, "ab"[i % 2]) for i in range(8)], schema)
    ).commit()
    pre = t.metadata.current_snapshot_id
    files_before = list(t.metadata.current_data_files())

    # delete odd keys with v='b' (predicate, not a key list)
    t = delete_where_mor(spark, t, (F.col("v") == "b") & (F.col("k") > 2))
    assert t.metadata.current_data_files() == files_before
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == [0, 1, 2, 4, 6]
    assert sorted(r["k"] for r in t.to_df(spark, pre).collect()) == list(range(8))

    # composes with an equality delete on top
    t = t.new_transaction().delete_keys_dataframe(spark.createDataFrame([(4,)], "k long")).commit()
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == [0, 1, 2, 6]

    # compaction materializes both delete flavors and clears them
    t = compact_table(spark, t)
    assert t.metadata.current_position_delete_files() == []
    assert t.metadata.current_delete_files() == []
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == [0, 1, 2, 6]


def test_cow_rewrite_does_not_resurrect_positional_deletes(catalog, spark):
    from iceberg_catalog_postgres_spark.catalog.maintenance import (
        delete_where_cow,
        delete_where_mor,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True)])
    t = catalog.create_table(TableIdentifier.parse("test.cowres"), schema)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(i,) for i in range(10)], schema).coalesce(1)
    ).commit()
    t = delete_where_mor(spark, t, F.col("k") == 1)  # positional delete of k=1
    # cow-delete [8,9] forces a rewrite of the single file; k=1 must NOT
    # come back under the new file path
    t, n_rewritten, _ = delete_where_cow(spark, t, "k", 8, 9)
    assert n_rewritten == 1
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == [0, 2, 3, 4, 5, 6, 7]


def test_mor_read_plan_is_broadcast_anti_join(catalog, spark):
    """The merge-on-read read path must not shuffle the data side: delete
    files apply as a BroadcastHashJoin LeftAnti."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True)])
    t = catalog.create_table(TableIdentifier.parse("test.morplan"), schema)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(i,) for i in range(20)], schema)
    ).commit()
    t = t.new_transaction().delete_keys_dataframe(spark.createDataFrame([(5,)], "k long")).commit()
    plan = t.to_df(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan, plan[:1500]


def test_planned_files_prune_is_superset_safe(catalog, spark):
    """Pruned scan must equal full scan + filter; planning skips disjoint
    files but never loses a matching row."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True)])
    t = catalog.create_table(TableIdentifier.parse("test.prune"), schema)
    for batch in ([(1,), (5,)], [(10,), (15,)], [(20,), (25,)]):
        t = t.new_transaction().append_dataframe(
            spark.createDataFrame(batch, schema).coalesce(1)
        ).commit()

    assert len(t.planned_files("k", 10, 15)) == 1
    assert len(t.planned_files("k", 5, 10)) == 2  # straddles two files
    assert len(t.planned_files("k", 100, 200)) == 0
    full = sorted(
        r["k"] for r in t.to_df(spark).filter(F.col("k").between(10, 15)).collect()
    )
    pruned = sorted(
        r["k"]
        for r in t.to_df(spark, prune=("k", 10, 15))
        .filter(F.col("k").between(10, 15))
        .collect()
    )
    assert pruned == full == [10, 15]
    # pruning composes with merge-on-read deletes
    t = t.new_transaction().delete_keys_dataframe(spark.createDataFrame([(10,)], "k long")).commit()
    assert sorted(
        r["k"]
        for r in t.to_df(spark, prune=("k", 10, 15))
        .filter(F.col("k").between(10, 15))
        .collect()
    ) == [15]


def test_equality_delete_reinsert_not_masked(catalog, spark):
    """Iceberg v2 sequence scoping: a key deleted and then re-inserted (the
    standard CDC delete-then-reinsert pattern) must be visible — the pending
    equality delete applies only to data files with a LOWER sequence number
    than the delete file (round-2 fix; round 1 masked the re-insert)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True), StructField("v", StringType(), True)])
    t = catalog.create_table(TableIdentifier.parse("test.reinsert"), schema)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(1, "a"), (2, "b")], schema)
    ).commit()
    t = t.new_transaction().delete_keys_dataframe(
        spark.createDataFrame([(2,)], "k long")
    ).commit()
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == [1]
    # re-insert the deleted key AFTER the delete commit
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(2, "b2")], schema)
    ).commit()
    rows = {(r["k"], r["v"]) for r in t.to_df(spark).collect()}
    assert rows == {(1, "a"), (2, "b2")}
    # and a later delete still removes both old and re-inserted generations
    t = t.new_transaction().delete_keys_dataframe(
        spark.createDataFrame([(1,)], "k long")
    ).commit()
    assert {(r["k"], r["v"]) for r in t.to_df(spark).collect()} == {(2, "b2")}


def test_equality_delete_null_key_is_null_safe(catalog, spark):
    """Iceberg equality deletes treat NULL as equal to NULL; the anti-join
    must use <=> (round-2 fix; a plain equi-join never matches NULL keys)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True), StructField("v", StringType(), True)])
    t = catalog.create_table(TableIdentifier.parse("test.nullkey"), schema)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(None, "x"), (1, "a")], schema)
    ).commit()
    t = t.new_transaction().delete_keys_dataframe(
        spark.createDataFrame([(None,)], "k long")
    ).commit()
    rows = {(r["k"], r["v"]) for r in t.to_df(spark).collect()}
    assert rows == {(1, "a")}


def test_overwrite_retry_validates_no_new_files(catalog, spark):
    """validateNoNewFiles: an overwrite (compaction/merge) computed against a
    base snapshot must NOT clobber a concurrent append on retry — round 1
    silently dropped the appended rows (last-writer-wins)."""
    from iceberg_catalog_postgres_spark.catalog.catalog import CommitConflictError
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True)])
    ident = TableIdentifier.parse("test.owvalidate")
    t = catalog.create_table(ident, schema)
    t = t.new_transaction().append_dataframe(spark.createDataFrame([(1,)], schema)).commit()

    # stage an overwrite against the current state
    txn = t.new_transaction().overwrite_dataframe(spark.createDataFrame([(10,)], schema))
    # a concurrent writer appends and wins the race
    other = catalog.load_table(ident)
    other = other.new_transaction().append_dataframe(
        spark.createDataFrame([(2,)], schema)
    ).commit()
    with pytest.raises(CommitConflictError, match="recompute"):
        txn.commit()
    # the winner's append is intact
    assert sorted(r["k"] for r in catalog.load_table(ident).to_df(spark).collect()) == [1, 2]

    # an APPEND staged against stale state still retries blindly and succeeds
    stale = catalog.load_table(ident)
    third = catalog.load_table(ident)
    third.new_transaction().append_dataframe(spark.createDataFrame([(3,)], schema)).commit()
    stale.new_transaction().append_dataframe(spark.createDataFrame([(4,)], schema)).commit()
    assert sorted(
        r["k"] for r in catalog.load_table(ident).to_df(spark).collect()
    ) == [1, 2, 3, 4]


def test_stale_maintenance_commits_never_retry_blindly(catalog, spark, monkeypatch):
    """Overwrite-style maintenance commits make one CAS attempt: on a stale
    handle (a concurrent append won the race) they raise instead of
    re-applying a rewrite computed from the old file set, which would drop
    the winner's rows. The winner's pointer, files and rows stay intact."""
    import os

    from iceberg_catalog_postgres_spark.catalog import maintenance as mx
    from iceberg_catalog_postgres_spark.catalog import metadata as md_mod
    from iceberg_catalog_postgres_spark.catalog.catalog import CommitConflictError
    from pyspark.sql.types import LongType, StructField, StructType

    monkeypatch.setattr(md_mod, "MANIFEST_THRESHOLD", 1)  # chunked chain
    schema = StructType([StructField("k", LongType(), True)])
    ident = TableIdentifier.parse("test.stalemaint")
    t = catalog.create_table(ident, schema)
    for i in range(4):
        t = t.new_transaction().append_rows(spark, [(i,)], schema).commit()
    stale = catalog.load_table(ident)
    winner = t.new_transaction().append_rows(spark, [(99,)], schema).commit()
    store = catalog.object_store()
    for name, run in (
        ("expire_snapshots", lambda: mx.expire_snapshots(stale, keep_last=1)),
        ("rewrite_manifests", lambda: mx.rewrite_manifests(stale, max_chunks=1)),
        (
            "rewrite_small_files",
            lambda: mx.rewrite_small_files(spark, stale, target_rows=100),
        ),
    ):
        with pytest.raises(CommitConflictError):
            run()
        now = catalog.load_table(ident)
        assert now.metadata_location() == winner.metadata_location(), name
        assert all(
            os.path.exists(store.resolve(f))
            for f in winner.metadata.current_data_files()
        ), name
        assert now.record_count() == 5, name


def test_snapshot_ids_collision_free_and_in_range(catalog, spark):
    """Snapshot ids come from uuid4 entropy masked to 63 bits (positive
    int64), re-rolled against existing ids — epoch-ms ids collided for
    commits in the same millisecond and time-travel resolved the wrong one."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True)])
    t = catalog.create_table(TableIdentifier.parse("test.snapids"), schema)
    for i in range(5):  # rapid commits, same millisecond likely
        t = t.new_transaction().append_dataframe(
            spark.createDataFrame([(i,)], schema)
        ).commit()
    ids = [s.snapshot_id for s in t.metadata.snapshots]
    assert len(ids) == len(set(ids)) == 5
    assert all(0 < i < 2**63 for i in ids)
    seqs = [s.sequence_number for s in t.metadata.snapshots]
    assert seqs == [1, 2, 3, 4, 5]


@soak_only
def test_manifest_spill_reuse_reads_and_gc(catalog, spark, monkeypatch):
    """Manifest-list indirection: above the threshold, snapshots spill file
    lists to content-addressed manifest chunks; additive commits reuse the
    parent's chunks + one delta chunk; reads (current, time-travel,
    incremental, pruned) are unaffected; expiry GCs orphaned chunks."""
    import json as _json

    from iceberg_catalog_postgres_spark.catalog import metadata as md_mod
    from pyspark.sql.types import LongType, StructField, StructType

    monkeypatch.setattr(md_mod, "MANIFEST_THRESHOLD", 4)
    schema = StructType([StructField("k", LongType(), True)])
    ident = TableIdentifier.parse("test.manifested")
    t = catalog.create_table(ident, schema)

    snap_of = []
    for i in range(7):
        t = t.new_transaction().append_dataframe(
            spark.createDataFrame([(i,)], schema).coalesce(1)
        ).commit()
        snap_of.append(t.metadata.current_snapshot_id)

    snaps = t.metadata.snapshots
    # first 4 commits inline (<= threshold of 4 files), later ones spilled
    assert snaps[3].manifests is None
    assert snaps[4].manifests is not None
    # additive reuse: each append adds exactly one delta chunk on top of the
    # parent's chunks, sharing the prefix
    assert len(snaps[5].manifests) == len(snaps[4].manifests) + 1
    assert snaps[5].manifests[: len(snaps[4].manifests)] == snaps[4].manifests
    assert snaps[6].manifests[: len(snaps[5].manifests)] == snaps[5].manifests

    # the serialized metadata holds pointers, not file lists, for spilled snaps
    raw = _json.loads(catalog.object_store().get(t.metadata_location()).decode())
    spilled = [s for s in raw["snapshots"] if "manifests" in s]
    assert len(spilled) == 3
    assert all("data-files" not in s for s in spilled)

    # a fresh load through the catalog inflates everything
    t2 = catalog.load_table(ident)
    assert sorted(r["k"] for r in t2.to_df(spark).collect()) == list(range(7))
    # time travel to a spilled snapshot
    assert sorted(r["k"] for r in t2.to_df(spark, snap_of[4]).collect()) == list(range(5))
    # incremental read across the spill boundary
    inc = t2.incremental_df(spark, snap_of[3], snap_of[6])
    assert sorted(r["k"] for r in inc.collect()) == [4, 5, 6]
    # pruned scan still plans from (inflated) metadata
    assert sorted(
        r["k"] for r in t2.to_df(spark, prune=("k", 5, 6)).filter("k >= 5").collect()
    ) == [5, 6]

    # overwrite rewrites manifests fresh; expiry GCs the orphaned chunks
    old_chunks = {md_mod.chunk_path(m) for s in snaps if s.manifests for m in s.manifests}
    big = spark.createDataFrame([(i,) for i in range(10)], schema).repartition(6)
    t2 = t2.new_transaction().overwrite_dataframe(big).commit()
    from iceberg_catalog_postgres_spark.catalog.maintenance import expire_snapshots

    t3 = expire_snapshots(t2, keep_last=1)
    store = catalog.object_store()
    assert all(not store.exists(m) for m in old_chunks), "orphan chunks not GC'd"
    live_chunks = [md_mod.chunk_path(m) for m in t3.metadata.current_snapshot().manifests]
    assert live_chunks and all(store.exists(m) for m in live_chunks)
    assert sorted(r["k"] for r in catalog.load_table(ident).to_df(spark).collect()) == list(
        range(10)
    )


def test_seq_scoped_mor_read_plan_two_cohorts(catalog, spark):
    """After append -> delete -> append, the read splits into two seq
    cohorts: pre-delete files behind a BroadcastHashJoin LeftAnti, the
    post-delete file scanned clean, unioned — still no shuffle or sort-merge
    of the data side, and the re-inserted key must survive."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True)])
    t = catalog.create_table(TableIdentifier.parse("test.morplan2"), schema)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(i,) for i in range(20)], schema)
    ).commit()
    t = t.new_transaction().delete_keys_dataframe(spark.createDataFrame([(5,)], "k long")).commit()
    t = t.new_transaction().append_dataframe(spark.createDataFrame([(5,)], schema)).commit()

    df = t.to_df(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:1500]
    assert "Union" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan, plan[:1500]
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    ks = sorted(r["k"] for r in df.collect())
    assert ks == [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19]


def test_rewrite_manifests_consolidates_chunks(catalog, spark, monkeypatch):
    """Manifest compaction: a long append chain's delta chunks consolidate to
    one; reads and history unchanged; expiry GCs the superseded chunks."""
    from iceberg_catalog_postgres_spark.catalog import metadata as md_mod
    from iceberg_catalog_postgres_spark.catalog.maintenance import (
        expire_snapshots,
        rewrite_manifests,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    monkeypatch.setattr(md_mod, "MANIFEST_THRESHOLD", 2)
    schema = StructType([StructField("k", LongType(), True)])
    ident = TableIdentifier.parse("test.manifestcompact")
    t = catalog.create_table(ident, schema)
    for i in range(8):
        t = t.new_transaction().append_dataframe(
            spark.createDataFrame([(i,)], schema).coalesce(1)
        ).commit()
    assert len(t.metadata.current_snapshot().manifests) > 3
    old_chunks = {md_mod.chunk_path(m) for m in t.metadata.current_snapshot().manifests}
    before_ids = [s.snapshot_id for s in t.metadata.snapshots]

    t = rewrite_manifests(t, max_chunks=3)
    assert len(t.metadata.current_snapshot().manifests) == 1
    assert [s.snapshot_id for s in t.metadata.snapshots] == before_ids  # history intact
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == list(range(8))
    # a fresh catalog load sees the consolidated form
    t2 = catalog.load_table(ident)
    assert len(t2.metadata.current_snapshot().manifests) == 1
    # chunks still referenced by prior snapshots survive the rewrite; the
    # superseded final delta chunk (referenced by nothing) is GC'd at once
    store = catalog.object_store()
    referenced = {
        md_mod.chunk_path(m)
        for s in t2.metadata.snapshots[:-1]
        if s.manifests
        for m in s.manifests
    }
    assert referenced and all(store.exists(m) for m in referenced)
    assert all(not store.exists(m) for m in old_chunks - referenced)
    # expiry then GCs the rest of the history's chunks
    t3 = expire_snapshots(t2, keep_last=1)
    live = {md_mod.chunk_path(m) for m in t3.metadata.current_snapshot().manifests}
    assert all(not store.exists(m) for m in old_chunks - live)
    assert sorted(r["k"] for r in t3.to_df(spark).collect()) == list(range(8))


def test_partitioned_table_tuples_pruning_and_composition(catalog, spark):
    """Identity partition spec: appends record per-file partition tuples;
    planned_files_partition prunes from metadata alone; pruning composes
    with MOR deletes and survives compaction; null partitions round-trip."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from iceberg_catalog_postgres_spark.catalog.maintenance import compact_table

    schema = StructType(
        [StructField("k", LongType(), True), StructField("cat", StringType(), True)]
    )
    ident = TableIdentifier.parse("test.partitioned")
    t = catalog.create_table(ident, schema, partition_by=["cat"])
    rows = [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, None)]
    t = t.new_transaction().append_dataframe(spark.createDataFrame(rows, schema)).commit()

    snap = t.metadata.current_snapshot()
    tuples = set()
    for f in snap.data_files:
        assert f in snap.file_partitions, f
        tuples.add(snap.file_partitions[f]["cat"])
    assert tuples == {"a", "b", None}

    # metadata-only pruning: only partition-a files planned
    a_files = t.planned_files_partition({"cat": "a"})
    assert 0 < len(a_files) < len(snap.data_files)
    got = sorted(r["k"] for r in t.to_df(spark, partition_filter={"cat": "a"}).collect())
    assert got == [1, 2]
    # null partition round-trips through the hive default marker
    got_null = sorted(
        r["k"] for r in t.to_df(spark, partition_filter={"cat": None}).collect()
    )
    assert got_null == [5]

    # MOR delete composes with partition pruning (delete k=2 from partition a)
    t = t.new_transaction().delete_keys_dataframe(
        spark.createDataFrame([(2,)], "k long")
    ).commit()
    got = sorted(r["k"] for r in t.to_df(spark, partition_filter={"cat": "a"}).collect())
    assert got == [1]

    # a fresh load keeps tuples (inline or manifest-backed serialization)
    t2 = catalog.load_table(ident)
    assert t2.metadata.partition_spec == ["cat"]
    reloaded_parts = t2.metadata.current_snapshot().file_partitions
    assert len(reloaded_parts) == len(snap.data_files)
    assert {tup["cat"] for tup in reloaded_parts.values()} == {"a", "b", None}

    # compaction rewrites through the partitioned writer: tuples re-recorded
    t3 = compact_table(spark, t2, target_partitions=1)
    snap3 = t3.metadata.current_snapshot()
    assert snap3.file_partitions and all(
        "cat" in tup for tup in snap3.file_partitions.values()
    )
    got = sorted(r["k"] for r in t3.to_df(spark, partition_filter={"cat": "b"}).collect())
    assert got == [3, 4]


def test_sql_delete_and_update_dml(catalog, spark):
    """SQL DML over catalog tables: DELETE routes through positional MOR
    (no data-file rewrite), UPDATE through MERGE overwrite; both atomic."""
    from iceberg_catalog_postgres_spark.catalog.integration import sql_delete, sql_update
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType(
        [StructField("k", LongType(), True), StructField("v", DoubleType(), True)]
    )
    ident = TableIdentifier.parse("test.dml")
    t = catalog.create_table(ident, schema)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(i, float(i)) for i in range(10)], schema)
    ).commit()
    files_before = list(t.metadata.current_data_files())

    t = sql_delete(spark, catalog, ident, "k >= 8")
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == list(range(8))
    # MOR: no data file rewritten, positional-delete files added
    assert t.metadata.current_data_files() == files_before
    assert len(t.metadata.current_position_delete_files()) >= 1

    t = sql_update(
        spark, catalog, ident, {"v": "v * 10"}, "k < 2", key_cols=["k"]
    )
    rows = {r["k"]: r["v"] for r in t.to_df(spark).collect()}
    assert rows == {0: 0.0, 1: 10.0, **{i: float(i) for i in range(2, 8)}}


def test_remove_orphan_files_planted_and_time_travel_safe(catalog, spark):
    """remove_orphan_files must delete planted strays, respect the age gate,
    and NEVER touch a file referenced only by an older (retained) snapshot —
    time travel must keep working after GC."""
    import os
    import posixpath

    from iceberg_catalog_postgres_spark.catalog.catalog import TableIdentifier
    from iceberg_catalog_postgres_spark.catalog.maintenance import remove_orphan_files

    ident = TableIdentifier.parse("gc.t")
    df1 = spark.createDataFrame([("a", "1"), ("b", "2")], ["one", "two"])
    df2 = spark.createDataFrame([("c", "3")], ["one", "two"])
    t = catalog.create_table(ident, df1.schema)
    t = t.new_transaction().append_dataframe(df1).commit()
    t = catalog.load_table(ident)
    # overwrite: snapshot 2 references NEW files; snapshot 1's files become
    # history-only but stay live (time travel)
    t = t.new_transaction().overwrite_dataframe(df2).commit()
    t = catalog.load_table(ident)

    snap1 = t.metadata.snapshots[0]
    old_files = [catalog.object_store().resolve(f) for f in snap1.data_files]
    assert old_files and all(os.path.exists(p) for p in old_files)

    store = catalog.object_store()
    data_dir = store.resolve(posixpath.join(t.metadata.location, "data"))
    stray = os.path.join(data_dir, "stray.parquet")
    with open(stray, "wb") as f:
        f.write(b"junk")

    gated = remove_orphan_files(t, older_than_s=3600.0)
    assert gated["n_orphans_deleted"] == 0
    assert os.path.exists(stray)

    res = remove_orphan_files(t, older_than_s=0.0)
    assert res["n_orphans_deleted"] >= 1
    assert not os.path.exists(stray)
    # history-only files survive: time travel to snapshot 1 still reads
    assert all(os.path.exists(p) for p in old_files)
    tt = t.to_df(spark, snapshot_id=snap1.snapshot_id)
    assert sorted(r["one"] for r in tt.collect()) == ["a", "b"]
    # current read unaffected
    assert sorted(r["one"] for r in t.to_df(spark).collect()) == ["c"]


def test_rollback_to_snapshot_preserves_history(catalog, spark):
    """rollback_to: pointer returns to the old snapshot, the rolled-past
    snapshot stays time-travelable, the next commit chains from the restored
    state, and unknown ids are rejected."""
    ident = TableIdentifier.parse("test.rollback")
    t = catalog.create_table(ident, SCHEMA)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([("a", "1"), ("b", "2")], SCHEMA)
    ).commit()
    snap1 = t.metadata.current_snapshot().snapshot_id
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([("bad", "x")], SCHEMA)
    ).commit()
    snap2 = t.metadata.current_snapshot().snapshot_id
    assert t.to_df(spark).count() == 3

    rolled = t.rollback_to(snap1)
    assert rolled.metadata.current_snapshot().snapshot_id == snap1
    assert rolled.to_df(spark).count() == 2
    # the bad commit is still reachable by explicit time travel
    assert rolled.to_df(spark, snapshot_id=snap2).count() == 3

    fixed = rolled.new_transaction().append_dataframe(
        spark.createDataFrame([("c", "3")], SCHEMA)
    ).commit()
    assert fixed.to_df(spark).count() == 3
    assert sorted(r["one"] for r in fixed.to_df(spark).collect()) == ["a", "b", "c"]
    assert len(fixed.metadata.snapshots) == 3  # nothing deleted

    with pytest.raises(ValueError, match="unknown snapshot"):
        fixed.rollback_to(999999)


def test_changelog_positional_deletes_and_overwrite_guard(catalog, spark):
    """changelog_df reconstructs positional-delete rows via scan identity,
    and refuses to cross an overwrite (no row lineage)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from pyspark.sql import functions as F

    from iceberg_catalog_postgres_spark.catalog.maintenance import delete_where_mor

    s = StructType([StructField("k", LongType(), True)])
    ident = TableIdentifier.parse("test.changelog_pos")
    t = catalog.create_table(ident, s)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(i,) for i in range(10)], s).coalesce(1)
    ).commit()
    snap1 = t.metadata.current_snapshot_id
    t = delete_where_mor(spark, t, F.col("k").isin(3, 7))

    log = t.changelog_df(spark, from_snapshot_id=snap1)
    rows = sorted((r["k"], r["_change_type"]) for r in log.collect())
    assert rows == [(3, "delete"), (7, "delete")]

    t = t.new_transaction().overwrite_dataframe(
        spark.createDataFrame([(99,)], s)
    ).commit()
    with pytest.raises(ValueError, match="non-append/delete"):
        t.changelog_df(spark, from_snapshot_id=snap1).collect()


def test_expire_snapshots_by_age(catalog, spark):
    """Age-based expiry: snapshots older than the cutoff drop (their
    exclusive files GC'd); current + tagged snapshots always survive."""
    import time as _time

    from pyspark.sql.types import LongType, StructField, StructType

    from iceberg_catalog_postgres_spark.catalog.maintenance import expire_snapshots

    s = StructType([StructField("k", LongType(), True)])
    t = catalog.create_table(TableIdentifier.parse("test.age_expiry"), s)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(1,)], s).coalesce(1)
    ).commit()
    snap1 = t.metadata.current_snapshot()
    t = t.set_ref("keepme", snap1.snapshot_id, ref_type="tag")
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(2,)], s).coalesce(1)
    ).commit()
    while int(_time.time() * 1000) <= t.metadata.current_snapshot().timestamp_ms:
        _time.sleep(0.002)
    cutoff = int(_time.time() * 1000)
    while int(_time.time() * 1000) <= cutoff:
        _time.sleep(0.002)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(3,)], s).coalesce(1)
    ).commit()

    t = expire_snapshots(t, older_than_ms=cutoff)
    ids = {s_.snapshot_id for s_ in t.metadata.snapshots}
    # snapshot 2 (older than cutoff, untagged) expired; 1 (tagged) + 3 stay
    assert snap1.snapshot_id in ids
    assert t.metadata.current_snapshot_id in ids
    assert len(ids) == 2
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == [1, 2, 3]
    assert sorted(r["k"] for r in t.to_df(spark, ref="keepme").collect()) == [1]
