"""TBLPROPERTIES + branch/tag SQL DDL (r13 continuation).

``ALTER TABLE ... SET/UNSET TBLPROPERTIES`` onto ``Table.update_properties``
(metadata-only CAS commit, engine-internal keys refused), ``SHOW
TBLPROPERTIES``, Iceberg's branch/tag extension grammar (``CREATE [OR
REPLACE] BRANCH|TAG ... AS OF VERSION / RETAIN / WITH SNAPSHOT RETENTION``)
onto ``set_ref``/``drop_ref``, and the LOAD-BEARING properties:
``write.target-rows`` / ``write.target-file-size-bytes`` resolving
``rewrite_small_files``'s target and ``commit.retry.num-retries`` bounding
the CAS retry loop."""

from __future__ import annotations

import pytest

from iceberg_catalog_postgres_spark.catalog.catalog import (
    PostgresCatalog,
    TableIdentifier,
)
from iceberg_catalog_postgres_spark.catalog.ddl_sql import parse_alter
from iceberg_catalog_postgres_spark.catalog.merge_sql import execute_dml


@pytest.fixture
def catalog(tmp_path):
    cat = PostgresCatalog.connect("prsql", None, str(tmp_path / "wh"))
    cat.initialize()
    yield cat
    cat.backend.close()


def _seed(catalog, spark, name="d.t", n=9, files=1):
    rows = [(i, f"n{i}", i % 3) for i in range(n)]
    df = spark.createDataFrame(rows, "k int, name string, r long")
    t = catalog.create_table(TableIdentifier.parse(name), df.schema)
    return t.new_transaction().append_dataframe(df.coalesce(files)).commit()


# ---------------------------------------------------------------------------
# parser pins


def test_parse_set_tblproperties():
    p = parse_alter(
        "ALTER TABLE d.t SET TBLPROPERTIES ('a.b' = 'x', owner = 'me', 'n' = 3)"
    )
    assert p == {
        "op": "set_properties",
        "target": "d.t",
        "props": {"a.b": "x", "owner": "me", "n": 3},
    }


def test_parse_unset_tblproperties_if_exists():
    p = parse_alter("ALTER TABLE d.t UNSET TBLPROPERTIES IF EXISTS ('a', 'b.c')")
    assert p["op"] == "unset_properties"
    assert p["keys"] == ["a", "b.c"]
    assert p["if_exists"] is True


def test_parse_create_branch_full_clauses():
    p = parse_alter(
        "ALTER TABLE d.t CREATE BRANCH IF NOT EXISTS dev AS OF VERSION 77 "
        "RETAIN 30 DAYS WITH SNAPSHOT RETENTION 5 SNAPSHOTS 7 DAYS"
    )
    assert p["op"] == "create_ref" and p["ref_type"] == "branch"
    assert p["mode"] == "create" and p["if_not_exists"] is True
    assert p["name"] == "dev" and p["snapshot_id"] == 77
    assert p["max_ref_age_ms"] == 30 * 86_400_000
    assert p["min_snapshots_to_keep"] == 5
    assert p["max_snapshot_age_ms"] == 7 * 86_400_000


def test_parse_create_or_replace_tag_and_drop():
    p = parse_alter("ALTER TABLE d.t CREATE OR REPLACE TAG v1 RETAIN 2 HOURS")
    assert p["mode"] == "create_or_replace" and p["ref_type"] == "tag"
    assert p["max_ref_age_ms"] == 2 * 3_600_000
    q = parse_alter("ALTER TABLE d.t DROP TAG IF EXISTS v1")
    assert q == {
        "op": "drop_ref", "target": "d.t", "name": "v1",
        "ref_type": "tag", "if_exists": True,
    }


def test_parse_refusals():
    with pytest.raises(ValueError, match="TBLPROPERTIES"):
        parse_alter("ALTER TABLE d.t SET OWNER ('a'='b')")
    with pytest.raises(ValueError, match="BRANCH/TAG"):
        parse_alter("ALTER TABLE d.t CREATE INDEX i")
    with pytest.raises(ValueError, match="SNAPSHOTS or a duration"):
        parse_alter(
            "ALTER TABLE d.t CREATE BRANCH b WITH SNAPSHOT RETENTION 5 WEEKS"
        )
    with pytest.raises(ValueError, match="IF NOT EXISTS applies to CREATE"):
        parse_alter("ALTER TABLE d.t REPLACE BRANCH IF NOT EXISTS b")


# ---------------------------------------------------------------------------
# SET/UNSET/SHOW TBLPROPERTIES execution


def test_tblproperties_roundtrip(spark, catalog):
    _seed(catalog, spark)
    t = execute_dml(
        spark, catalog,
        "ALTER TABLE d.t SET TBLPROPERTIES ('owner' = 'alice', "
        "'write.target-rows' = '100')",
    )
    assert t.metadata.properties["owner"] == "alice"
    # reloaded through the catalog: the SET was a real CAS commit
    t2 = catalog.load_table(TableIdentifier.parse("d.t"))
    assert t2.metadata.properties["write.target-rows"] == "100"

    shown = dict(
        execute_dml(spark, catalog, "SHOW TBLPROPERTIES d.t")
        .rdd.map(tuple).collect()
    )
    assert shown["owner"] == "alice"
    one = execute_dml(spark, catalog, "SHOW TBLPROPERTIES d.t 'owner'").collect()
    assert [tuple(r) for r in one] == [("owner", "alice")]
    with pytest.raises(ValueError, match="no such table property"):
        execute_dml(spark, catalog, "SHOW TBLPROPERTIES d.t 'nope'")

    t3 = execute_dml(
        spark, catalog, "ALTER TABLE d.t UNSET TBLPROPERTIES ('owner')"
    )
    assert "owner" not in t3.metadata.properties
    # strict UNSET of an unknown key refuses; IF EXISTS no-ops
    with pytest.raises(ValueError, match="unknown property"):
        execute_dml(spark, catalog, "ALTER TABLE d.t UNSET TBLPROPERTIES ('gone')")
    t4 = execute_dml(
        spark, catalog, "ALTER TABLE d.t UNSET TBLPROPERTIES IF EXISTS ('gone')"
    )
    assert t4.metadata.properties == t3.metadata.properties


def test_engine_internal_keys_refused(spark, catalog):
    _seed(catalog, spark)
    for key in ("column-renames", "column-defaults", "partition-entry-renames",
                "write.bucket-hash", "ndv.k"):
        with pytest.raises(ValueError, match="engine-maintained"):
            execute_dml(
                spark, catalog,
                f"ALTER TABLE d.t SET TBLPROPERTIES ('{key}' = 'x')",
            )


def test_set_and_unset_same_key_refused(spark, catalog):
    t = _seed(catalog, spark)
    with pytest.raises(ValueError, match="SET and UNSET"):
        t.update_properties(set_props={"a": "1"}, unset_keys=["a"])


# ---------------------------------------------------------------------------
# branch / tag DDL execution


def test_ref_lifecycle_sql(spark, catalog):
    t = _seed(catalog, spark)
    snap1 = t.metadata.current_snapshot_id
    more = spark.createDataFrame([(100, "x", 0)], "k int, name string, r long")
    t = t.new_transaction().append_dataframe(more.coalesce(1)).commit()

    t = execute_dml(
        spark, catalog,
        f"ALTER TABLE d.t CREATE TAG v1 AS OF VERSION {snap1} RETAIN 30 DAYS",
    )
    assert t.metadata.refs["v1"] == {
        "snapshot-id": snap1, "type": "tag", "max-ref-age-ms": 2_592_000_000,
    }
    t = execute_dml(
        spark, catalog,
        "ALTER TABLE d.t CREATE BRANCH dev "
        "WITH SNAPSHOT RETENTION 5 SNAPSHOTS 7 DAYS",
    )
    ref = t.metadata.refs["dev"]
    assert ref["type"] == "branch" and ref["min-snapshots-to-keep"] == 5
    assert ref["max-snapshot-age-ms"] == 7 * 86_400_000

    # duplicate create refused; IF NOT EXISTS no-ops; OR REPLACE moves
    with pytest.raises(ValueError, match="already exists"):
        execute_dml(spark, catalog, "ALTER TABLE d.t CREATE TAG v1")
    t2 = execute_dml(spark, catalog, "ALTER TABLE d.t CREATE TAG IF NOT EXISTS v1")
    assert t2.metadata.refs["v1"]["snapshot-id"] == snap1
    t3 = execute_dml(spark, catalog, "ALTER TABLE d.t CREATE OR REPLACE TAG v1")
    assert t3.metadata.refs["v1"]["snapshot-id"] == t.metadata.current_snapshot_id

    # REPLACE requires existence; type mismatches are loud
    with pytest.raises(ValueError, match="no such ref"):
        execute_dml(spark, catalog, "ALTER TABLE d.t REPLACE BRANCH nope")
    with pytest.raises(ValueError, match="is a 'branch'"):
        execute_dml(spark, catalog, "ALTER TABLE d.t DROP TAG dev")
    with pytest.raises(ValueError, match="exists with type"):
        execute_dml(spark, catalog, "ALTER TABLE d.t CREATE OR REPLACE BRANCH v1")

    t4 = execute_dml(spark, catalog, "ALTER TABLE d.t DROP BRANCH dev")
    assert "dev" not in t4.metadata.refs
    execute_dml(spark, catalog, "ALTER TABLE d.t DROP BRANCH IF EXISTS dev")
    with pytest.raises(ValueError, match="no such ref"):
        execute_dml(spark, catalog, "ALTER TABLE d.t DROP BRANCH dev")
    with pytest.raises(ValueError, match="main branch"):
        execute_dml(spark, catalog, "ALTER TABLE d.t DROP BRANCH main")


def test_tag_with_snapshot_retention_refused(spark, catalog):
    _seed(catalog, spark)
    # set_ref's branch-only retention rule surfaces through the SQL path
    with pytest.raises(ValueError, match="branches only"):
        execute_dml(
            spark, catalog,
            "ALTER TABLE d.t CREATE TAG v1 WITH SNAPSHOT RETENTION 5 SNAPSHOTS",
        )


def test_select_version_as_of_tag_sql(spark, catalog):
    t = _seed(catalog, spark, n=6)
    snap1 = t.metadata.current_snapshot_id
    more = spark.createDataFrame([(100, "x", 0)], "k int, name string, r long")
    t.new_transaction().append_dataframe(more.coalesce(1)).commit()
    execute_dml(
        spark, catalog, f"ALTER TABLE d.t CREATE TAG train AS OF VERSION {snap1}"
    )
    n_tag = execute_dml(
        spark, catalog, "SELECT count(*) AS n FROM d.t VERSION AS OF 'train'"
    ).collect()[0].n
    n_head = execute_dml(
        spark, catalog, "SELECT count(*) AS n FROM d.t"
    ).collect()[0].n
    assert (n_tag, n_head) == (6, 7)


# ---------------------------------------------------------------------------
# load-bearing properties


def test_compaction_target_from_row_property(spark, catalog):
    t = _seed(catalog, spark, n=6)
    more = spark.createDataFrame(
        [(10 + i, "x", 0) for i in range(4)], "k int, name string, r long"
    )
    t = t.new_transaction().append_dataframe(more.coalesce(1)).commit()
    execute_dml(
        spark, catalog,
        "ALTER TABLE d.t SET TBLPROPERTIES ('write.target-rows' = '1000')",
    )
    rep = execute_dml(
        spark, catalog, "CALL system.rewrite_small_files('d.t')"
    ).collect()[0]
    assert rep.rewritten_data_files_count == 2
    assert rep.added_data_files_count == 1
    t2 = catalog.load_table(TableIdentifier.parse("d.t"))
    assert t2.record_count() == 10


def test_compaction_target_from_byte_property(spark, catalog):
    from iceberg_catalog_postgres_spark.catalog.maintenance import (
        _resolve_target_rows,
    )

    t = _seed(catalog, spark, n=6)
    more = spark.createDataFrame(
        [(10 + i, "x", 0) for i in range(4)], "k int, name string, r long"
    )
    t = t.new_transaction().append_dataframe(more.coalesce(1)).commit()
    # byte target -> rows via avg manifest row width (metadata-only)
    avg = t.total_bytes() / t.record_count()
    t = t.update_properties(
        set_props={"write.target-file-size-bytes": str(int(avg * 500))}
    )
    assert abs(_resolve_target_rows(t) - 500) <= 1
    # row property wins over the byte property when both are set
    t = t.update_properties(set_props={"write.target-rows": "77"})
    assert _resolve_target_rows(t) == 77


def test_compaction_without_target_refuses(spark, catalog):
    _seed(catalog, spark)
    with pytest.raises(ValueError, match="no target_rows"):
        execute_dml(spark, catalog, "CALL system.rewrite_small_files('d.t')")


def test_commit_retries_from_property(spark, catalog):
    t = _seed(catalog, spark)
    assert t.new_transaction().max_retries == 5  # default
    t = t.update_properties(set_props={"commit.retry.num-retries": "2"})
    assert t.new_transaction().max_retries == 2
    # an explicit argument still wins
    from iceberg_catalog_postgres_spark.catalog.table import Transaction

    assert Transaction(t, max_retries=9).max_retries == 9

    # the same budget bounds metadata edits: with "0", a stale handle's
    # property or ref edit fails on its first lost CAS instead of retrying
    from iceberg_catalog_postgres_spark.catalog.catalog import CommitConflictError

    schema = "k int, name string, r long"

    def stale_after_append(t):
        stale = catalog.load_table(t.identifier)
        t.new_transaction().append_rows(spark, [(100, "x", 0)], schema).commit()
        return stale

    t = t.update_properties(set_props={"commit.retry.num-retries": "0"})
    with pytest.raises(CommitConflictError):
        stale_after_append(t).update_properties(set_props={"owner": "me"})
    t = t.refresh()
    with pytest.raises(CommitConflictError):
        stale_after_append(t).set_ref("pinned")
    t = t.refresh()
    assert "owner" not in t.metadata.properties and "pinned" not in t.metadata.refs

    # with the default budget both re-apply on the winner and land
    t = t.update_properties(unset_keys=["commit.retry.num-retries"])
    t = stale_after_append(t).update_properties(set_props={"owner": "me"})
    assert t.metadata.properties["owner"] == "me"
    t = stale_after_append(t).set_ref("pinned")
    assert "pinned" in t.metadata.refs
    assert t.record_count() == 9 + 4  # every winner's append survived


# ---------------------------------------------------------------------------
# snapshot-management CALL procedures + branch-write identifier (r13)


def test_call_rollback_and_cherrypick(spark, catalog):
    t = _seed(catalog, spark, n=4)
    snap1 = t.metadata.current_snapshot_id
    more = spark.createDataFrame([(100, "x", 0)], "k int, name string, r long")
    t = t.new_transaction().append_dataframe(more.coalesce(1)).commit()
    orphan = t.metadata.current_snapshot_id
    rep = execute_dml(
        spark, catalog,
        f"CALL system.rollback_to_snapshot('d.t', snapshot_id => {snap1})",
    ).collect()[0]
    assert rep.current_snapshot_id == snap1
    t2 = catalog.load_table(TableIdentifier.parse("d.t"))
    assert t2.record_count() == 4
    rep = execute_dml(
        spark, catalog,
        f"CALL system.cherrypick_snapshot('d.t', snapshot_id => {orphan})",
    ).collect()[0]
    assert rep.changed == 1
    assert catalog.load_table(TableIdentifier.parse("d.t")).record_count() == 5


def test_branch_write_identifier_and_publish(spark, catalog):
    _seed(catalog, spark, n=3)
    execute_dml(
        spark, catalog, "INSERT INTO d.t.branch_audit VALUES (50, 'b', 9)"
    )
    t = catalog.load_table(TableIdentifier.parse("d.t"))
    assert t.record_count() == 3  # main untouched
    assert "audit" in t.metadata.refs
    n_branch = execute_dml(
        spark, catalog, "SELECT count(*) AS n FROM d.t VERSION AS OF 'audit'"
    ).collect()[0].n
    assert n_branch == 4
    rep = execute_dml(
        spark, catalog,
        "CALL system.fast_forward('d.t', branch => 'audit', drop_branch => true)",
    ).collect()[0]
    assert rep.branch_dropped == 1
    t2 = catalog.load_table(TableIdentifier.parse("d.t"))
    assert t2.record_count() == 4 and "audit" not in t2.metadata.refs


def test_branch_write_guards(spark, catalog):
    from iceberg_catalog_postgres_spark.catalog.catalog import NoSuchTableError

    _seed(catalog, spark, n=3)
    with pytest.raises(ValueError, match="append-only"):
        execute_dml(
            spark, catalog, "INSERT OVERWRITE d.t.branch_x VALUES (1, 'a', 1)"
        )
    with pytest.raises(NoSuchTableError):
        execute_dml(
            spark, catalog, "INSERT INTO d.missing.branch_y VALUES (1, 'a', 1)"
        )
    # a table literally NAMED branch_foo still resolves as itself
    df = spark.createDataFrame([(1, "a", 1)], "k int, name string, r long")
    catalog.create_table(TableIdentifier.parse("d.branch_foo"), df.schema)
    t = execute_dml(
        spark, catalog, "INSERT INTO d.branch_foo VALUES (2, 'b', 2)"
    )
    assert t.record_count() == 1
    assert "foo" not in t.metadata.refs


def test_branch_tag_read_identifiers(spark, catalog):
    """SELECT FROM ns.t.branch_x / ns.t.tag_y (r13): the read half of the
    branch-write identifier — equivalent to VERSION AS OF '<name>', kind
    checked, missing refs loud, no combining with a travel clause."""
    t = _seed(catalog, spark, n=5)
    execute_dml(spark, catalog, "INSERT INTO d.t.branch_audit VALUES (50, 'b', 9)")
    execute_dml(spark, catalog, "ALTER TABLE d.t CREATE TAG v1")
    n_branch = execute_dml(
        spark, catalog, "SELECT count(*) AS n FROM d.t.branch_audit"
    ).collect()[0].n
    n_tag = execute_dml(
        spark, catalog, "SELECT count(*) AS n FROM d.t.tag_v1"
    ).collect()[0].n
    assert (n_branch, n_tag) == (6, 5)
    with pytest.raises(ValueError, match="no branch/tag"):
        execute_dml(spark, catalog, "SELECT * FROM d.t.branch_nope")
    with pytest.raises(ValueError, match="is a 'branch'"):
        execute_dml(spark, catalog, "SELECT * FROM d.t.tag_audit")
    with pytest.raises(ValueError, match="cannot combine"):
        execute_dml(
            spark, catalog, "SELECT * FROM d.t.branch_audit VERSION AS OF 1"
        )
