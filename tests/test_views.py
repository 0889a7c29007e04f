"""Iceberg VIEWS (r13 continuation): versioned SQL definitions in a
parallel ``iceberg_views`` pointer table, metadata documents per the public
view spec v1 (append-only versions + version-log), CREATE/REPLACE/DROP/
SHOW/DESCRIBE through the SQL front-end, expansion inside ``select_sql``
(views over tables, views over views, version time travel), CAS replace
semantics, and two-way name-collision refusals with tables."""

from __future__ import annotations

import pytest

from iceberg_catalog_postgres_spark.catalog.catalog import (
    NoSuchTableError,
    PostgresCatalog,
    TableAlreadyExistsError,
    TableIdentifier,
)
from iceberg_catalog_postgres_spark.catalog.merge_sql import execute_dml
from iceberg_catalog_postgres_spark.catalog.views import (
    ViewMetadata,
    create_view,
    drop_view,
    list_views,
    load_view,
    view_exists,
)


@pytest.fixture
def catalog(tmp_path):
    cat = PostgresCatalog.connect("vcat", None, str(tmp_path / "wh"))
    cat.initialize()
    yield cat
    cat.backend.close()


def _seed(catalog, spark, name="d.t", n=9):
    rows = [(i, f"n{i}", i % 3) for i in range(n)]
    df = spark.createDataFrame(rows, "k int, name string, r long")
    t = catalog.create_table(TableIdentifier.parse(name), df.schema)
    return t.new_transaction().append_dataframe(df.coalesce(1)).commit()


# ---------------------------------------------------------------------------
# python API


def test_create_load_roundtrip(spark, catalog):
    _seed(catalog, spark)
    ident = TableIdentifier.parse("d.v")
    v = create_view(spark, catalog, ident, "SELECT r, count(*) AS n FROM d.t GROUP BY r")
    assert v.metadata.current_version_id == 1
    assert v.metadata.format_version == 1
    assert len(v.metadata.versions) == 1
    ver = v.metadata.version()
    assert ver["summary"]["operation"] == "create"
    assert ver["representations"][0]["dialect"] == "spark"
    # schema captured at create time (analyzed through the resolver)
    assert [f["name"] for f in v.metadata.schemas[0]["fields"]] == ["r", "n"]
    # metadata document round-trips through JSON
    md2 = ViewMetadata.from_json(v.metadata.to_json())
    assert md2 == v.metadata
    assert view_exists(catalog, ident)
    assert [str(i) for i in list_views(catalog, "d")] == ["d.v"]


def test_view_body_must_be_select(spark, catalog):
    _seed(catalog, spark)
    with pytest.raises(ValueError, match="SELECT/WITH"):
        create_view(
            spark, catalog, TableIdentifier.parse("d.v"), "DELETE FROM d.t"
        )


def test_replace_appends_version_and_cas(spark, catalog):
    _seed(catalog, spark)
    ident = TableIdentifier.parse("d.v")
    create_view(spark, catalog, ident, "SELECT k FROM d.t")
    with pytest.raises(TableAlreadyExistsError):
        create_view(spark, catalog, ident, "SELECT r FROM d.t")
    v2 = create_view(
        spark, catalog, ident, "SELECT r FROM d.t", or_replace=True
    )
    assert v2.metadata.current_version_id == 2
    assert [x["version-id"] for x in v2.metadata.versions] == [1, 2]
    assert [e["version-id"] for e in v2.metadata.version_log] == [1, 2]
    assert v2.metadata.versions[1]["summary"]["operation"] == "replace"
    # version 1's definition is still stored and addressable
    assert "k" in v2.metadata.sql(version_id=1)
    # the pointer row CAS'd: previous_metadata_location is the v1 doc
    rows, _ = catalog.backend.execute(
        catalog.backend.sql(
            "SELECT previous_metadata_location FROM iceberg_views "
            "WHERE table_name = ?"
        ),
        ("v",),
    )
    assert rows[0][0] is not None


def test_name_collisions_both_directions(spark, catalog):
    t = _seed(catalog, spark)
    with pytest.raises(TableAlreadyExistsError, match="TABLE named"):
        create_view(spark, catalog, TableIdentifier.parse("d.t"), "SELECT 1 AS x")
    create_view(spark, catalog, TableIdentifier.parse("d.v"), "SELECT k FROM d.t")
    with pytest.raises(TableAlreadyExistsError, match="VIEW named"):
        catalog.create_table(TableIdentifier.parse("d.v"), t.schema)


def test_drop_view(spark, catalog):
    _seed(catalog, spark)
    ident = TableIdentifier.parse("d.v")
    create_view(spark, catalog, ident, "SELECT k FROM d.t")
    drop_view(catalog, ident)
    assert not view_exists(catalog, ident)
    with pytest.raises(NoSuchTableError):
        drop_view(catalog, ident)
    with pytest.raises(NoSuchTableError):
        load_view(catalog, ident)


# ---------------------------------------------------------------------------
# SQL front-end + expansion


def test_sql_lifecycle_and_expansion(spark, catalog):
    _seed(catalog, spark)
    execute_dml(
        spark, catalog,
        "CREATE VIEW d.v AS SELECT r, count(*) AS n FROM d.t GROUP BY r",
    )
    got = execute_dml(
        spark, catalog, "SELECT * FROM d.v ORDER BY r"
    ).collect()
    assert [(x.r, x.n) for x in got] == [(0, 3), (1, 3), (2, 3)]
    # a view joins with a table in one statement
    joined = execute_dml(
        spark, catalog,
        "SELECT t.k, v.n FROM d.t t JOIN d.v v ON t.r = v.r "
        "WHERE t.k < 2 ORDER BY t.k",
    ).collect()
    assert [(x.k, x.n) for x in joined] == [(0, 3), (1, 3)]
    # view over view
    execute_dml(
        spark, catalog, "CREATE VIEW d.v2 AS SELECT sum(n) AS total FROM d.v"
    )
    assert execute_dml(
        spark, catalog, "SELECT * FROM d.v2"
    ).collect()[0].total == 9


def test_view_sees_current_table_state(spark, catalog):
    t = _seed(catalog, spark, n=4)
    execute_dml(
        spark, catalog, "CREATE VIEW d.v AS SELECT count(*) AS n FROM d.t"
    )
    assert execute_dml(spark, catalog, "SELECT * FROM d.v").collect()[0].n == 4
    more = spark.createDataFrame([(100, "x", 0)], "k int, name string, r long")
    t.new_transaction().append_dataframe(more.coalesce(1)).commit()
    # standard view semantics: the definition pins, the data follows head
    assert execute_dml(spark, catalog, "SELECT * FROM d.v").collect()[0].n == 5


def test_version_time_travel_on_views(spark, catalog):
    _seed(catalog, spark)
    execute_dml(spark, catalog, "CREATE VIEW d.v AS SELECT count(*) AS n FROM d.t")
    execute_dml(
        spark, catalog,
        "CREATE OR REPLACE VIEW d.v AS SELECT sum(k) AS n FROM d.t",
    )
    head = execute_dml(spark, catalog, "SELECT * FROM d.v").collect()[0].n
    v1 = execute_dml(
        spark, catalog, "SELECT * FROM d.v VERSION AS OF 1"
    ).collect()[0].n
    assert (head, v1) == (36, 9)
    # timestamp AS OF resolves through the version-log
    md = load_view(catalog, TableIdentifier.parse("d.v")).metadata
    ts1 = md.version_log[0]["timestamp-ms"]
    assert md.version_as_of(ts1 - 1) is None
    with pytest.raises(ValueError, match="no such view version"):
        execute_dml(spark, catalog, "SELECT * FROM d.v VERSION AS OF 99").collect()
    with pytest.raises(ValueError, match="branch/tag"):
        execute_dml(spark, catalog, "SELECT * FROM d.v VERSION AS OF 'x'").collect()


def test_cycle_detection(spark, catalog):
    _seed(catalog, spark)
    execute_dml(spark, catalog, "CREATE VIEW d.a AS SELECT * FROM d.t")
    execute_dml(spark, catalog, "CREATE VIEW d.b AS SELECT * FROM d.a")
    execute_dml(spark, catalog, "CREATE OR REPLACE VIEW d.a AS SELECT * FROM d.b")
    with pytest.raises(ValueError, match="cycle"):
        execute_dml(spark, catalog, "SELECT * FROM d.a").collect()
    # self-reference is the 1-cycle
    with pytest.raises(ValueError, match="cycle"):
        execute_dml(
            spark, catalog, "CREATE OR REPLACE VIEW d.b AS SELECT * FROM d.b"
        )


def test_show_and_describe_views(spark, catalog):
    _seed(catalog, spark)
    execute_dml(spark, catalog, "CREATE VIEW d.v AS SELECT k FROM d.t")
    execute_dml(spark, catalog, "CREATE OR REPLACE VIEW d.v AS SELECT r FROM d.t")
    shown = execute_dml(spark, catalog, "SHOW VIEWS IN d").collect()
    assert [(x.view_name, x.current_version_id) for x in shown] == [("v", 2)]
    desc = execute_dml(spark, catalog, "DESCRIBE VIEW d.v").collect()
    kinds = [(x.kind, x.name) for x in desc]
    assert ("col", "r") in kinds
    assert ("version", "1") in kinds and ("version", "2") in kinds
    assert ("current-version", "2") in kinds


def test_drop_view_sql_and_if_exists(spark, catalog):
    _seed(catalog, spark)
    execute_dml(spark, catalog, "CREATE VIEW d.v AS SELECT k FROM d.t")
    execute_dml(spark, catalog, "DROP VIEW d.v")
    with pytest.raises(NoSuchTableError):
        execute_dml(spark, catalog, "DROP VIEW d.v")
    execute_dml(spark, catalog, "DROP VIEW IF EXISTS d.v")
    # IF NOT EXISTS returns the existing view untouched
    execute_dml(spark, catalog, "CREATE VIEW d.v AS SELECT k FROM d.t")
    v = execute_dml(
        spark, catalog, "CREATE VIEW IF NOT EXISTS d.v AS SELECT r FROM d.t"
    )
    assert v.metadata.current_version_id == 1
    assert "k" in v.metadata.sql()
    with pytest.raises(ValueError, match="mutually exclusive"):
        execute_dml(
            spark, catalog,
            "CREATE OR REPLACE VIEW IF NOT EXISTS d.v AS SELECT r FROM d.t",
        )


def test_view_with_tblproperties_and_metadata_suffix_refused(spark, catalog):
    _seed(catalog, spark)
    v = execute_dml(
        spark, catalog,
        "CREATE VIEW d.v TBLPROPERTIES ('comment' = 'per-region counts') "
        "AS SELECT r, count(*) AS n FROM d.t GROUP BY r",
    )
    assert v.metadata.properties["comment"] == "per-region counts"
    with pytest.raises(ValueError, match="not supported on views"):
        execute_dml(spark, catalog, "SELECT * FROM d.v$snapshots")


def test_concurrent_replace_serializes(spark, catalog):
    """Two racing REPLACE writers: both land (append-only versions), the
    loser retries through the CAS loop — no lost update."""
    import threading

    _seed(catalog, spark)
    ident = TableIdentifier.parse("d.v")
    create_view(spark, catalog, ident, "SELECT k FROM d.t")
    errs = []

    def replace(expr):
        try:
            create_view(
                spark, catalog, ident, f"SELECT {expr} FROM d.t", or_replace=True
            )
        except Exception as e:  # pragma: no cover - failure surface
            errs.append(e)

    threads = [
        threading.Thread(target=replace, args=(e,)) for e in ("r", "name")
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    md = load_view(catalog, ident).metadata
    assert md.current_version_id == 3
    assert [x["version-id"] for x in md.versions] == [1, 2, 3]


def test_merge_using_view(spark, catalog):
    """A catalog VIEW as a MERGE source (r13): USING <view> expands through
    the same resolver as SELECT, including views over the merge target
    (the source plan binds to the pre-merge snapshot)."""
    _seed(catalog, spark, n=4)
    execute_dml(
        spark, catalog,
        "CREATE VIEW d.v AS SELECT k, name || '_v' AS name, r FROM d.t",
    )
    t2 = execute_dml(
        spark, catalog,
        "MERGE INTO d.t AS tt USING d.v AS s ON tt.k = s.k "
        "WHEN MATCHED THEN UPDATE SET name = s.name",
    )
    assert all(x.name.endswith("_v") for x in t2.to_df(spark).collect())


@pytest.mark.parametrize("prop, budget", [(None, 5), ("2", 2)], ids=["default", "two"])
def test_replace_retry_budget_and_backoff(spark, catalog, monkeypatch, prop, budget):
    """A view replace whose CAS never matches retries as often as the view's
    ``commit.retry.num-retries`` allows (default 5), sleeping between
    attempts with a growing backoff, then raises."""
    import time

    from iceberg_catalog_postgres_spark.catalog.catalog import CommitConflictError

    _seed(catalog, spark)
    ident = TableIdentifier.parse("d.v")
    props = {} if prop is None else {"commit.retry.num-retries": prop}
    create_view(spark, catalog, ident, "SELECT k FROM d.t", properties=props)
    execute = catalog.backend.execute
    cas = []
    sleeps = []

    def stale_cas(sql, params=()):
        if sql.lstrip().startswith("UPDATE iceberg_views"):
            cas.append(params)
            return [], 0
        return execute(sql, params)

    monkeypatch.setattr(catalog.backend, "execute", stale_cas)
    monkeypatch.setattr(time, "sleep", sleeps.append)
    with pytest.raises(CommitConflictError, match=f"after {budget + 1} attempts"):
        create_view(spark, catalog, ident, "SELECT r FROM d.t", or_replace=True)
    assert len(cas) == budget + 1
    assert len(sleeps) == budget
    assert all(0.01 * (i + 1) <= s <= 0.05 * (i + 1) for i, s in enumerate(sleeps))
    assert load_view(catalog, ident).metadata.current_version_id == 1
