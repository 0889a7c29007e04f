"""Spec-complete TableMetadata serialization (VERDICT r6 'Next round' item 3).

The metadata JSON a catalog pointer resolves to must carry every top-level
field of the public Iceberg TableMetadata document layout (v2 shape for
schemas / partition-specs / sort-orders / snapshot-log), with cross-field
consistency, PLUS the explicit manifest-format deviation property — the
snapshot file lists are content-addressed JSON chunks, not avro
manifest-lists (no avro library in this environment), and a foreign reader
must be able to see that loudly instead of mis-reading the table.

Field-for-field checklist per the public spec's TableMetadata section;
reference consumes this document via iceberg-rs (mod.rs:217-220).
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F_mod
from pyspark.sql.types import (
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from iceberg_catalog_postgres_spark.catalog.catalog import (
    PostgresCatalog,
    TableIdentifier,
)
from iceberg_catalog_postgres_spark.catalog.metadata import TableMetadata


@pytest.fixture
def catalog(tmp_path):
    cat = PostgresCatalog.connect("spec_cat", None, str(tmp_path / "warehouse"))
    cat.initialize()
    yield cat
    cat.backend.close()


S = StructType(
    [
        StructField("k", LongType(), True),
        StructField("d", DateType(), True),
        StructField("name", StringType(), True),
    ]
)


@pytest.fixture
def committed_table(catalog, spark):
    t = catalog.create_table(
        TableIdentifier.parse("spec.t1"),
        S,
        partition_by=["bucket(4,k)", "day(d)"],
    )
    rows = [
        (i, dt.date(2024, 1, 1) + dt.timedelta(days=i % 3), f"n{i}")
        for i in range(32)
    ]
    df = spark.createDataFrame(rows, S)
    t = t.new_transaction().append_dataframe(df.coalesce(1)).commit()
    t = t.new_transaction().append_dataframe(df.limit(4).coalesce(1)).commit()
    return t


def _raw_doc(t) -> dict:
    store = t.catalog.object_store()
    return json.loads(store.get(t.metadata_location()).decode())


REQUIRED_V2_FIELDS = {
    "format-version": int,
    "table-uuid": str,
    "location": str,
    "last-sequence-number": int,
    "last-updated-ms": int,
    "last-column-id": int,
    "schemas": list,
    "current-schema-id": int,
    "partition-specs": list,
    "default-spec-id": int,
    "last-partition-id": int,
    "sort-orders": list,
    "default-sort-order-id": int,
    "properties": dict,
    "snapshots": list,
    "snapshot-log": list,
    "refs": dict,
    "statistics": list,
    "partition-statistics": list,
}


def test_spec_field_checklist(committed_table):
    """Every spec top-level field present with the spec's type."""
    d = _raw_doc(committed_table)
    for key, typ in REQUIRED_V2_FIELDS.items():
        assert key in d, f"missing spec field {key}"
        assert isinstance(d[key], typ), f"{key}: {type(d[key])} != {typ}"
    assert d["current-snapshot-id"] is not None


def test_spec_cross_field_consistency(committed_table):
    d = _raw_doc(committed_table)
    # current-schema-id resolves into schemas
    sids = [int(s.get("schema-id", 0)) for s in d["schemas"]]
    assert d["current-schema-id"] in sids
    # last-column-id bounds every schema field id
    max_id = max(f["id"] for s in d["schemas"] for f in s["fields"])
    assert d["last-column-id"] >= max_id
    # default-spec-id resolves; partition fields resolve source-ids and carry
    # spec-convention transforms/names/field-ids
    specs = {s["spec-id"]: s for s in d["partition-specs"]}
    assert d["default-spec-id"] in specs
    schema_ids = {f["id"] for s in d["schemas"] for f in s["fields"]}
    fields = specs[d["default-spec-id"]]["fields"]
    assert [f["transform"] for f in fields] == ["bucket[4]", "day"]
    assert [f["name"] for f in fields] == ["k_bucket", "d_day"]
    assert all(f["source-id"] in schema_ids for f in fields)
    assert [f["field-id"] for f in fields] == [1000, 1001]
    assert d["last-partition-id"] == max(f["field-id"] for f in fields)
    # sort orders: default resolves (unsorted order 0)
    assert any(o["order-id"] == d["default-sort-order-id"] for o in d["sort-orders"])
    # snapshot-log entries reference real snapshots, timestamps ascending
    snap_ids = {s["snapshot-id"] for s in d["snapshots"]}
    log = d["snapshot-log"]
    assert len(log) == 2 and all(e["snapshot-id"] in snap_ids for e in log)
    assert [e["timestamp-ms"] for e in log] == sorted(
        e["timestamp-ms"] for e in log
    )
    assert d["current-snapshot-id"] in snap_ids
    # last-sequence-number is the max snapshot sequence number
    assert d["last-sequence-number"] == max(
        s.get("sequence-number", 0) for s in d["snapshots"]
    )


def test_manifest_deviation_property_always_written(committed_table):
    """The format-deviation property reaches every serialized document —
    including tables created before the property existed (injected at
    serialization, not only at create)."""
    d = _raw_doc(committed_table)
    assert (
        d["properties"][TableMetadata.MANIFEST_FORMAT_PROP]
        == TableMetadata.MANIFEST_FORMAT
    )
    # and spec-readers get a loud failure: no snapshot carries the spec's
    # required manifest-list pointer (they parse-fail instead of mis-reading)
    assert all("manifest-list" not in s for s in d["snapshots"])


def test_round_trip_preserves_spec_fields(committed_table):
    md = committed_table.metadata
    back = TableMetadata.from_json(md.to_json())
    assert back.table_uuid == md.table_uuid
    assert back.schema == md.schema
    assert back.partition_spec == md.partition_spec
    assert back.current_snapshot_id == md.current_snapshot_id
    assert [s.snapshot_id for s in back.snapshots] == [
        s.snapshot_id for s in md.snapshots
    ]
    # serialization is stable: a second round-trip emits the same document
    assert json.loads(back.to_json())["partition-specs"] == json.loads(
        md.to_json()
    )["partition-specs"]


def test_metadata_log_tracks_pointer_history(committed_table, spark):
    """Spec ``metadata-log``: each commit appends the replaced metadata
    file; entries resolve to real, readable documents (pointer history
    walkable without the catalog row)."""
    d = _raw_doc(committed_table)
    # create -> append -> append: the 2nd append's doc logs the first two
    assert len(d["metadata-log"]) == 2
    store = committed_table.catalog.object_store()
    for entry in d["metadata-log"]:
        assert set(entry) == {"timestamp-ms", "metadata-file"}
        prev = TableMetadata.from_json(store.get(entry["metadata-file"]).decode())
        assert prev.table_uuid == committed_table.metadata.table_uuid
    # oldest-first ordering, and a metadata-only edit also logs
    t2 = committed_table.set_ref("audit-tag")
    d2 = _raw_doc(t2)
    assert len(d2["metadata-log"]) == 3
    assert d2["metadata-log"][-1]["metadata-file"].endswith(".metadata.json")
    ts = [e["timestamp-ms"] for e in d2["metadata-log"]]
    assert ts == sorted(ts)


def test_metadata_log_truncates_at_cap(catalog, spark):
    """The log is bounded (spec-sanctioned truncation): it never exceeds
    METADATA_LOG_MAX entries however long the commit history."""
    import dataclasses

    md = TableMetadata.new("/w/t", S)
    for i in range(TableMetadata.METADATA_LOG_MAX + 7):
        md = md.with_log_entry(f"/w/t/metadata/v{i}.metadata.json", 1000 + i)
    assert len(md.metadata_log) == TableMetadata.METADATA_LOG_MAX
    # oldest entries dropped, newest kept
    assert md.metadata_log[-1]["metadata-file"].endswith(
        f"v{TableMetadata.METADATA_LOG_MAX + 6}.metadata.json"
    )


def test_from_json_reads_spec_layout_only_document(committed_table):
    """A document stripped of the engine-native keys (schema/partition-spec)
    still loads: schema resolves via schemas + current-schema-id."""
    d = _raw_doc(committed_table)
    del d["schema"]
    del d["partition-spec"]
    back = TableMetadata.from_json(json.dumps(d))
    assert back.schema == committed_table.metadata.schema
    assert [f.name for f in back.spark_schema.fields] == ["k", "d", "name"]


# ---- r8: spec-document fidelity for evolved / sorted / rolled-back tables ----


def test_partition_spec_history_serializes_all_specs(catalog, spark):
    """commit_partition_spec must accumulate partition-specs with real
    spec-ids and an advancing default-spec-id (pre-r8 the document emitted
    a single spec-id-0 entry even for evolved tables, misdescribing their
    own mixed-spec layout)."""
    t = catalog.create_table(
        TableIdentifier.parse("spec.evolved"), S, partition_by=["bucket(4,k)"]
    )
    rows = [(i, dt.date(2024, 1, 1 + i % 3), f"n{i}") for i in range(8)]
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame(rows, S).coalesce(1)
    ).commit()
    t = t.commit_partition_spec(["day(d)"])
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame(rows, S).coalesce(1)
    ).commit()
    t = t.commit_partition_spec(["bucket(4,k)", "day(d)"])

    d = _raw_doc(t)
    specs = {s["spec-id"]: s for s in d["partition-specs"]}
    assert sorted(specs) == [0, 1, 2]
    assert d["default-spec-id"] == 2
    assert [f["transform"] for f in specs[0]["fields"]] == ["bucket[4]"]
    assert [f["transform"] for f in specs[1]["fields"]] == ["day"]
    assert [f["transform"] for f in specs[2]["fields"]] == ["bucket[4]", "day"]
    # global partition-field-id assignment: the SAME (source, transform)
    # entry keeps its field-id in every spec that carries it
    fid = {(f["transform"], f["source-id"]): f["field-id"] for f in specs[0]["fields"]}
    for s in specs.values():
        for f in s["fields"]:
            key = (f["transform"], f["source-id"])
            fid.setdefault(key, f["field-id"])
            assert fid[key] == f["field-id"], "field-id not stable across specs"
    assert d["last-partition-id"] == max(
        f["field-id"] for s in specs.values() for f in s["fields"]
    )
    # round-trip preserves the history
    back = TableMetadata.from_json(t.catalog.object_store().get(t.metadata_location()).decode())
    assert json.loads(back.to_json())["partition-specs"] == d["partition-specs"]
    # identical re-evolution is a no-op (no log growth)
    t2 = t.commit_partition_spec(["bucket(4,k)", "day(d)"])
    assert len(_raw_doc(t2)["partition-specs"]) == 3


def test_partition_field_ids_stable_after_historical_source_drop(catalog, spark):
    """Dropping a column that only a HISTORICAL spec partitioned by must not
    shift the field-ids of entries in later specs (ADVICE r8): ids are
    assigned for every entry of every spec up front, independently of
    source resolution, so the omitted spec's entries still consume their
    ids and last-partition-id never decreases."""
    from iceberg_catalog_postgres_spark.catalog.metadata import FIELD_ID_KEY

    XS = StructType(
        [
            StructField("x", LongType(), True),
            StructField("y", LongType(), True),
            StructField("k", LongType(), True),
        ]
    )
    t = catalog.create_table(
        TableIdentifier.parse("spec.fid_drop"), XS, partition_by=["x", "y"]
    )
    t = t.commit_partition_spec(["y"])  # x becomes historical-only

    d_before = _raw_doc(t)
    specs = {s["spec-id"]: s for s in d_before["partition-specs"]}
    y_fid_before = next(
        f["field-id"] for f in specs[1]["fields"] if f["name"] == "y"
    )
    assert y_fid_before == 1001  # x took 1000 in spec 0
    assert d_before["last-partition-id"] == 1001

    # drop x (keep field-id metadata on survivors, as evolution requires)
    kept = StructType(
        [f for f in t.schema.fields if f.name != "x"]
    )
    assert all(f.metadata and FIELD_ID_KEY in f.metadata for f in kept.fields)
    t = t.commit_schema(kept)

    d_after = _raw_doc(t)
    specs_after = {s["spec-id"]: s for s in d_after["partition-specs"]}
    assert 0 not in specs_after  # historical spec with dropped source omitted
    y_fid_after = next(
        f["field-id"] for f in specs_after[1]["fields"] if f["name"] == "y"
    )
    assert y_fid_after == y_fid_before, "field-id shifted across a column drop"
    assert d_after["last-partition-id"] == 1001  # never decreases


def test_spec_evolution_no_op_when_unchanged(catalog):
    t = catalog.create_table(
        TableIdentifier.parse("spec.noop"), S, partition_by=["day(d)"]
    )
    t = t.commit_partition_spec(["day(d)"])
    assert _raw_doc(t)["default-spec-id"] == 0


def test_sorted_write_registers_sort_order(catalog, spark):
    """append_dataframe(sort_by=...) must declare its order in the
    document's sort-orders (identity / asc / nulls-first, id-based
    source-id) and advance default-sort-order-id; an identical later sorted
    write reuses the registered order."""
    t = catalog.create_table(TableIdentifier.parse("spec.sorted"), S)
    rows = [(i, dt.date(2024, 1, 1 + i % 3), f"n{i}") for i in range(32)]
    df = spark.createDataFrame(rows, S)
    t = t.new_transaction().append_dataframe(df, sort_by=["k"]).commit()
    d = _raw_doc(t)
    assert d["default-sort-order-id"] == 1
    orders = {o["order-id"]: o for o in d["sort-orders"]}
    assert orders[0]["fields"] == []  # reserved unsorted order kept
    ids = {f["name"]: int(f["id"]) for f in d["schema"]["fields"]}
    assert orders[1]["fields"] == [
        {
            "transform": "identity",
            "source-id": ids["k"],
            "direction": "asc",
            "null-order": "nulls-first",
        }
    ]
    # identical sorted write: no duplicate order
    t = t.new_transaction().append_dataframe(df, sort_by=["k"]).commit()
    assert len(_raw_doc(t)["sort-orders"]) == 2
    # different order registers a new id and becomes default
    t = t.new_transaction().append_dataframe(df, sort_by=["d", "k"]).commit()
    d = _raw_doc(t)
    assert len(d["sort-orders"]) == 3 and d["default-sort-order-id"] == 2
    # an UNSORTED write leaves the default alone (the declared order
    # describes the table's write distribution, not the last commit)
    t = t.new_transaction().append_dataframe(df).commit()
    assert _raw_doc(t)["default-sort-order-id"] == 2


def test_sort_order_direction_null_order_round_trip(catalog, spark):
    """r17: sort-order JSON carries per-field direction + null-order and
    round-trips through to_json/from_json; defaults follow Iceberg's
    SortField rule (asc -> nulls-first, desc -> nulls-last); a reused
    order matches on the FULL triple, so asc(k) and desc(k) are distinct
    orders; bad specs refuse."""
    import pytest as _pt

    from iceberg_catalog_postgres_spark.catalog.metadata import TableMetadata

    t = catalog.create_table(TableIdentifier.parse("spec.dirs"), S)
    t = t.replace_sort_order([("k", "desc"), ("name", "asc", "nulls-last")])
    d = _raw_doc(t)
    ids = {f["name"]: int(f["id"]) for f in d["schema"]["fields"]}
    fields = {o["order-id"]: o for o in d["sort-orders"]}[
        d["default-sort-order-id"]
    ]["fields"]
    assert fields == [
        {"transform": "identity", "source-id": ids["k"],
         "direction": "desc", "null-order": "nulls-last"},
        {"transform": "identity", "source-id": ids["name"],
         "direction": "asc", "null-order": "nulls-last"},
    ]
    # from_json resolves the same triples back by field id
    md2 = TableMetadata.from_json(
        catalog.object_store().get(t.metadata_location()).decode()
    )
    assert md2.default_sort_fields() == [
        ("k", "desc", "nulls-last"), ("name", "asc", "nulls-last")
    ]
    # asc(k) is a DIFFERENT order from desc(k): new id, not reuse
    before = len(_raw_doc(t)["sort-orders"])
    t = t.replace_sort_order(["k"])
    d = _raw_doc(t)
    assert len(d["sort-orders"]) == before + 1
    assert t.metadata.default_sort_fields() == [("k", "asc", "nulls-first")]
    # identical triple reuses (no duplicate registration)
    t = t.replace_sort_order([("k", "asc", "nulls-first")])
    assert len(_raw_doc(t)["sort-orders"]) == before + 1
    # bad direction / null order refuse
    with _pt.raises(ValueError, match="asc or desc"):
        t.replace_sort_order([("k", "sideways")])
    with _pt.raises(ValueError, match="nulls-first or nulls-last"):
        t.replace_sort_order([("k", "desc", "nulls-middle")])


def test_ndv_analyze_writes_puffin_statistics(catalog, spark):
    """r9 (VERDICT item 3): update_column_ndv must expose its sketches in
    the document's top-level ``statistics`` as a REAL Puffin sidecar —
    magic/footer-valid, one HLL blob per analyzed column with the
    spec-style ``ndv`` property, field ids resolved, sizes recorded —
    and replace the entry (not stack them) on re-ANALYZE."""
    from iceberg_catalog_postgres_spark.catalog.maintenance import (
        column_ndv,
        update_column_ndv,
    )
    from iceberg_catalog_postgres_spark.catalog.puffin import read_puffin

    t = catalog.create_table(TableIdentifier.parse("spec.puffin"), S)
    rows = [(i % 17, dt.date(2024, 1, 1 + i % 3), f"n{i % 5}") for i in range(60)]
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame(rows, S).coalesce(1)
    ).commit()
    t = update_column_ndv(spark, t, ["k", "name"])

    d = _raw_doc(t)
    assert len(d["statistics"]) == 1
    entry = d["statistics"][0]
    assert entry["snapshot-id"] == t.metadata.current_snapshot_id
    store = t.catalog.object_store()
    path = store.resolve(entry["statistics-path"])
    import os

    assert os.path.getsize(path) == entry["file-size-in-bytes"]

    blobs, props, payloads = read_puffin(path)
    assert blobs == entry["blob-metadata"]  # doc mirrors the footer exactly
    ids = {f["name"]: int(f["id"]) for f in d["schema"]["fields"]}
    by_field = {b["fields"][0]: (i, b) for i, b in enumerate(blobs)}
    assert set(by_field) == {ids["k"], ids["name"]}
    for col in ("k", "name"):
        i, b = by_field[ids[col]]
        assert b["type"] == "apache-datasketches-hll-v1"
        assert int(b["properties"]["ndv"]) == column_ndv(t, col)
        assert len(payloads[i]) == b["length"] > 0
        # the blob payload IS the live sketch: estimating it in Spark
        # reproduces the stored ndv (the bytes survived the round trip)
        est = (
            spark.range(1)
            .select(F_mod.hll_sketch_estimate(F_mod.lit(bytes(payloads[i]))))
            .first()[0]
        )
        assert int(est) == column_ndv(t, col)

    # re-ANALYZE after an append: entry replaced, not stacked
    extra = [(1000 + i, dt.date(2024, 2, 1), "fresh") for i in range(5)]
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame(extra, S).coalesce(1)
    ).commit()
    t = update_column_ndv(spark, t, ["k"])
    d2 = _raw_doc(t)
    assert len(d2["statistics"]) == 1
    assert d2["statistics"][0]["statistics-path"] != entry["statistics-path"]
    assert d2["statistics"][0]["snapshot-id"] == t.metadata.current_snapshot_id
    # round-trip: statistics survive from_json
    back = TableMetadata.from_json(
        store.get(t.metadata_location()).decode()
    )
    assert back.statistics == d2["statistics"]


def test_partition_statistics_file_and_document_entry(catalog, spark):
    """r9: update_partition_statistics writes a real parquet file in the
    spec's partition-statistics schema (unified partition struct with the
    spec partition-field ids, spec_id, per-partition data counts) and
    references it from the document's top-level partition-statistics
    entry; re-running after an append replaces the entry; unpartitioned
    tables are a no-op; the field round-trips from_json."""
    from iceberg_catalog_postgres_spark.catalog.maintenance import (
        update_partition_statistics,
    )

    t = catalog.create_table(
        TableIdentifier.parse("spec.pstats"), S, partition_by=["day(d)"]
    )
    rows = [(i, dt.date(2024, 1, 1 + i % 3), f"n{i}") for i in range(30)]
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame(rows, S).coalesce(1)
    ).commit()
    t = update_partition_statistics(spark, t)

    d = _raw_doc(t)
    assert len(d["partition-statistics"]) == 1
    entry = d["partition-statistics"][0]
    assert entry["snapshot-id"] == t.metadata.current_snapshot_id
    store = t.catalog.object_store()
    import os

    path = store.resolve(entry["statistics-path"])
    assert os.path.getsize(path) == entry["file-size-in-bytes"]

    pdf = spark.read.parquet(path)
    assert pdf.columns[:5] == [
        "partition",
        "spec_id",
        "data_record_count",
        "data_file_count",
        "total_data_file_size_in_bytes",
    ]
    got = {
        r["partition"]["d_day"].isoformat(): r["data_record_count"]
        for r in pdf.collect()
    }
    assert got == {"2024-01-01": 10, "2024-01-02": 10, "2024-01-03": 10}
    assert {r["spec_id"] for r in pdf.collect()} == {0}

    # replace-on-rerun after an append
    extra = [(100, dt.date(2024, 1, 1), "x")]
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame(extra, S).coalesce(1)
    ).commit()
    t = update_partition_statistics(spark, t)
    d2 = _raw_doc(t)
    assert len(d2["partition-statistics"]) == 1
    assert d2["partition-statistics"][0]["statistics-path"] != entry["statistics-path"]
    back = TableMetadata.from_json(store.get(t.metadata_location()).decode())
    assert back.partition_statistics == d2["partition-statistics"]

    # unpartitioned: no-op
    t2 = catalog.create_table(TableIdentifier.parse("spec.pstats_unpart"), S)
    t2 = t2.new_transaction().append_dataframe(
        spark.createDataFrame(rows, S).coalesce(1)
    ).commit()
    assert update_partition_statistics(spark, t2) is t2


def test_metadata_gc_reclaims_unreferenced_statistics_sidecars(catalog, spark):
    """r9: remove_old_metadata_files also GCs Puffin / partition-statistics
    files once NO retained document references them — while the CURRENT
    document's sidecars stay readable."""
    import glob
    import os

    from iceberg_catalog_postgres_spark.catalog.maintenance import (
        remove_old_metadata_files,
        update_column_ndv,
        update_partition_statistics,
    )
    from iceberg_catalog_postgres_spark.catalog.puffin import read_puffin

    t = catalog.create_table(
        TableIdentifier.parse("spec.statsgc"), S, partition_by=["day(d)"]
    )
    rows = [(i, dt.date(2024, 1, 1 + i % 2), f"n{i}") for i in range(20)]
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame(rows, S).coalesce(1)
    ).commit()
    # two ANALYZE + two pstats generations: the older of each pair becomes
    # unreferenced once retention drops the documents that point at it
    t = update_column_ndv(spark, t, ["k"])
    t = update_partition_statistics(spark, t)
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(100, dt.date(2024, 1, 1), "x")], S).coalesce(1)
    ).commit()
    t = update_column_ndv(spark, t, ["k"])
    t = update_partition_statistics(spark, t)

    store = t.catalog.object_store()
    meta_dir = store.resolve(t.metadata.location + "/metadata")
    assert len(glob.glob(os.path.join(meta_dir, "*.stats.puffin"))) == 2
    assert len(glob.glob(os.path.join(meta_dir, "pstats-*", "*.parquet"))) == 2

    report = remove_old_metadata_files(t, keep_last=1)
    assert report["statistics_removed"] == 2  # one stale puffin + one pstats
    assert len(glob.glob(os.path.join(meta_dir, "*.stats.puffin"))) == 1
    assert len(glob.glob(os.path.join(meta_dir, "pstats-*", "*.parquet"))) == 1

    # current sidecars survive and stay readable
    cur_puffin = store.resolve(t.metadata.statistics[0]["statistics-path"])
    assert os.path.exists(cur_puffin)
    blobs, _p, _pl = read_puffin(cur_puffin)
    assert blobs
    cur_pstats = store.resolve(
        t.metadata.partition_statistics[0]["statistics-path"]
    )
    assert spark.read.parquet(cur_pstats).count() == 2  # two day partitions


def test_zorder_write_records_property_not_sort_order(catalog, spark):
    """Z-order is not expressible as an Iceberg sort order — the write
    records write.zorder-columns in properties (documented deviation) and
    leaves sort-orders at the unsorted default."""
    ZS = StructType([StructField("x", LongType(), True), StructField("y", LongType(), True)])
    t = catalog.create_table(TableIdentifier.parse("spec.zorder"), ZS)
    rows = [(i, (i * 37) % 64) for i in range(64)]
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame(rows, ZS), zorder_by=["x", "y"]
    ).commit()
    d = _raw_doc(t)
    assert json.loads(d["properties"]["write.zorder-columns"]) == ["x", "y"]
    assert d["default-sort-order-id"] == 0


def test_snapshot_log_truncates_at_current_after_rollback(catalog, spark):
    """ADVICE r7: the snapshot-log must be a valid history OF THE CURRENT
    snapshot — after rollback re-points current-snapshot-id, entries newer
    than current must leave the log (snapshots themselves stay for time
    travel)."""
    t = catalog.create_table(TableIdentifier.parse("spec.rb"), S)
    rows = [(i, dt.date(2024, 1, 1), f"n{i}") for i in range(4)]
    df = spark.createDataFrame(rows, S).coalesce(1)
    t = t.new_transaction().append_dataframe(df).commit()
    t = t.new_transaction().append_dataframe(df).commit()
    t = t.new_transaction().append_dataframe(df).commit()
    first = t.metadata.snapshots[0].snapshot_id
    t = t.rollback_to(first)
    d = _raw_doc(t)
    assert len(d["snapshots"]) == 3, "rollback must not rewrite history"
    assert [e["snapshot-id"] for e in d["snapshot-log"]] == [first]
    assert d["current-snapshot-id"] == first
    # a new commit after the rollback re-extends the log from current
    t = t.new_transaction().append_dataframe(df).commit()
    log_ids = [e["snapshot-id"] for e in _raw_doc(t)["snapshot-log"]]
    assert log_ids[0] == first and log_ids[-1] == t.metadata.current_snapshot_id


def test_unresolvable_current_spec_source_raises(catalog):
    """ADVICE r7: source-id: -1 fallback replaced by a loud error."""
    from dataclasses import replace as _dc_replace

    t = catalog.create_table(
        TableIdentifier.parse("spec.badsrc"), S, partition_by=["day(d)"]
    )
    bad = _dc_replace(t.metadata, partition_spec=["day(nope)"])
    with pytest.raises(ValueError, match="source column 'nope'"):
        bad.to_json()


def test_rename_rewrites_historical_spec_entries(catalog, spark):
    """Rename follow-through reaches the spec LOG too: after day(d)'s
    source renames, the serialized historical spec resolves the current
    name instead of crashing or omitting the spec."""
    t = catalog.create_table(
        TableIdentifier.parse("spec.renlog"), S, partition_by=["day(d)"]
    )
    rows = [(i, dt.date(2024, 1, 1 + i % 3), f"n{i}") for i in range(8)]
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame(rows, S).coalesce(1)
    ).commit()
    t = t.commit_partition_spec(["bucket(4,k)"])  # day(d) -> history
    sch = t.metadata.spark_schema
    renamed = StructType(
        [
            StructField(
                "event_date" if f.name == "d" else f.name,
                f.dataType,
                f.nullable,
                f.metadata,
            )
            for f in sch.fields
        ]
    )
    t = t.commit_schema(renamed)
    d = _raw_doc(t)
    specs = {s["spec-id"]: s for s in d["partition-specs"]}
    assert sorted(specs) == [0, 1]
    ids = {f["name"]: int(f["id"]) for f in d["schema"]["fields"]}
    assert specs[0]["fields"][0]["source-id"] == ids["event_date"]
    assert specs[0]["fields"][0]["name"] == "event_date_day"


def test_ndv_commit_appends_metadata_log(catalog, spark):
    """ADVICE r7: ANALYZE/NDV commits must leave a walkable pointer history
    like every other commit path."""
    from iceberg_catalog_postgres_spark.catalog.maintenance import update_column_ndv

    t = catalog.create_table(TableIdentifier.parse("spec.ndvlog"), S)
    rows = [(i, dt.date(2024, 1, 1), f"n{i}") for i in range(32)]
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame(rows, S).coalesce(1)
    ).commit()
    before_loc = t.metadata_location()
    before_len = len(t.metadata.metadata_log)
    t = update_column_ndv(spark, t, ["k"])
    log = t.metadata.metadata_log
    assert len(log) == before_len + 1
    assert log[-1]["metadata-file"] == before_loc


def test_every_maintenance_commit_appends_metadata_log(catalog, spark, monkeypatch):
    """r8 audit extending the ADVICE NDV finding: EVERY direct-commit
    maintenance path (compaction, CoW delete, eq-delete rewrite and its
    deletion-vector branch, both deletion-vector conversions, snapshot
    expiry, stats backfill, manifest rewrite, truncate, dynamic partition
    overwrite, partition statistics) and schema evolution must append the
    superseded document to metadata-log like Transaction / NDV commits do —
    otherwise the walkable pointer history advertised by
    catalog_metadata_log_history has silent gaps."""
    from iceberg_catalog_postgres_spark.catalog import maintenance as mx
    from iceberg_catalog_postgres_spark.catalog import metadata as md_mod

    def assert_logged(before_t, after_t, label, committed=False):
        if after_t.metadata_location() == before_t.metadata_location():
            assert not committed, f"{label}: expected a commit"
            return after_t  # no-op path: nothing committed, nothing to log
        log = after_t.metadata.metadata_log
        assert log and log[-1]["metadata-file"] == before_t.metadata_location(), (
            f"{label}: superseded document missing from metadata-log"
        )
        return after_t

    ids = TableIdentifier.parse("spec.mlog_all")
    t = catalog.create_table(ids, S)
    rows = [(i, dt.date(2024, 1, 1 + i % 3), f"n{i}") for i in range(60)]
    df = spark.createDataFrame(rows, S)
    for sl in (0, 1, 2):  # three small files -> compaction fodder
        t = t.new_transaction().append_dataframe(
            df.filter((F_mod.col("k") % 3) == sl).coalesce(1)
        ).commit()

    before = t
    t, *_ = mx.rewrite_small_files(spark, t, target_rows=100)
    t = assert_logged(before, t, "rewrite_small_files")

    before = t
    t, *_ = mx.delete_where_cow(spark, t, "k", 0, 4)
    t = assert_logged(before, t, "delete_where_cow")

    before = t
    t = mx.delete_where_mor(spark, t, F_mod.col("k") > 55)
    t = assert_logged(before, t, "delete_where_mor")
    before = t
    t = mx.rewrite_equality_deletes(spark, t)
    t = assert_logged(before, t, "rewrite_equality_deletes")

    # deletion-vector conversions, both directions
    before = t
    t = mx.rewrite_position_deletes_to_dvs(spark, t)
    t = assert_logged(before, t, "rewrite_position_deletes_to_dvs", True)
    before = t
    t = mx.rewrite_dvs_to_position_deletes(spark, t)
    t = assert_logged(before, t, "rewrite_dvs_to_position_deletes", True)

    # the deletion-vector branch of the equality-delete rewrite
    t = t.new_transaction().delete_keys_dataframe(
        spark.createDataFrame([(50,)], "k long").coalesce(1)
    ).commit()
    before = t
    t = mx.rewrite_equality_deletes(spark, t, to_dv=True)
    t = assert_logged(before, t, "rewrite_equality_deletes(to_dv)", True)

    before = t
    t = mx.backfill_file_stats(t)
    t = assert_logged(before, t, "backfill_file_stats")

    before = t
    t = mx.expire_snapshots(t, keep_last=2)
    t = assert_logged(before, t, "expire_snapshots")

    # manifest rewrite needs a chunked manifest chain
    monkeypatch.setattr(md_mod, "MANIFEST_THRESHOLD", 1)
    for sl in range(3):
        t = t.new_transaction().append_dataframe(
            df.filter((F_mod.col("k") % 3) == sl).coalesce(1)
        ).commit()
    before = t
    t = mx.rewrite_manifests(t, max_chunks=1)
    t = assert_logged(before, t, "rewrite_manifests")

    before = t
    t = t.commit_schema(
        StructType([*t.schema.fields, StructField("extra", StringType(), True)])
    )
    t = assert_logged(before, t, "commit_schema", True)

    before = t
    t = mx.truncate_table(t)
    t = assert_logged(before, t, "truncate_table", True)

    # dynamic partition overwrite needs an identity-partitioned table
    ids2 = TableIdentifier.parse("spec.mlog_dpo")
    S2 = S
    t2 = catalog.create_table(ids2, S2, partition_by=["name"])
    t2 = t2.new_transaction().append_dataframe(
        spark.createDataFrame(rows[:6], S2)
    ).commit()
    before2 = t2
    t2 = mx.overwrite_partitions(
        spark, t2, spark.createDataFrame([rows[0]], S2)
    )
    assert_logged(before2, t2, "overwrite_partitions")

    before2 = t2
    t2 = mx.update_partition_statistics(spark, t2)
    assert_logged(before2, t2, "update_partition_statistics", True)


def test_dropped_historical_spec_source_omits_that_spec(catalog, spark):
    """A column that sources only a HISTORICAL spec can be dropped (the
    drop guard protects current-spec sources only); the serialized
    partition-specs must then omit the unresolvable historical spec —
    preserving the spec-ids of its neighbors — instead of crashing or
    emitting source-id -1."""
    SX = StructType(
        [
            StructField("k", LongType(), True),
            StructField("old_part", LongType(), True),
            StructField("v", StringType(), True),
        ]
    )
    t = catalog.create_table(
        TableIdentifier.parse("spec.droppedsrc"), SX, partition_by=["old_part"]
    )
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(1, 10, "a"), (2, 20, "b")], SX).coalesce(1)
    ).commit()
    t = t.commit_partition_spec(["bucket(4,k)"])     # old_part -> history
    sch = t.metadata.spark_schema
    dropped = StructType([f for f in sch.fields if f.name != "old_part"])
    t = t.commit_schema(dropped)                     # drop historical source
    d = _raw_doc(t)
    specs = {s["spec-id"]: s for s in d["partition-specs"]}
    assert sorted(specs) == [1], "historical spec with dropped source must be omitted, current kept at its id"
    assert d["default-spec-id"] == 1
    # the table still reads
    assert t.to_df(spark).count() == 2


def test_partition_statistics_eq_delete_attribution_seq_scoped(catalog, spark):
    """r10: equality-delete counts in partition statistics are non-NULL,
    attributed per partition by a bounds-pruned key-scoped scan, and
    SEQUENCE-SCOPED — a key re-inserted AFTER the delete is not counted
    (the rows the delete targets are only those in files committed before
    it, matching the read's MOR scoping)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iceberg_catalog_postgres_spark.catalog.maintenance import (
        update_partition_statistics,
    )

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("p", LongType()),
            StructField("name", StringType()),
        ]
    )
    t = catalog.create_table(
        TableIdentifier.parse("spec.pstats_eq"), schema, partition_by=["p"]
    )
    # partition 0 holds keys 0..9, partition 1 holds keys 10..19
    rows = [(i, i // 10, f"n{i}") for i in range(20)]
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame(rows, schema).coalesce(1)
    ).commit()
    # delete keys 3 and 12 (one delete file -> file_count 1 per hit part)
    keys = spark.createDataFrame([(3,), (12,)], "k long").coalesce(1)
    t = t.new_transaction().delete_keys_dataframe(keys).commit()
    # RE-INSERT key 3 after the delete: it must NOT be counted
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame([(3, 0, "again")], schema).coalesce(1)
    ).commit()
    t = update_partition_statistics(spark, t)

    store = catalog.object_store()
    entry = t.metadata.partition_statistics[0]
    got = {
        r["p"]: (
            r["equality_delete_record_count"],
            r["equality_delete_file_count"],
        )
        for r in spark.read.parquet(store.resolve(entry["statistics-path"]))
        .select(
            F.col("partition.p").cast("long").alias("p"),
            "equality_delete_record_count",
            "equality_delete_file_count",
        )
        .collect()
    }
    # one targeted row per partition (keys 3 and 12, pre-delete cohort
    # only), one contributing delete file each; counts are 0, never NULL,
    # where nothing is targeted
    assert got == {0: (1, 1), 1: (1, 1)}
    # and the read agrees: key 3 survives via the re-insert
    ks = sorted(r["k"] for r in t.to_df(spark).collect())
    assert ks == sorted([i for i in range(20) if i not in (3, 12)] + [3])
