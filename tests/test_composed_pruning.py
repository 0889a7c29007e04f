"""planned_files_composed (r8): one manifest-index walk composing monotone
range predicates with point (bucket) predicates over a multi-entry spec.
VERDICT r7 item 5."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from iceberg_catalog_postgres_spark.catalog.catalog import (
    PostgresCatalog,
    TableIdentifier,
)
from iceberg_catalog_postgres_spark.catalog.metadata import FIELD_ID_KEY, TableMetadata
from iceberg_catalog_postgres_spark.catalog.table import Table, transform_value


@pytest.fixture
def catalog(tmp_path):
    cat = PostgresCatalog.connect("composed_cat", None, str(tmp_path / "warehouse"))
    cat.initialize()
    yield cat
    cat.backend.close()


S = StructType(
    [
        StructField("id", LongType(), True, {FIELD_ID_KEY: 1}),
        StructField("uid", LongType(), True, {FIELD_ID_KEY: 2}),
        StructField("ts", TimestampType(), True, {FIELD_ID_KEY: 3}),
    ]
)


def _rows():
    base = dt.datetime(2024, 3, 1)
    return [
        (i, i % 5, base + dt.timedelta(days=i % 10, hours=i % 24))
        for i in range(200)
    ]


def _build(catalog, spark, name, n_appends: int = 1):
    t = catalog.create_table(
        TableIdentifier.parse(f"comp.{name}"),
        S,
        partition_by=["day(ts)", "bucket(4,uid)"],
    )
    rows = _rows()
    for a in range(n_appends):
        # slice by day so each append's (delta) manifest chunk covers a
        # contiguous day band — what a real daily-ingest table looks like
        days = {a * (10 // n_appends) + d for d in range(10 // n_appends)}
        batch = [r for r in rows if (r[0] % 10) in days]
        t = t.new_transaction().append_dataframe(
            spark.createDataFrame(batch, S)
        ).commit()
    return t


def _check(t, spark):
    lo, hi = dt.datetime(2024, 3, 3), dt.datetime(2024, 3, 5, 23, 59, 59)
    comp = sorted(t.planned_files_composed(ranges={"ts": (lo, hi)}, points={"uid": 2}))
    rng = sorted(t.planned_files_transformed_range("ts", lo, hi))
    pt = sorted(t.planned_files_transformed({"uid": 2}))
    assert comp == sorted(set(rng) & set(pt)), "composed != intersection"
    assert 0 < len(comp) < min(len(rng), len(pt)), "both dimensions must prune"
    got = (
        t.to_df(spark, transformed_filter={"uid": 2}, transformed_range=("ts", lo, hi))
        .filter(
            (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)) & (F.col("uid") == 2)
        )
        .count()
    )
    want = sum(
        1 for (_i, u, ts) in _rows() if u == 2 and lo <= ts <= hi
    )
    assert got == want, "composed read lost or duplicated rows"


def test_composed_pruning_inline(catalog, spark):
    t = _build(catalog, spark, "inline")
    _check(t, spark)


def test_composed_pruning_through_manifest_chunks(catalog, spark, monkeypatch):
    import iceberg_catalog_postgres_spark.catalog.metadata as md_mod

    monkeypatch.setattr(md_mod, "MANIFEST_THRESHOLD", 2)
    t = _build(catalog, spark, "chunked", n_appends=5)
    assert t.metadata.current_snapshot().manifests, "expected manifest spill"
    # chunk-level exclusion must actually fire: count chunk fetches
    md_mod.MANIFEST_CHUNK_READS = 0
    t.planned_files_composed(
        ranges={"ts": (dt.datetime(2024, 3, 3), dt.datetime(2024, 3, 5, 23, 59, 59))},
        points={"uid": 2},
    )
    fetched = md_mod.MANIFEST_CHUNK_READS
    n_chunks = len(t.metadata.current_snapshot().chunk_refs() or [])
    assert 0 < fetched < n_chunks, (
        f"two-level skip did not fire: fetched {fetched}/{n_chunks} chunks"
    )
    _check(t, spark)


def test_composed_superset_safe_across_spec_evolution(catalog, spark):
    """Files whose tuples were recorded under an OLD spec must be kept."""
    t = catalog.create_table(
        TableIdentifier.parse("comp.evolved"), S, partition_by=["bucket(4,id)"]
    )
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame(_rows()[:100], S).coalesce(1)
    ).commit()
    t = t.commit_partition_spec(["day(ts)", "bucket(4,uid)"])
    t = t.new_transaction().append_dataframe(
        spark.createDataFrame(_rows()[100:], S)
    ).commit()
    lo, hi = dt.datetime(2024, 3, 3), dt.datetime(2024, 3, 5, 23, 59, 59)
    got = (
        t.to_df(spark, transformed_filter={"uid": 2}, transformed_range=("ts", lo, hi))
        .filter(
            (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)) & (F.col("uid") == 2)
        )
        .count()
    )
    want = sum(1 for (_i, u, ts) in _rows() if u == 2 and lo <= ts <= hi)
    assert got == want, "old-spec files dropped by composed pruning"


def test_composed_no_constraints_returns_all(catalog, spark):
    t = _build(catalog, spark, "allfiles")
    assert len(t.planned_files_composed()) == len(t.metadata.current_data_files())


def test_set_valued_points_single_walk(catalog, spark):
    """r13: a LIST of point values (SQL IN) plans in ONE composed walk as
    the exact union of the per-value plans — inline and through
    chunk-summary exclusion."""
    import iceberg_catalog_postgres_spark.catalog.metadata as md_mod

    t = _build(catalog, spark, "setpts")
    multi = sorted(t.planned_files_composed(points={"uid": [1, 3]}))
    union = sorted(
        set(t.planned_files_composed(points={"uid": 1}))
        | set(t.planned_files_composed(points={"uid": 3}))
    )
    assert multi == union and 0 < len(multi) < len(t.data_files())
    # composed with a range, still one walk, still the union semantics
    lo, hi = dt.datetime(2024, 3, 3), dt.datetime(2024, 3, 5, 23, 59, 59)
    both = set(
        t.planned_files_composed(ranges={"ts": (lo, hi)}, points={"uid": [1, 3]})
    )
    assert both == set(union) & set(
        t.planned_files_transformed_range("ts", lo, hi)
    )


def test_set_valued_points_chunk_exclusion(catalog, spark, monkeypatch):
    """Chunk-summary exclusion stays exact for set-valued points: a chunk
    covering none of the IN values is skipped unfetched; results match
    the scalar unions."""
    import iceberg_catalog_postgres_spark.catalog.metadata as md_mod

    monkeypatch.setattr(md_mod, "MANIFEST_THRESHOLD", 2)
    t = _build(catalog, spark, "setchunk", n_appends=5)
    assert t.metadata.current_snapshot().manifests
    lo, hi = dt.datetime(2024, 3, 3), dt.datetime(2024, 3, 3, 23, 59, 59)
    md_mod.MANIFEST_CHUNK_READS = 0
    got = set(
        t.planned_files_composed(ranges={"ts": (lo, hi)}, points={"uid": [0, 2]})
    )
    fetched = md_mod.MANIFEST_CHUNK_READS
    n_chunks = len(t.metadata.current_snapshot().chunk_refs() or [])
    assert 0 < fetched < n_chunks, "chunk skip must fire for set points"
    want = set(
        t.planned_files_composed(ranges={"ts": (lo, hi)}, points={"uid": 0})
    ) | set(
        t.planned_files_composed(ranges={"ts": (lo, hi)}, points={"uid": 2})
    )
    assert got == want


RENAMED = StructType(
    [
        StructField("key", LongType(), True, {FIELD_ID_KEY: 1}),
        StructField("uid", LongType(), True, {FIELD_ID_KEY: 2}),
        StructField("event_ts", TimestampType(), True, {FIELD_ID_KEY: 3}),
    ]
)

# MANIFEST_CHUNK_READS delta of each planner call on the spilled layout, in
# call order. Five appends give five chunks, one per two-day band; one chunk
# holds no file in uid 2's bucket. With an empty rename log the bounds, day
# and bucket summaries skip chunks; no file is all-null, so IS NOT NULL
# reads every chunk. After a rename, planned_files and
# planned_files_nullness walk the per-file dicts: the first call inflates
# the snapshot (all five chunks), the second reads none. The renamed day
# entry loses its chunk test, so only the bucket summary still skips.
CHUNK_READS = {
    False: {
        "planned_files": 2,
        "planned_files_nullness": 5,
        "planned_files_partition": 1,
        "planned_files_transformed": 4,
        "planned_files_transformed_range": 2,
        "planned_files_composed": 2,
    },
    True: {
        "planned_files": 5,
        "planned_files_nullness": 0,
        "planned_files_partition": 5,
        "planned_files_transformed": 4,
        "planned_files_transformed_range": 5,
        "planned_files_composed": 4,
    },
}


def _inline_view(t):
    """``t`` with every snapshot's file list inlined in the metadata JSON —
    the layout below MANIFEST_THRESHOLD — over the very same data files."""
    md = TableMetadata.from_json(t.metadata.to_json(), store=t.catalog.object_store())
    for s in md.snapshots:
        s.data_files  # inflates the per-file dicts from the chunks
        s.manifests = None
    inline = TableMetadata.from_json(md.to_json())
    return Table(t.identifier, t.catalog, inline, t.metadata_location())


@pytest.mark.parametrize("rename", [False, True], ids=["plain", "renamed"])
def test_layout_parity(catalog, spark, monkeypatch, rename):
    """Every public planner returns the same files whether the snapshot's
    file list is inline or spilled to manifest chunks
    (MANIFEST_THRESHOLD=1), with and without a column rename; the point and
    range planners equal their composed forms; the spilled layout's chunk
    fetches are pinned per call."""
    import iceberg_catalog_postgres_spark.catalog.metadata as md_mod

    monkeypatch.setattr(md_mod, "MANIFEST_THRESHOLD", 1)
    t = _build(catalog, spark, f"parity_{rename}", n_appends=5)
    if rename:
        t = t.commit_schema(RENAMED)
    key, ts = ("key", "event_ts") if rename else ("id", "ts")
    spilled = catalog.load_table(t.identifier)
    assert len(spilled.metadata.current_snapshot().chunk_refs() or []) == 5
    inline = _inline_view(spilled)
    assert inline.metadata.current_snapshot().manifests is None
    lo, hi = dt.datetime(2024, 3, 3), dt.datetime(2024, 3, 5, 23, 59, 59)
    day = f"day({ts})"
    calls = {
        "planned_files": lambda x: x.planned_files(ts, lo, hi),
        "planned_files_nullness": lambda x: x.planned_files_nullness(key, want_null=False),
        "planned_files_partition": lambda x: x.planned_files_partition(
            {day: transform_value(day, lo, src_type="timestamp")}
        ),
        "planned_files_transformed": lambda x: x.planned_files_transformed({"uid": 2}),
        "planned_files_transformed_range": lambda x: x.planned_files_transformed_range(
            ts, lo, hi
        ),
        "planned_files_composed": lambda x: x.planned_files_composed(
            ranges={ts: (lo, hi)}, points={"uid": 2}
        ),
    }
    n_files = len(inline.data_files())
    reads = {}
    for name, call in calls.items():
        before = md_mod.MANIFEST_CHUNK_READS
        got = sorted(call(spilled))
        reads[name] = md_mod.MANIFEST_CHUNK_READS - before
        before = md_mod.MANIFEST_CHUNK_READS
        assert got == sorted(call(inline)), f"{name}: layouts disagree"
        assert md_mod.MANIFEST_CHUNK_READS == before, f"{name}: inline read a chunk"
        if name != "planned_files_nullness":  # no column has a null
            assert 0 < len(got) < n_files, f"{name}: nothing pruned"
    assert reads == CHUNK_READS[rename]
    for x in (spilled, inline):
        assert x.planned_files_transformed({"uid": 2}) == x.planned_files_composed(
            points={"uid": 2}
        )
        assert x.planned_files_transformed_range(ts, lo, hi) == x.planned_files_composed(
            ranges={ts: (lo, hi)}
        )
