"""Commit latency as a table ages: N one-row commits on a fresh SQLite
catalog, no JVM.

Prints one row per window of commits (default 50): the window's commit p50,
the size of the metadata document current at the window's end, the size of
the table's directory and the process's peak RSS so far. There is no gate;
it is the instrument for checking that commit latency at snapshot 400 stays
within 2x of snapshot 10.

Run: python tools/commit_curve.py [--commits 400] [--window 50] [--dir PATH]

Without ``--dir`` the warehouse goes to a temporary directory that is removed
at exit.
"""

from __future__ import annotations

import argparse
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]

from common import dir_mb  # perfbench/common.py
from pyspark.sql.types import LongType, StringType, StructField, StructType

from iceberg_catalog_postgres_spark.catalog.catalog import PostgresCatalog, TableIdentifier


def run(warehouse: str, commits: int, window: int) -> None:
    catalog = PostgresCatalog.connect("curve", None, warehouse)
    catalog.initialize()
    schema = StructType([StructField("k", LongType()), StructField("v", StringType())])
    table = catalog.create_table(TableIdentifier.parse("curve.t"), schema)
    store = catalog.object_store()
    table_dir = store.resolve(table.metadata.location)
    print(
        f"{'commits':>8} {'commit_p50_ms':>14} {'document_kb':>12} "
        f"{'table_mb':>10} {'peak_rss_mb':>12}"
    )
    times: list[float] = []
    for k in range(1, commits + 1):
        t0 = time.perf_counter()
        table = table.new_transaction().append_rows(None, [(k, f"row-{k}")], schema).commit()
        times.append((time.perf_counter() - t0) * 1000.0)
        if k % window == 0 or k == commits:
            doc_kb = os.path.getsize(store.resolve(table.metadata_location())) / 1024.0
            rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            print(
                f"{k:>8} {statistics.median(times):>14.1f} {doc_kb:>12.1f} "
                f"{dir_mb(table_dir):>10.1f} {rss_mb:>12.0f}",
                flush=True,
            )
            times = []
    catalog.backend.close()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--commits", type=int, default=400)
    ap.add_argument("--window", type=int, default=50)
    ap.add_argument("--dir", help="warehouse directory (default: a temporary one)")
    args = ap.parse_args()
    if args.dir:
        run(args.dir, args.commits, args.window)
        return
    warehouse = tempfile.mkdtemp(prefix="commit-curve-")
    try:
        run(warehouse, args.commits, args.window)
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)


if __name__ == "__main__":
    main()
