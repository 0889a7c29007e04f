"""commit_aging and commit_burst: the catalog's CAS commit on a private
Postgres server, with no JVM.

commit_aging: one writer on one connection makes sequential one-row
``append_rows(...).commit()`` calls on a fresh table, past
``MANIFEST_THRESHOLD`` snapshots, so commit cost is seen as a function of
table age. After every commit a reader step loads the table and plans a
seeded point predicate.

commit_burst: ``nproc`` writer threads, each with its own catalog and
connection, run barrier-synchronised rounds on one fresh table: every writer
loads the table and commits one row, so all but one lose the CAS, reload and
back off. After each round one writer alone makes the same point read as
commit_aging for each key the round committed. The table is replaced every
``BURST_ROUNDS`` rounds, which keeps it young: its cost is contention, not
age.

Both check their tables when the run ends: the row count equals the landed
commits, the key set is exact, snapshot sequence numbers form one gapless
chain and every acknowledged commit is visible. Any mismatch is a failure.
"""

from __future__ import annotations

import itertools
import os
import random
import shutil
import statistics
import threading
import time

from common import beyond, dir_mb, nproc, quantile, tree_peak_rss_mb, units_for

AGING_COMMITS = 120  # past MANIFEST_THRESHOLD = 100 snapshots
BURST_ROUNDS = 10
# Seconds of ``--seconds`` one episode stands for (10 s buys two aging
# episodes, ~10-20 s each on a 4-core host, and four burst episodes, ~1.6 s
# each). The p50s of two aging episodes in one run were uncorrelated (85 vs
# 95 ms, 122 vs 73 ms): with one episode per run the run-to-run spread of
# commit and read p50 reached 0.26-0.33, with two it fell to 0.10-0.16.
AGING_EPISODE_BUDGET_S = 5.0
BURST_EPISODE_BUDGET_S = 2.5
WARMUP_COMMITS = 5  # commit_aging's warm-up
KEY_SPACE = 1 << 40
BARRIER_TIMEOUT_S = 60.0


def _schema():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    return StructType([StructField("k", LongType()), StructField("v", StringType())])


class _Episode:
    """One fresh table and what the workload did to it."""

    def __init__(self, catalog, ident):
        self.catalog = catalog
        self.ident = ident
        self.acked: dict[int, int] = {}  # key -> snapshot id its commit returned
        self.planned: list[tuple[int, list[str]]] = []  # (point key, files planned)
        self.commit_ms: list[float] = []
        self.read_ms: list[float] = []
        self.wait_ms: list[float] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.setup_s = 0.0
        self.wall_s = 0.0

    def verify(self) -> list[str]:
        """End-of-run checks. Reads data files with pyarrow, outside timing."""
        import pyarrow.parquet as pq

        table = self.catalog.load_table(self.ident)
        store = self.catalog.object_store()
        file_of: dict[int, str] = {}
        n_rows = 0
        for f in table.data_files():
            for k in pq.read_table(store.resolve(f), columns=["k"]).column("k").to_pylist():
                n_rows += 1
                file_of[k] = f
        problems = []
        if n_rows != len(self.acked):
            problems.append(f"{self.ident}: {n_rows} rows for {len(self.acked)} landed commits")
        if set(file_of) != set(self.acked):
            problems.append(f"{self.ident}: key set differs from the acknowledged keys")
        seqs = sorted(s.sequence_number for s in table.metadata.snapshots)
        if seqs != list(range(seqs[0] if seqs else 1, (seqs[0] if seqs else 1) + len(seqs))):
            problems.append(f"{self.ident}: snapshot sequence numbers have gaps: {seqs[:5]}...")
        if len(seqs) != len(self.acked):
            problems.append(f"{self.ident}: {len(seqs)} snapshots for {len(self.acked)} landed commits")
        ids = {s.snapshot_id for s in table.metadata.snapshots}
        lost = [k for k, sid in self.acked.items() if sid not in ids]
        if lost:
            problems.append(f"{self.ident}: {len(lost)} acknowledged commits are not in the history")
        wrong = [q for q, got in self.planned if got != [file_of.get(q)]]
        if wrong:
            problems.append(f"{self.ident}: {len(wrong)} point reads planned the wrong files")
        return problems

    def table_dir(self) -> str:
        location = self.catalog.load_table(self.ident).metadata.location
        return self.catalog.object_store().resolve(location)


def _connect(url: str, warehouse: str):
    from iceberg_catalog_postgres_spark.catalog.catalog import PostgresCatalog

    cat = PostgresCatalog.connect("perfbench", url, warehouse)
    cat.initialize()
    return cat


def _aging_episode(url, warehouse, name, rng, schema, n_commits) -> _Episode:
    from iceberg_catalog_postgres_spark.catalog.catalog import TableIdentifier

    t = time.perf_counter()
    cat = _connect(url, warehouse)
    ident = TableIdentifier.parse(f"perfbench.{name}")
    table = cat.create_table(ident, schema)
    ep = _Episode(cat, ident)
    ep.setup_s = time.perf_counter() - t
    keys = rng.sample(range(1, KEY_SPACE), n_commits)
    landed: list[int] = []
    t_ep = time.perf_counter()
    for k in keys:
        ep.attempted += 1
        t0 = time.perf_counter()
        try:
            table = table.new_transaction().append_rows(None, [(k, f"row-{k}")], schema).commit()
        except Exception as exc:  # counted as a failed commit, never retried here
            ep.failures.append(f"{ident} commit of key {k}: {type(exc).__name__}: {exc}")
            table = cat.load_table(ident)
            continue
        t1 = time.perf_counter()
        ep.acked[k] = table.metadata.current_snapshot_id
        landed.append(k)
        q = landed[rng.randrange(len(landed))]
        try:
            got = cat.load_table(ident).planned_files("k", q, q)
        except Exception as exc:
            ep.failures.append(f"{ident} point read of key {q}: {type(exc).__name__}: {exc}")
            continue
        t2 = time.perf_counter()
        ep.commit_ms.append((t1 - t0) * 1e3)
        ep.read_ms.append((t2 - t1) * 1e3)
        ep.planned.append((q, got))
    ep.wall_s = time.perf_counter() - t_ep
    return ep


def _burst_episode(url, warehouse, name, rng, schema, writers) -> _Episode:
    from iceberg_catalog_postgres_spark.catalog.catalog import TableIdentifier

    t = time.perf_counter()
    cats = [_connect(url, warehouse) for _ in range(writers)]
    ident = TableIdentifier.parse(f"perfbench.{name}")
    cats[0].create_table(ident, schema)
    ep = _Episode(cats[0], ident)
    ep.setup_s = time.perf_counter() - t
    keys = rng.sample(range(1, KEY_SPACE), writers * BURST_ROUNDS)
    barrier = threading.Barrier(writers, timeout=BARRIER_TIMEOUT_S)
    lock = threading.Lock()

    def writer(i: int) -> None:
        cat = cats[i]
        try:
            for r in range(BURST_ROUNDS):
                k = keys[r * writers + i]
                barrier.wait()
                table = cat.load_table(ident)
                t1 = time.perf_counter()
                try:
                    done = table.new_transaction().append_rows(None, [(k, f"row-{k}")], schema).commit()
                    err = None
                except Exception as exc:  # retries ran out, or the commit broke
                    err = f"{ident} commit of key {k}: {type(exc).__name__}: {exc}"
                t2 = time.perf_counter()
                barrier.wait()
                t3 = time.perf_counter()
                with lock:
                    ep.attempted += 1
                    ep.commit_ms.append((t2 - t1) * 1e3)
                    ep.wait_ms.append((t3 - t2) * 1e3)
                    if err is None:
                        ep.acked[k] = done.metadata.current_snapshot_id
                    else:
                        ep.failures.append(err)
                # The reader steps run alone, while the other writers wait
                # for the next round: the round's concurrent loads time the
                # GIL and the scheduler more than the read path.
                if i == 0:
                    for q in keys[r * writers : (r + 1) * writers]:
                        t4 = time.perf_counter()
                        got = cat.load_table(ident).planned_files("k", q, q)
                        t5 = time.perf_counter()
                        with lock:
                            ep.read_ms.append((t5 - t4) * 1e3)
                            ep.planned.append((q, got))
        except threading.BrokenBarrierError:
            with lock:
                ep.failures.append(f"{ident} writer {i}: round barrier broken")
        except Exception as exc:
            with lock:
                ep.failures.append(f"{ident} writer {i}: {type(exc).__name__}: {exc}")
            barrier.abort()

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(writers)]
    t_ep = time.perf_counter()
    for th in threads:
        th.start()
    for th in threads:
        th.join(BARRIER_TIMEOUT_S * (BURST_ROUNDS + 1))
    ep.wall_s = time.perf_counter() - t_ep
    if any(th.is_alive() for th in threads):
        raise RuntimeError(f"{ident}: a writer thread did not finish")
    for cat in cats[1:]:
        cat.backend.close()
    return ep


def _e2e(eps: list[_Episode]) -> dict:
    commit_ms = [x for e in eps for x in e.commit_ms]
    read_ms = [x for e in eps for x in e.read_ms]
    if not commit_ms:
        return {}
    return {
        "op_p50_ms": quantile(commit_ms, 0.5),
        "op_p90_ms": quantile(commit_ms, 0.9),
        "ops_per_s": sum(len(e.acked) for e in eps) / sum(e.wall_s for e in eps),
        "read_p50_ms": quantile(read_ms, 0.5),
        "read_p90_ms": quantile(read_ms, 0.9),
    }


def run(workload: str, seed: int, seconds: int, trace: bool, work: str, t_start: float, ctx: dict) -> dict:
    import pyspark

    from iceberg_catalog_postgres_spark.catalog import metadata as md
    from iceberg_catalog_postgres_spark.catalog import table  # noqa: F401  (import cost is set-up)
    from pgserver import private_postgres, server_version

    import_s = time.perf_counter() - t_start
    schema = _schema()
    rng = random.Random(seed)
    warehouse = os.path.join(work, "warehouse")
    if workload == "commit_aging":
        units = units_for(seconds, AGING_EPISODE_BUDGET_S)

        def episode(url, name):
            return _aging_episode(url, warehouse, name, rng, schema, AGING_COMMITS)

        def warmup(url):
            return _aging_episode(url, warehouse, "warmup", rng, schema, WARMUP_COMMITS)
    else:
        writers = nproc()
        units = units_for(seconds, BURST_EPISODE_BUDGET_S)
        ctx["writers"] = writers

        def episode(url, name):
            return _burst_episode(url, warehouse, name, rng, schema, writers)

        # A whole episode: the first one in a process ran its reads at ~1.7x
        # the latency of the ones after it.
        def warmup(url):
            return episode(url, "warmup")

    ctx.update(local=None, spark=pyspark.__version__, postgres=server_version(), units=units)
    with private_postgres() as (url, boot_s):
        ctx["postgres_boot_s"] = boot_s
        t = time.perf_counter()
        warm = warmup(url)
        warmup_s = time.perf_counter() - t - warm.setup_s
        result = {}
        if not trace:
            eps = [episode(url, f"{workload}_{e}") for e in range(units)]
            checked = eps
        else:
            from headline import QUERIES
            from spans import measure_alternating, per_layer

            names = itertools.count()
            eps, traced, rec, chunks = measure_alternating(
                units, lambda r: episode(url, f"{workload}_{next(names)}"),
                lambda: md.MANIFEST_CHUNK_READS,
            )
            base, with_trace = _e2e(eps), _e2e(traced)
            overhead = with_trace["op_p50_ms"] / base["op_p50_ms"] - 1.0 if base and with_trace else 0.0
            waits = [x for e in traced for x in e.wait_ms]
            layers, span_table = per_layer(rec, len(traced), chunks, QUERIES, [], waits, overhead)
            result.update(layers=layers, recorder=rec, span_table=span_table, traced_e2e=with_trace)
            checked = eps + traced
        failures = warm.failures + warm.verify()
        warm.catalog.backend.close()
        sizes = []
        for ep in checked:
            failures += ep.failures + ep.verify()
            sizes.append(dir_mb(ep.table_dir()))
            shutil.rmtree(ep.table_dir(), ignore_errors=True)
            ep.catalog.backend.close()
    commit_ms = [x for e in eps for x in e.commit_ms]
    ctx.update(
        samples=len(commit_ms),
        beyond_p90=beyond(commit_ms, 0.9) if commit_ms else 0,
        landed=sum(len(e.acked) for e in eps),
        commits_attempted=sum(e.attempted for e in eps),
        setup_parts_s={"import": import_s, "warmup": warmup_s, "episode_setup": [e.setup_s for e in eps]},
    )
    e2e = {
        "setup_s": import_s + warmup_s + statistics.median(e.setup_s for e in eps),
        "peak_rss_mb": sum(tree_peak_rss_mb().values()),
        "warehouse_mb": statistics.median(sizes[: len(eps)]),
        **_e2e(eps),
    }
    attempted = warm.attempted + sum(e.attempted for e in checked)
    result.update(attempted=attempted, failures=failures, e2e=e2e, units=units)
    return result
