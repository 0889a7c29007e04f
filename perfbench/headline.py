"""headline_mix: the 13 ``bench``-tagged registry queries at sf0.1.

One closed-loop client runs whole passes over the 13 queries, each pass in
an order shuffled by the seed. One execution is ``spec.fn(spark, sf)``
(driver-side plan building, plus the catalog lifecycle in the two catalog
rows) followed by ``.collect()``. Every result is hashed with the oracle's
canonical hash and compared with its DuckDB answer, computed once before
timing starts.
"""

from __future__ import annotations

import os
import random
import time

from common import beyond, dir_mb, nproc, quantile, tree_peak_rss_mb, units_for

# The repository's read-only fixture tables (TESTDATA.md), at scale factor 0.1.
SF_DIR = os.path.expanduser("~/testdata/sf0.1")

# The workload: fixed here so every run, and BENCHMARK.json, names the same
# queries. The run fails if the registry's bench tag no longer matches.
QUERIES = (
    "catalog_mor_merge_read",
    "catalog_sql_select_read",
    "dedup_minhash_lsh",
    "llm_corpus_pipeline",
    "q10_returned_items",
    "q18_large_volume_customers",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "sim_cosine_topk_brute",
    "text_token_stats",
    "window_topk_per_group",
)

# Warm passes before timing. On a 4-core host the pass time fell from 22 s
# to 9.2 s, then held at ~8.2 s from the third pass on; one warm-up pass
# leaves the first timed pass ~10% slow, and a second would cost every run
# another 9 s of the benchmark's time budget.
WARMUP_PASSES = 1
# Seconds of ``--seconds`` one timed pass stands for: 10 s buys two passes.
# With one pass (13 samples) the median jumped between neighbouring queries'
# times and its run-to-run spread reached 0.23-0.30; two passes held it at
# about 0.14.
PASS_BUDGET_S = 5.0


class _Client:
    def __init__(self, spark, registry, expected: dict):
        self.spark = spark
        self.registry = registry
        self.expected = expected
        self.attempted = 0
        self.failures: list[str] = []
        self._groups = 0

    def execute(self, name: str, recorder=None) -> dict | None:
        """Run one query; return its timings, or None when it failed."""
        import pandas as pd

        from iceberg_catalog_postgres_spark.oracle import value_hash

        spec = self.registry[name]
        sc = self.spark.sparkContext
        group = None
        if recorder is not None:
            self._groups += 1
            group = f"perfbench-{self._groups}"
            sc.setJobGroup(group, name)
        self.attempted += 1
        try:
            if recorder is None:
                t0 = time.perf_counter()
                df = spec.fn(self.spark, SF_DIR)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
            else:
                with recorder.span("query.build") as b:
                    df = spec.fn(self.spark, SF_DIR)
                with recorder.span("query.exec") as e:
                    rows = df.collect()
                t0, t1, t2 = b.start, e.start, e.end
        except Exception as exc:  # a failing query is counted, never dropped
            self.failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            return None
        got = value_hash(pd.DataFrame([tuple(r) for r in rows], columns=df.columns))
        if got != self.expected[name]:
            self.failures.append(f"{name}: result differs from the oracle")
            return None
        out = {"name": name, "build_s": t1 - t0, "exec_s": t2 - t1, "op_s": t2 - t0}
        if group is not None:
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    tasks += st.numCompletedTasks if st else 0
            out["spark_jobs"], out["spark_tasks"] = len(jobs), tasks
        return out

    def run_pass(self, rng: random.Random, recorder=None) -> list[dict]:
        order = list(QUERIES)
        rng.shuffle(order)
        return [r for r in (self.execute(n, recorder) for n in order) if r is not None]


def _stop_jvm() -> None:
    """End the Spark JVM and wait for it. ``spark.stop()`` leaves the JVM
    running until its stdin closes, which otherwise happens only as this
    process exits, so the JVM would outlive the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    try:
        gateway.shutdown()
    except Exception:  # the connection may already be gone
        pass
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _e2e(execs: list[dict]) -> dict:
    if not execs:
        return {}
    op_ms = [e["op_s"] * 1e3 for e in execs]
    read_ms = [e["exec_s"] * 1e3 for e in execs]
    return {
        "op_p50_ms": quantile(op_ms, 0.5),
        "op_p90_ms": quantile(op_ms, 0.9),
        "ops_per_s": len(op_ms) / (sum(op_ms) / 1e3),
        "read_p50_ms": quantile(read_ms, 0.5),
        "read_p90_ms": quantile(read_ms, 0.9),
    }


def run(seed: int, seconds: int, trace: bool, work: str, t_start: float, ctx: dict) -> dict:
    import pyspark

    from iceberg_catalog_postgres_spark import oracle
    from iceberg_catalog_postgres_spark.catalog import maintenance
    from iceberg_catalog_postgres_spark.catalog import metadata as md
    from iceberg_catalog_postgres_spark.registry import load_all
    from iceberg_catalog_postgres_spark.session import get_spark
    from pgserver import server_version

    registry = load_all()
    import_s = time.perf_counter() - t_start
    tagged = sorted(n for n, s in registry.items() if "bench" in s.tags)
    if tagged != sorted(QUERIES):
        raise SystemExit(f"bench-tagged queries changed: {tagged}")
    if not os.path.isdir(SF_DIR):
        raise SystemExit(f"test data not found: {SF_DIR}")

    t = time.perf_counter()
    con = oracle.duckdb_connection(SF_DIR)
    expected = {n: oracle.value_hash(con.execute(registry[n].oracle).fetchdf()) for n in QUERIES}
    con.close()
    ctx["oracle_s"] = time.perf_counter() - t

    t = time.perf_counter()
    cpus = nproc()
    spark = get_spark(
        app_name="perfbench-headline",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        ctx.update(
            local=spark.sparkContext.master, spark=pyspark.__version__,
            postgres=server_version(), sf_dir=SF_DIR,
        )

        client = _Client(spark, registry, expected)
        rng = random.Random(seed)
        t = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            client.run_pass(rng)
        warmup_s = time.perf_counter() - t
        ctx["setup_parts_s"] = {"import": import_s, "session": session_s, "warmup": warmup_s}

        passes = units_for(seconds, PASS_BUDGET_S)
        result = {"units": passes}
        if not trace:
            execs = [e for _ in range(passes) for e in client.run_pass(rng)]
        else:
            from spans import measure_alternating, per_layer

            plain, traced_passes, rec, chunks = measure_alternating(
                passes, lambda r: client.run_pass(rng, r), lambda: md.MANIFEST_CHUNK_READS
            )
            execs = [e for p in plain for e in p]
            traced = [e for p in traced_passes for e in p]
            base, with_trace = _e2e(execs), _e2e(traced)
            overhead = with_trace["op_p50_ms"] / base["op_p50_ms"] - 1.0 if execs and traced else 0.0
            layers, span_table = per_layer(rec, len(traced_passes), chunks, QUERIES, traced, [], overhead)
            result.update(layers=layers, recorder=rec, span_table=span_table, traced_e2e=with_trace)
        peak = tree_peak_rss_mb()
    finally:
        spark.stop()
        _stop_jvm()

    wh = sum(
        dir_mb(os.path.join(maintenance._REPO_ROOT, ".tmp", q, "warehouse"))
        for q in ("catalog_mor_merge_read", "catalog_sql_select_read")
    )
    op_ms = [e["op_s"] * 1e3 for e in execs]
    ctx.update(samples=len(op_ms), beyond_p90=beyond(op_ms, 0.9) if op_ms else 0, passes=passes)
    ctx["peak_rss_mb_by_pid"] = peak
    e2e = {"setup_s": import_s + session_s + warmup_s, "peak_rss_mb": sum(peak.values()), "warehouse_mb": wh, **_e2e(execs)}
    result.update(attempted=client.attempted, failures=client.failures, e2e=e2e)
    return result
