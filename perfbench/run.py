"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see BENCHMARK.json and
perfbench/LAYERS.md): ``headline_mix`` and ``commit_aging``, and
``commit_burst``, which runs the same way but is not in BENCHMARK.json.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A fuller artifact
(host context, named failures, sample counts, span table) is written to
``.perfbench/out/`` in the checkout, and with ``--trace 1`` the raw spans too.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import random  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("headline_mix", "commit_aging")
# Run-to-run spread above the metric bounds on a shared 4-core host, and no
# room for longer runs in the benchmark's time budget: see LAYERS.md.
UNLISTED_WORKLOADS = ("commit_burst",)
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_share": "share",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "ops_per_s": "1/s",
    "read_p50_ms": "ms",
    "read_p90_ms": "ms",
    "warehouse_mb": "MB",
}


def _prepare_environment(work: str) -> None:
    """Pin what the library and Spark read from the environment, and keep
    every temporary file inside the checkout's work directory."""
    sys.path.insert(0, ROOT)
    import iceberg_catalog_postgres_spark as pkg

    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        raise SystemExit(f"library imported from outside the checkout: {pkg.__file__}")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    # A deployment setting: with the session factory's 24 GB default the
    # process tree grew to ~7.6 GB resident at sf0.1, more than a shared
    # 15 GB host can spare for every run.
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Spark's Python workers import the library from the checkout too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + UNLISTED_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)
    # A terminated run still stops its Postgres server and Spark session and
    # deletes its work directory: the ``finally`` blocks run on SystemExit.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    # The commit retry loop's backoff jitter follows the seed too.
    random.seed(args.seed)

    from common import become_subreaper, host_context, steal_s, stop_descendants

    become_subreaper()
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    _prepare_environment(work)

    ctx = host_context(args.seed, args.workload, trace)
    try:
        if args.workload == "headline_mix":
            import headline

            res = headline.run(args.seed, args.seconds, trace, work, T_START, ctx)
        else:
            import commits

            res = commits.run(args.workload, args.seed, args.seconds, trace, work, T_START, ctx)
    finally:
        # The Spark JVM, its Python workers and the Postgres server are all
        # stopped above; this ends anything that outlived its owner.
        left = stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    if left:
        raise SystemExit(f"processes still running after the run: {left}")
    ctx.update(loadavg_end=os.getloadavg(), steal_s=steal_s() - ctx.pop("steal_s_start"))

    failures = res["failures"]
    attempted = res["attempted"]
    failed = min(len(failures), attempted)
    e2e = {**res["e2e"], "ok_share": 1.0 - failed / attempted}
    if trace:
        from headline import QUERIES
        from spans import LAYER_METRICS, query_metric_names

        metric_units = {**query_metric_names(QUERIES), **LAYER_METRICS}
        values = res["layers"]
    else:
        metric_units, values = END_TO_END, e2e
    missing = [m for m in metric_units if m not in values]
    if missing:  # nothing succeeded, so these have no value to report
        failures.append(f"no value for {missing}")
        failed = min(len(failures), attempted)

    artifact = {"context": ctx, "attempted": attempted, "failures": failures, "end_to_end": e2e}
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if trace:
        artifact.update(
            per_layer=values, traced_end_to_end=res["traced_e2e"],
            span_table=res["span_table"], work_units=res["units"],
        )
        res["recorder"].dump(stem + "-spans.jsonl")
    with open(stem + ".json", "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    for line in failures:
        print(f"FAILED {line}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in metric_units.items()},
    }))


if __name__ == "__main__":
    main()
