"""Exact-count pins: at a fixed seed these counts repeat exactly across two
runs of the benchmark. Run from the checkout root with

    python3 -m pytest perfbench/test_pins.py -q

The commit tests boot a private Postgres server per run; the headline test
starts Spark twice and takes about two minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        return result, json.load(f)


def _values(result: dict) -> dict:
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_benchmark_json_names_every_printed_metric():
    from headline import QUERIES
    from run import END_TO_END, WORKLOADS
    from spans import LAYER_METRICS, query_metric_names

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        **query_metric_names(QUERIES), **LAYER_METRICS
    }
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert "commit_burst" not in WORKLOADS  # runnable, but not benchmarked


def test_commit_aging_counts_repeat():
    a, b = (_values(_run("commit_aging", 7, 10, 1)[0]) for _ in range(2))
    for name in ("backend.statements_per_commit", "metadata.chunk_reads", "cas.attempts_per_commit"):
        assert a[name] == b[name], name
    assert a["cas.attempts_per_commit"] == 1.0
    assert a["cas.success_ratio"] == 1.0
    assert a["metadata.chunk_reads"] > 0


def test_commit_burst_lands_every_attempted_commit():
    for _ in range(2):
        result, artifact = _run("commit_burst", 7, 3, 0)
        ctx = artifact["context"]
        assert result["correct"] and result["failed"] == 0, artifact["failures"]
        assert ctx["landed"] == ctx["commits_attempted"] > 0


def test_headline_spark_jobs_repeat_after_warmup():
    jobs = []
    for _ in range(2):
        result, artifact = _run("headline_mix", 7, 8, 1)
        assert result["correct"], artifact["failures"]
        jobs.append({k: v for k, v in _values(result).items() if k.endswith(".spark_jobs")})
    assert jobs[0] == jobs[1]
    assert all(v > 0 for v in jobs[0].values())
