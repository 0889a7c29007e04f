"""In-memory span recorder for the traced benchmark run.

The recorder wraps the public functions of each library layer from the
outside (no library file changes) and records one span per call: name,
start, end, parent span and thread. Nothing is written while the run
measures; ``dump`` writes the spans out when the run ends.

A span's self time is its duration minus the time its child spans cover.
Children always run on the parent's thread and nest inside it, so their
durations simply add up.
"""

from __future__ import annotations

import inspect
import itertools
import json
import statistics
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "iceberg_catalog_postgres_spark"

# (module, owner attribute or None for a module function, function, span name,
#  whether the span records len() of the result or of argument 2 as bytes)
LAYER_FUNCTIONS = [
    ("catalog.catalog", "PostgresCatalog", "connect", "catalog.connect", None),
    ("catalog.catalog", "PostgresCatalog", "initialize", "catalog.initialize", None),
    ("catalog.catalog", "PostgresCatalog", "create_table", "catalog.create_table", None),
    ("catalog.catalog", "PostgresCatalog", "load_table", "catalog.load_table", None),
    ("catalog.catalog", "PostgresCatalog", "update_table", "catalog.update_table", None),
    ("catalog.catalog", "ObjectStore", "get", "store.get", "result"),
    ("catalog.catalog", "ObjectStore", "put", "store.put", "arg2"),
    ("catalog.backend", "SqliteBackend", "execute", "backend.execute", None),
    ("catalog.backend", "PostgresBackend", "execute", "backend.execute", None),
    ("catalog.pgwire", "PgWireConnection", "execute", "pgwire.execute", None),
    ("catalog.metadata", "TableMetadata", "to_json", "metadata.to_json", "result"),
    ("catalog.metadata", "TableMetadata", "from_json", "metadata.from_json", None),
    ("catalog.metadata", None, "load_chunk", "metadata.load_chunk", None),
    ("catalog.metadata", None, "plan_manifests", "metadata.plan_manifests", None),
    ("catalog.table", "Transaction", "append_rows", "table.append_rows", None),
    ("catalog.table", "Transaction", "append_dataframe", "table.append_dataframe", None),
    ("catalog.table", "Transaction", "commit", "table.commit", None),
    ("catalog.table", "Table", "planned_files", "table.planned_files", None),
    ("catalog.table", "Table", "to_df", "table.to_df", None),
    ("catalog.maintenance", None, "merge_into", "maintenance.merge_into", None),
    ("catalog.select_sql", None, "select_sql", "select_sql.select_sql", None),
]


class _Span:
    __slots__ = ("id", "parent", "name", "start", "end", "thread", "nbytes", "failed")

    def __init__(self, sid, parent, name, thread):
        self.id, self.parent, self.name, self.thread = sid, parent, name, thread
        self.start = self.end = 0.0
        self.nbytes = None
        self.failed = False


class _SleepProxy:
    """Stands in for the ``time`` module inside ``catalog.table`` so the
    commit retry loop's backoff sleep becomes a span; every other attribute
    is the real module's."""

    def __init__(self, recorder: "Recorder"):
        self._recorder = recorder

    def __getattr__(self, attr):
        return getattr(time, attr)

    def sleep(self, seconds):
        with self._recorder.span("txn.backoff"):
            time.sleep(seconds)


class Recorder:
    def __init__(self):
        self.spans: list[_Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        sp = _Span(next(self._ids), st[-1].id if st else None, name, threading.get_ident())
        st.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        except BaseException:
            sp.failed = True
            raise
        finally:
            sp.end = time.perf_counter()
            st.pop()
            self.spans.append(sp)

    def _wrap(self, fn, name: str, size_of: str | None):
        recorder = self

        def traced(*args, **kwargs):
            with recorder.span(name) as sp:
                out = fn(*args, **kwargs)
                if size_of == "result":
                    sp.nbytes = len(out)
                elif size_of == "arg2":
                    sp.nbytes = len(args[2])
                return out

        traced.__wrapped__ = fn
        return traced

    # -- installing wrappers -----------------------------------------------

    def _patch(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def install(self) -> None:
        """Wrap every function in ``LAYER_FUNCTIONS``. A module function is
        replaced under every name the package bound it to, since modules
        import some of them by name."""
        import importlib

        for mod_name, owner_name, attr, name, size_of in LAYER_FUNCTIONS:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            if owner_name is None:
                fn = getattr(mod, attr)
                wrapped = self._wrap(fn, name, size_of)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith(PACKAGE) and m.__dict__.get(attr) is fn:
                        self._patch(m, attr, wrapped)
                continue
            owner = getattr(mod, owner_name)
            raw = inspect.getattr_static(owner, attr)
            if isinstance(raw, (classmethod, staticmethod)):
                wrapped = type(raw)(self._wrap(raw.__func__, name, size_of))
            else:
                wrapped = self._wrap(raw, name, size_of)
            self._patch(owner, attr, wrapped)
        table_mod = importlib.import_module(f"{PACKAGE}.catalog.table")
        self._patch(table_mod, "time", _SleepProxy(self))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)

    # -- analysis ----------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps([s.id, s.parent, s.name, s.start, s.end, s.thread, s.nbytes, s.failed]))
                f.write("\n")


class SpanIndex:
    """Queries over a finished list of spans."""

    def __init__(self, spans: list[_Span]):
        self.spans = spans
        self.by_id = {s.id: s for s in spans}
        self.child_time: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                self.child_time[s.parent] = self.child_time.get(s.parent, 0.0) + (s.end - s.start)

    def named(self, name: str, under: str | None = None, outermost: bool = False) -> list[_Span]:
        """Spans called ``name``; with ``under``, only those that have an
        ancestor called ``under``; with ``outermost``, only those with no
        ancestor of their own name (a recursive call is not counted twice)."""
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            if under is not None and not self.has_ancestor(s, under):
                continue
            if outermost and self.has_ancestor(s, name):
                continue
            out.append(s)
        return out

    def has_ancestor(self, s: _Span, name: str) -> bool:
        p = s.parent
        while p is not None:
            anc = self.by_id.get(p)
            if anc is None:
                return False
            if anc.name == name:
                return True
            p = anc.parent
        return False

    def self_time(self, s: _Span) -> float:
        return (s.end - s.start) - self.child_time.get(s.id, 0.0)

    def table(self) -> dict:
        """Per span name: calls, total and self seconds."""
        out: dict[str, dict] = {}
        for s in self.spans:
            row = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += s.end - s.start
            row["self_s"] += self.self_time(s)
        return out


def measure_alternating(units: int, run_unit, chunk_reads):
    """The traced run: half of ``units`` (at least one) run untraced,
    alternating with as many traced ones, so the run is no longer than an
    untraced one, both halves see the same warm-up drift, and their
    difference is the tracing overhead. ``run_unit(recorder_or_None)`` runs
    one unit; ``chunk_reads()`` reads the library's manifest-chunk counter.
    Returns (untraced results, traced results, recorder, chunk reads while
    traced)."""
    rec = Recorder()
    plain, traced, chunks = [], [], 0
    for _ in range(max(1, units // 2)):
        plain.append(run_unit(None))
        c0 = chunk_reads()
        rec.install()
        try:
            traced.append(run_unit(rec))
        finally:
            rec.uninstall()
        chunks += chunk_reads() - c0
    return plain, traced, rec, chunks


def median_ms(spans: list[_Span]) -> float:
    return statistics.median((s.end - s.start) * 1e3 for s in spans) if spans else 0.0


def total_s(spans: list[_Span]) -> float:
    return sum(s.end - s.start for s in spans)


# Per-layer metrics every workload reports, with units. Per-query metrics
# are added by ``query_metric_names``; a layer a workload never enters reads 0.
LAYER_METRICS = {
    "catalog.create_table_s": "s",
    "table.commit_s": "s",
    "maintenance.merge_into_s": "s",
    "select_sql.select_sql_s": "s",
    "table.to_df_s": "s",
    "metadata.json_bytes": "B",
    "metadata.to_json_ms": "ms",
    "store.put_ms": "ms",
    "store.put_bytes_per_commit": "B",
    "catalog.load_table_ms": "ms",
    "metadata.from_json_ms": "ms",
    "store.get_ms": "ms",
    "table.planned_files_ms": "ms",
    "metadata.chunk_reads": "count",
    "table.append_rows_ms": "ms",
    "table.commit_ms": "ms",
    "table.commit_self_ms": "ms",
    "backend.execute_ms": "ms",
    "backend.statements_per_commit": "count",
    "cas.attempts_per_commit": "count",
    "cas.success_ratio": "share",
    "txn.backoff_ms": "ms",
    "burst.barrier_wait_ms": "ms",
    "trace.overhead_share": "share",
}

QUERY_METRICS = {"build_s": "s", "exec_s": "s", "spark_jobs": "count", "spark_tasks": "count"}


def query_metric_names(queries) -> dict[str, str]:
    return {f"{q}.{m}": unit for q in queries for m, unit in QUERY_METRICS.items()}


def layer_metrics(ix: SpanIndex, units: int, chunk_reads: int) -> dict[str, float]:
    """The layer metrics that come from spans. ``units`` is the number of
    measured passes or episodes the spans cover; ``*_s`` metrics are seconds
    per unit, ``*_ms`` metrics are the median per call."""
    commits = ix.named("table.commit", outermost=True)
    n_commits = len(commits)
    landed = sum(1 for s in commits if not s.failed)
    cas = ix.named("catalog.update_table", under="table.commit")

    def per_commit(x: float) -> float:
        return x / n_commits if n_commits else 0.0

    def med(name: str) -> float:
        return median_ms(ix.named(name))

    to_json = ix.named("metadata.to_json")
    return {
        "catalog.create_table_s": total_s(ix.named("catalog.create_table", outermost=True)) / units,
        "table.commit_s": total_s(commits) / units,
        "maintenance.merge_into_s": total_s(ix.named("maintenance.merge_into", outermost=True)) / units,
        "select_sql.select_sql_s": total_s(ix.named("select_sql.select_sql", outermost=True)) / units,
        "table.to_df_s": total_s(ix.named("table.to_df", outermost=True)) / units,
        "metadata.json_bytes": statistics.median(s.nbytes for s in to_json) if to_json else 0.0,
        "metadata.to_json_ms": med("metadata.to_json"),
        "store.put_ms": med("store.put"),
        "store.put_bytes_per_commit": per_commit(
            sum(s.nbytes for s in ix.named("store.put", under="table.commit"))
        ),
        "catalog.load_table_ms": med("catalog.load_table"),
        "metadata.from_json_ms": med("metadata.from_json"),
        "store.get_ms": med("store.get"),
        "table.planned_files_ms": med("table.planned_files"),
        "metadata.chunk_reads": chunk_reads / units,
        "table.append_rows_ms": med("table.append_rows"),
        "table.commit_ms": median_ms(commits),
        "table.commit_self_ms": (
            statistics.median(ix.self_time(s) * 1e3 for s in commits) if commits else 0.0
        ),
        "backend.execute_ms": med("backend.execute"),
        "backend.statements_per_commit": per_commit(len(ix.named("backend.execute", under="table.commit"))),
        "cas.attempts_per_commit": per_commit(len(cas)),
        "cas.success_ratio": landed / len(cas) if cas else 0.0,
        "txn.backoff_ms": per_commit(total_s(ix.named("txn.backoff", under="table.commit")) * 1e3),
    }


def per_layer(rec: Recorder, units: int, chunk_reads: int, queries, query_execs: list[dict],
              barrier_waits_ms: list[float], overhead_share: float) -> tuple[dict, dict]:
    """Every per-layer metric, and the span table (calls, total and self
    seconds per span name) for the artifact."""
    ix = SpanIndex(rec.spans)
    out = {name: 0.0 for name in query_metric_names(queries)}
    for q in queries:
        mine = [e for e in query_execs if e["name"] == q]
        for m in QUERY_METRICS if mine else ():
            out[f"{q}.{m}"] = statistics.median(e[m] for e in mine)
    out.update(layer_metrics(ix, units, chunk_reads))
    out["burst.barrier_wait_ms"] = statistics.median(barrier_waits_ms) if barrier_waits_ms else 0.0
    out["trace.overhead_share"] = overhead_share
    return out, ix.table()
