"""A private PostgreSQL server for one benchmark run.

The server is booted with ``initdb``/``pg_ctl`` as the ``postgres`` user
(the server refuses to run as root), listens on a unix socket only, lives in
a fresh temporary directory and is stopped and deleted when the context
exits. It sits in the system temp directory rather than the checkout because
the ``postgres`` user must own its data directory and be able to reach it,
and a unix socket path is limited to about 100 bytes.

Boot time is harness work: callers record it as context, never in
``setup_s``. If the server cannot start, ``PgServerError`` is raised; the
commit workloads never fall back to SQLite.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import time
from contextlib import contextmanager

PG_BIN = "/usr/lib/postgresql/15/bin"
PG_PORT = 5432  # the socket file name only; nothing listens on TCP


class PgServerError(RuntimeError):
    pass


def _as_postgres(*cmd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        ["runuser", "-u", "postgres", "--", *cmd],
        capture_output=True, text=True, timeout=60,
    )


def server_version() -> str:
    out = subprocess.run(
        [f"{PG_BIN}/postgres", "--version"], capture_output=True, text=True, timeout=30
    )
    return out.stdout.strip()


@contextmanager
def private_postgres():
    """Yield ``(url, boot_s)`` for a freshly booted server."""
    if not os.path.exists(f"{PG_BIN}/initdb") or not shutil.which("runuser"):
        raise PgServerError(f"no PostgreSQL server binaries under {PG_BIN}")
    t0 = time.perf_counter()
    root = tempfile.mkdtemp(prefix="perfbench-pg-", dir="/tmp")
    data = os.path.join(root, "data")
    started = False
    try:
        shutil.chown(root, "postgres", "postgres")
        init = _as_postgres(f"{PG_BIN}/initdb", "-D", data, "-A", "trust", "-U", "postgres")
        if init.returncode != 0:
            raise PgServerError(f"initdb failed: {init.stderr[-400:]}")
        start = _as_postgres(
            f"{PG_BIN}/pg_ctl", "-D", data, "-l", os.path.join(root, "log"), "-w",
            "-o", f"-c listen_addresses='' -c unix_socket_directories={root} -c port={PG_PORT}",
            "start",
        )
        started = True
        if start.returncode != 0:
            raise PgServerError(f"pg_ctl start failed: {start.stderr[-400:]}")
        boot_s = time.perf_counter() - t0
        yield f"postgres://postgres@localhost:{PG_PORT}/postgres?host={root}", boot_s
    finally:
        if started:
            _as_postgres(f"{PG_BIN}/pg_ctl", "-D", data, "-m", "immediate", "-w", "stop")
        shutil.rmtree(root, ignore_errors=True)
