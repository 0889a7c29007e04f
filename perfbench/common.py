"""Helpers shared by the workloads: percentiles, memory, sizes, host facts."""

from __future__ import annotations

import ctypes
import os
import platform
import signal
import sys
import time


def quantile(xs: list[float], q: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def beyond(xs: list[float], q: float) -> int:
    """Number of samples strictly above the ``q`` quantile."""
    cut = quantile(xs, q)
    return sum(1 for x in xs if x > cut)


def units_for(seconds: int, unit_budget_s: float) -> int:
    """Whole work units a run measures. The count comes from ``--seconds``
    and a fixed budget per unit, never from the clock during the run, so
    every run of a workload does the same work on any host."""
    return max(1, round(seconds / unit_budget_s))


def _children(pid: int) -> list[int]:
    """Children forked by any thread of ``pid``."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def descendants() -> list[int]:
    """Every live descendant of this process."""
    out, todo = [], _children(os.getpid())
    while todo:
        child = todo.pop()
        if child not in out:
            out.append(child)
            todo.extend(_children(child))
    return out


def become_subreaper() -> None:
    """Adopt orphaned descendants, so that ``stop_descendants`` can wait for
    them: a daemonised Postgres server, or Spark's Python workers when their
    JVM ends first. Without this they would be reparented to init."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_descendants(grace_s: float = 20.0, kill_wait_s: float = 20.0) -> list[int]:
    """Terminate every process this one started and wait until each has
    ended: SIGTERM, then SIGKILL after ``grace_s``. Returns the pids still
    alive when even the SIGKILL wait ran out (empty on success)."""

    def signal_all(sig: int) -> None:
        for pid in descendants():
            try:
                os.kill(pid, sig)
            except OSError:
                pass

    signal_all(signal.SIGTERM)
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no children, adopted or own: all ended
            return []
        if pid:
            continue
        if time.monotonic() > deadline:
            if killed:
                return descendants()
            signal_all(signal.SIGKILL)
            killed = True
            deadline = time.monotonic() + kill_wait_s
        time.sleep(0.02)


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> dict[int, float]:
    """Peak resident set size, in MB, of this process and of every live
    descendant (the Spark JVM and its Python workers), by pid."""
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out[pid] = _hwm_kb(pid) / 1024.0
        todo.extend(_children(pid))
    return out


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                pass
    return total / (1024.0 * 1024.0)


def nproc() -> int:
    """CPUs this process may run on, as ``nproc`` reports them."""
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def host_context(seed: int, workload: str, trace: bool) -> dict:
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "nproc": nproc(),
        "loadavg_start": os.getloadavg(),
        "steal_s_start": steal_s(),
        "python": sys.version.split()[0],
        "platform": platform.platform(),
    }
