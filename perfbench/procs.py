"""The benchmark's process tree: CPU time, and stopping it on the way out.

A run is this Python process, the JVM that pyspark starts under it, and
the Python workers the JVM starts.  All of them are read from /proc.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time
import traceback

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid) -> list[str] | None:
    """The fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:  # ended while we looked
        return None
    return stat[stat.rindex(")") + 2:].split()


def descendants(pid: int) -> list[tuple[int, str]]:
    """(pid, start time) of every live process under ``pid``."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        fields = _stat(entry) if entry.isdigit() else None
        if fields and fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append((int(entry), fields[19]))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child[0])
    return out


def alive(pid: int, start: str) -> bool:
    fields = _stat(pid)
    return fields is not None and fields[19] == start and fields[0] != "Z"


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, the JVM and the Python
    workers: every live process under this one, plus what each has reaped."""
    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    for pid, start in descendants(os.getpid()):
        fields = _stat(pid)
        if fields and fields[19] == start:
            total += sum(int(x) for x in fields[11:15]) / _TICK  # utime stime cutime cstime
    return total


def become_subreaper() -> None:
    """Adopt orphaned descendants, so that the workers the JVM leaves
    behind when it exits can still be waited for here."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):  # stop_spark still signals them; init reaps them
        pass


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_spark() -> None:
    """Stop the session, the JVM and every process under them, and wait for each.

    On exit the JVM only notices that its stdin closed and ends later, so
    without this it (and the Python workers it started) would outlive the run.
    """
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:  # no session was started, or it is stopped already
        return
    procs = set(descendants(os.getpid()))
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # a broken session must not keep the JVM alive
            traceback.print_exc()
    try:
        gateway.shutdown()
    except Exception:
        pass
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        try:
            jvm.stdin.close()  # the JVM exits on EOF
        except OSError:
            pass
        try:
            jvm.wait(timeout=30)
        except Exception:
            jvm.kill()
            jvm.wait()
    SparkContext._gateway = SparkContext._jvm = None
    for sig in (signal.SIGTERM, signal.SIGKILL):
        _reap()
        procs = {p for p in procs | set(descendants(os.getpid())) if alive(*p)}
        for pid, _ in procs:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + 10.0
        while procs and time.monotonic() < deadline:
            time.sleep(0.05)
            _reap()
            procs = {p for p in procs if alive(*p)}
    _reap()
    if procs:
        print(f"perfbench: processes {sorted(p for p, _ in procs)} did not end", file=sys.stderr)
