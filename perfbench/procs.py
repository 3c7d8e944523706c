"""Process-tree helpers: peak resident memory and clean shutdown.

The driver Python process starts the JVM (through spark-submit), and the JVM
starts the PySpark daemon and its Python workers, so the processes of one
run are this process and its descendants.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    parents = _parents()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        found.extend(kids)
        frontier.extend(kids)
    return found


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of one process, in MiB."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and every live descendant."""
    return sum(vm_hwm_mb(p) for p in [os.getpid(), *descendants()])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for every child
    process to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap()


def reap(timeout: float = 30.0) -> None:
    """Wait for all descendants to exit, killing them after ``timeout``."""
    deadline = time.monotonic() + timeout
    while True:
        kids = descendants()
        if not kids:
            return
        if time.monotonic() > deadline:
            for k in kids:
                try:
                    os.kill(k, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.1)
