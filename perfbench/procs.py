"""Stop every process a run started and wait until each has ended.

PySpark launches its JVM through ``spark-submit`` with a pipe on the
JVM's stdin; ``SparkSession.stop`` leaves that JVM running, and it only
exits on its own once the pipe closes, after this process is gone. The
JVM in turn starts Python worker daemons that fork workers. A run that
returned with any of them alive would hand the next run a warm machine,
so ``stop_all`` closes the pipe, waits for the JVM, and then waits for
(or kills) every descendant seen before the session stopped.
"""

from __future__ import annotations

import glob
import os
import signal
import subprocess
import time


def _stat(pid: int) -> tuple[int, str, str] | None:
    """(parent pid, state, start time) of a live process, else None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return int(fields[1]), fields[0], fields[19]


def descendants(root: int) -> dict[int, str]:
    """Every process below ``root`` -> its start time (so a reused pid
    is not mistaken for it)."""
    parent: dict[int, int] = {}
    start: dict[int, str] = {}
    for d in glob.glob("/proc/[0-9]*"):
        pid = int(d.rsplit("/", 1)[1])
        st = _stat(pid)
        if st is not None:
            parent[pid], start[pid] = st[0], st[2]
    out: dict[int, str] = {}
    frontier = [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in out:
                out[c] = start[c]
                frontier.append(c)
    return out


def _alive(pids: dict[int, str]) -> list[int]:
    live = []
    for pid, start in pids.items():
        try:
            # a child of this process that has exited is reaped here
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        st = _stat(pid)
        if st is not None and st[2] == start and st[1] not in ("Z", "X"):
            live.append(pid)
    return live


def _wait(pids: dict[int, str], timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    live = _alive(pids)
    while live and time.monotonic() < deadline:
        time.sleep(0.05)
        live = _alive(pids)
    return live


def _end(pids: dict[int, str], timeout: float) -> None:
    """Wait up to ``timeout`` for ``pids`` to end, then kill the rest."""
    for pid in _wait(pids, timeout):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    left = _wait(pids, 10.0)
    if left:
        raise RuntimeError(f"processes still running after stop: {left}")


def stop_all(spark=None, timeout: float = 60.0) -> None:
    """Stop ``spark`` (if given), the JVM behind it and every other
    process started below this one; returns once all of them ended.

    The JVM's own children (worker daemons and their workers) are waited
    for while the JVM still runs, so that it reaps them; then the JVM
    is stopped and reaped here."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 - the JVM is stopped below anyway
            pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is not None:
        _end({p: s for p, s in kids.items() if p != proc.pid}, timeout)
        # EOF on its stdin makes the JVM exit
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if gw is not None:
        try:
            gw.close()
        except Exception:  # noqa: BLE001 - the JVM side is already gone
            pass
        SparkContext._gateway = SparkContext._jvm = None
    kids.update(descendants(os.getpid()))
    _end(kids, timeout)
