"""Memory and storage probes read from outside the program.

Memory comes from ``/proc/<pid>/status`` (VmRSS) summed over this process's
whole descendant tree: the Python driver, the JVM that pyspark launches, and
the pyspark worker daemon with its forked workers.
"""

from __future__ import annotations

import os
import signal
import threading
import time
from pathlib import Path


def _parent_of() -> dict[int, int]:
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name is parenthesised and may hold spaces; ppid is the
        # second field after the closing parenthesis
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parent_of().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_rss_bytes(root: int) -> int:
    return sum(_rss_bytes(p) for p in tree_pids(root))


class PeakRss:
    """Samples the RSS of a process tree on a background thread and keeps
    the peak. Use as a context manager around the measured work."""

    def __init__(self, root: int | None = None, interval_s: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))


def dir_bytes(path: str | Path) -> int:
    """Total size of the regular files under ``path`` (0 if it is absent)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"  # a zombie has exited; only its parent's reap is left


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; returns the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    return alive


def stop_spark(spark) -> None:
    """Stop a pyspark session and its JVM, and wait until every process
    this one started has ended."""
    from pyspark import SparkContext

    pids = tree_pids(os.getpid())[1:]
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits at EOF on its stdin
            proc.wait(timeout=60)
    for pid in wait_gone(pids, 30):
        os.kill(pid, signal.SIGKILL)
    wait_gone(pids, 10)
