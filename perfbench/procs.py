"""The Spark JVM's process tree, read from /proc: peak resident memory
while the benchmark measures, and a clean stop that waits for every
process of the tree to end."""

from __future__ import annotations

import os
import contextlib
import signal
import subprocess
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss_bytes(root: int) -> int:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_bytes(pid)
        todo.extend(kids.get(pid, []))
    return total


class PeakRss:
    """Samples the RSS of ``root`` and its descendants every ``interval``
    seconds while active; ``peak`` is the largest sum seen."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        return False


def tree_pids(root: int) -> set[int]:
    kids = _children_map()
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(kids.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then end its JVM (it exits when its stdin closes)
    and wait for the JVM and its Python workers to be gone; whatever is
    left after ``timeout`` seconds is killed."""
    proc = spark.sparkContext._gateway.proc
    pids = tree_pids(proc.pid)
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)
