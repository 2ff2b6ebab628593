"""Process-tree bookkeeping read straight from ``/proc``.

- ``RssSampler`` samples the resident memory of this process, the Spark
  JVM and its Python workers on a background thread and keeps the peak
  of their sum.
- ``kill_group`` kills a process group (a measurement child, its JVM
  and the JVM's Python workers) and waits until every member has ended.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces: ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"pyspark.daemon" in fh.read()
    except OSError:
        return False


def tree_rss_mb(max_workers: int) -> float:
    """RSS of the driver (this process), its direct children (the Spark
    JVM) and the `max_workers` largest PySpark worker processes.

    Other descendants are short-lived helpers; one the JVM spawns shares
    the JVM's address space until it execs, so its RSS would count the JVM
    twice.  The worker pool keeps finished workers idle for reuse and forks
    a new one when none is free, so how many exist at once follows task
    timing (up to three per core seen on 4 cores).  Counting either made
    the peak swing by 2 GB between runs of the same input."""
    me = os.getpid()
    direct = _children_map().get(me, [])
    workers = sorted((_rss_kb(p) for p in descendants(me) if _is_python_worker(p)),
                     reverse=True)
    return (_rss_kb(me) + sum(_rss_kb(p) for p in direct if not _is_python_worker(p))
            + sum(workers[:max_workers])) / 1024.0


class RssSampler:
    """Peak of `tree_rss_mb`, sampled every `period` s."""

    def __init__(self, max_workers: int, period: float = 0.1):
        self.max_workers = max_workers
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.max_workers))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.max_workers))


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        state, _ppid, pgrp = stat[stat.rindex(")") + 2:].split()[:3]
        if int(pgrp) == pgid and state not in "ZX":
            return True
    return False


def kill_group(pgid: int, timeout: float = 30.0) -> None:
    """SIGKILL every process of group `pgid` and wait until all have ended."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + timeout
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)
