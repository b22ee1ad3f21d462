"""Host facts and process-tree housekeeping, read from /proc (Linux)."""

from __future__ import annotations

import os
import signal
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    """JVM heap for the local-mode driver: a sixteenth of host memory, between
    1 GiB and 4 GiB. The benchmark's corpora need far less; the cap keeps
    the run from crowding other tenants of a shared host."""
    mib = mem_total_bytes() // 16 // 2**20
    return f"{min(max(mib, 1024), 4096)}m"


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid``."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces and parens; fields after the last ')' are fixed.
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, todo = [], [pid]
    while todo:
        cur = todo.pop()
        kids = [p for p, pp in parent.items() if pp == cur]
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and its descendants, each shared page
    counted once: the sum of their proportional set sizes (Pss). Summing
    plain RSS would count the pages a forked child shares with its parent
    (Python workers and the worker daemon; a JVM child between fork and
    exec) once per process."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # exited between listing and reading
    return total


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the JVM and its Python workers) and keeps the peak. One sample reads
    every process's smaps_rollup, about 70 ms of CPU with a 1 GiB JVM heap,
    hence once a second; the tree's memory grows through a run and seldom
    falls, so the peak is not missed by much."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def reap(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait until every pid in ``pids`` has exited; SIGKILL what outlives the
    timeout, then wait for those too."""
    deadline = time.monotonic() + timeout_s
    live = list(pids)
    while live:
        live = [p for p in live if _alive(p)]
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":  # zombie child of ours: collect it
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True
