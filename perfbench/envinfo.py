"""Environment record and process-tree memory sampler."""

from __future__ import annotations

import os
import platform
import threading


def environment() -> dict:
    """nproc, load average, versions and the memory/CPU canary readings of
    ``bench.tide_probe`` for the window this run measured in."""
    import pyspark

    from bench import tide_probe

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "loadavg": list(os.getloadavg()),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "tide": tide_probe(),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> dict[str, int]:
    """Resident bytes of ``root`` and all its descendants, by command name."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    out: dict[str, int] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            # statm, not smaps: walking the JVM's mappings takes tens of ms
            # under its memory-map lock
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        # a child the JVM forks for a shell command shows the JVM's whole
        # RSS until it execs; count only the JVM and the Python processes
        if comm == "java" or comm.startswith("python"):
            out[comm] = out.get(comm, 0) + rss
    return out


class PeakRss:
    """Samples the benchmark's process tree (Python driver, JVM, Python
    workers) every ``interval`` seconds and keeps the largest total."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            parts = tree_rss_bytes(me)
            if sum(parts.values()) > self.peak:
                self.peak, self.parts = sum(parts.values()), parts
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
