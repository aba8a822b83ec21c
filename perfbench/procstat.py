"""Process-tree CPU and memory from ``/proc`` (Linux)."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended
        return None


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root``'s process tree, including
    children that already ended and were reaped."""
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssPeak:
    """Samples a process's resident set every ``interval`` seconds while
    active; ``peak_mb`` is the largest sample."""

    def __init__(self, pid: int, interval: float = 0.05) -> None:
        self.pid = pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, rss_mb(self.pid))
