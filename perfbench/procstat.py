"""Process-tree and host probes read from /proc (Linux)."""

from __future__ import annotations

import os
import signal
import threading
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, starting at "state"
    return raw.rsplit(")", 1)[1].split()


def tree(root: int, exclude: set[int]) -> list[int]:
    """``root`` and its live descendants, minus the subtrees of
    ``exclude``."""
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                kids[int(f[1])].append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in exclude:
            continue
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def wait_gone(pids, timeout_s: float) -> None:
    """Wait until none of ``pids`` runs (zombies count as ended); kill the
    rest when ``timeout_s`` is up."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in pids
                if (_stat_fields(p) or ["Z"])[0] not in ("Z", "X")]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            return
        time.sleep(0.1)


def cpu_s(root: int, exclude: set[int]) -> float:
    """utime+stime of the tree, counting reaped children (cutime/cstime)
    of every live member so exited workers are not lost."""
    total = 0
    for p in tree(root, exclude):
        f = _stat_fields(p)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def rss_mb(root: int, exclude: set[int]) -> float:
    total = 0
    for p in tree(root, exclude):
        f = _stat_fields(p)
        if f is not None:
            total += int(f[21])
    return total * _PAGE / 2**20


def host_cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class RssSampler:
    """Background peak-RSS sampler for a process tree."""

    def __init__(self, root: int, exclude: set[int], every_s: float = 0.2):
        self.root, self.exclude, self.every_s = root, exclude, every_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb(self.root, self.exclude))
            self._stop.wait(self.every_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_mb(self.root, self.exclude))
