"""Process bookkeeping from /proc: stray-JVM guard, peak RSS of the
benchmark's process tree, and waiting for every child to end."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_PERIOD_S = 0.1


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process ended between listing and reading
        return None


def java_pids() -> list[int]:
    out = []
    for pid in _pids():
        comm = _read(f"/proc/{pid}/comm")
        if comm is not None and comm.strip() == "java":
            out.append(pid)
    return out


def wait_no_jvm(timeout_s: float) -> list[int]:
    """Waits up to ``timeout_s`` for every JVM on the host to end (an
    orphan JVM competing for the cores skews every timing); returns the
    ones still alive."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = java_pids()
        if not alive or time.monotonic() >= deadline:
            return alive
        time.sleep(0.5)


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid in _pids():
        stat = _read(f"/proc/{pid}/stat")
        if stat is None:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    """RSS of ``root`` plus its Python descendants (the JVM's Python
    workers). Other children are skipped: a child the JVM forks to exec a
    shell command shares, and reports, the JVM's whole RSS until it execs."""
    total = 0
    for pid in [root, *descendants(root)]:
        if pid != root and not (_read(f"/proc/{pid}/comm") or "").startswith("python"):
            continue
        statm = _read(f"/proc/{pid}/statm")
        if statm is not None:
            total += int(statm.split()[1]) * _PAGE
    return total


class PeakRss:
    """Samples the RSS of the driver JVM and its Python workers while
    resumed; ``peak_mb`` is the largest sum seen."""

    def __init__(self) -> None:
        self.peak = 0
        self.root = os.getpid()
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(RSS_PERIOD_S) and not self._stop.is_set():
                self.peak = max(self.peak, tree_rss_bytes(self.root))
                time.sleep(RSS_PERIOD_S)

    def resume(self, root: int) -> None:
        self.root = root
        self._on.set()

    def pause(self) -> None:
        self._on.clear()

    def reset(self) -> None:
        self.peak = 0

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def reap(pids: list[int], timeout_s: float = 20.0) -> None:
    """Waits for ``pids`` to end, killing what outlives ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in alive:
        while os.path.exists(f"/proc/{p}") and not _zombie(p):
            time.sleep(0.05)


def _zombie(pid: int) -> bool:
    stat = _read(f"/proc/{pid}/stat")
    return stat is None or stat.rsplit(")", 1)[1].split()[0] == "Z"
