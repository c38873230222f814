"""Process-tree helpers over /proc: descendants, a low-rate RSS sampler,
and waiting for a set of processes to end."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_PERIOD_S = 0.5


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue   # exited between listdir and open
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def alive(pids) -> list[int]:
    return [p for p in pids if os.path.exists(f"/proc/{p}")
            and not _is_zombie(p)]


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
        return stat[stat.rindex(b")") + 2:].split()[0] == b"Z"
    except OSError:
        return False


def wait_gone(pids, timeout: float) -> list[int]:
    """Poll until every pid has exited; → the pids still alive."""
    deadline = time.monotonic() + timeout
    left = alive(pids)
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = alive(left)
    return left


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the driver, its JVM, the Python workers) every RSS_PERIOD_S seconds
    on a daemon thread; `peak_mb` is the highest sum seen."""

    def __init__(self):
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        root = os.getpid()
        total = sum(rss_bytes(p) for p in [root] + descendants(root))
        self.peak = max(self.peak, total)
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2 ** 20
