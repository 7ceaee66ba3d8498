"""Host and process-tree measurement from ``/proc``.

The engine runs in three kinds of process: the Spark driver's Python (this
process), the Spark JVM it launches, and the Python workers the JVM
forks. CPU and memory are read for that whole tree. An exited worker's
CPU time is not lost: its parent reaps it and the kernel adds it to
the parent's ``cutime``/``cstime``, which are summed too.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # The command name may hold spaces; fields resume after its ')'.
    return raw[raw.rindex(")") + 2:].split()


def process_tree() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in process_tree():
        f = _stat_fields(pid)
        if f is not None:
            # utime stime cutime cstime are fields 14-17 of stat(5).
            total += sum(int(x) for x in f[11:15])
    return total / _CLK_TCK


def _tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the tree's summed RSS every ``interval`` seconds on a
    daemon thread; ``peak_mb()`` is the largest sum since ``reset()``.
    The process list is refreshed once a second, so workers forked
    mid-pass are counted."""

    def __init__(self, interval: float = 0.1):
        self._interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        pids, listed = process_tree(), time.monotonic()
        while not self._stop.wait(self._interval):
            if time.monotonic() - listed > 1.0:
                pids, listed = process_tree(), time.monotonic()
            rss = _tree_rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)

    def reset(self) -> None:
        with self._lock:
            self._peak = _tree_rss_bytes(process_tree())

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / (1 << 20)


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``/proc/stat`` cpu line,
    summing user..steal only (guest time is already folded into user)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def cpu_calibration() -> float:
    """Spark-independent host-speed yardstick, the method of the repo's
    ``bench.py``: sha256 over 64 MiB plus a 2M-step interpreter loop,
    best of 3, single thread. Divide two runs' values to tell host
    drift from code change."""
    blk = b"\0" * (1 << 20)
    best_hash = best_loop = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _i in range(256):
            h.update(blk)
        best_hash = min(best_hash, time.perf_counter() - t0)
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        best_loop = min(best_loop, time.perf_counter() - t0)
    return round(best_hash + best_loop, 4)
