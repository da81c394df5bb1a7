"""Host telemetry for one benchmark run: peak RSS of the Spark process
tree (the Spark JVM plus its Python workers), 1-minute loadavg and steal%."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_steal() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0, sum(vals))


class HostMeter:
    """Brackets a run with (loadavg_1m, steal%) — a noisy figure can then
    be attributed to the host rather than to the program."""

    def __init__(self) -> None:
        self._t0 = time.time()
        self._steal0 = _read_steal()
        self.loadavg_start = os.getloadavg()[0]

    def stop(self) -> dict:
        s1, t1 = _read_steal()
        s0, t0 = self._steal0
        return {
            "wall_s": time.time() - self._t0,
            "loadavg_1m_start": self.loadavg_start,
            "loadavg_1m_end": os.getloadavg()[0],
            "steal_pct": 100.0 * (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0,
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
        # the command name may contain spaces; ppid follows the ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of every descendant of ``root_pid`` (not the root)."""
    kids = _children()
    total, stack = 0, list(kids.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        total += _rss_bytes(pid)
        stack.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Background sampler of :func:`tree_rss_bytes` for this process: the
    JVM that PySpark launches is a child of this process, and the Python
    workers are children of the JVM."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.samples: list[int] = []
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.samples.append(tree_rss_bytes(pid))
            self._stop.wait(self._interval)

    def high_water_bytes(self, q: float = 0.95) -> float:
        """The level the tree's RSS held for at least ``1 - q`` of the run
        (the ``q`` quantile of the samples): a Python worker that lives for
        a moment does not decide it, a sustained peak does."""
        s = sorted(self.samples)
        return s[min(len(s) - 1, int(q * len(s)))] if s else 0.0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
