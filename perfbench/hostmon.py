"""Host-side measurements taken from outside the measured process tree:
peak RSS of a process session, /proc/stat steal, and a fixed CPU
calibration loop (so a run slowed by a noisy neighbour can be told apart
from a slow program)."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.1
CALIB_LOOP, CALIB_REPS = 300_000, 5


def _session_of(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # field 6 (session id); the command name in field 2 may hold spaces
    return int(stat.rsplit(")", 1)[1].split()[3])


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def session_pids(sid: int) -> list[int]:
    """Every live process whose session id is ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit() and _session_of(int(name)) == sid:
            out.append(int(name))
    return out


class RssSampler:
    """Samples the summed RSS of every process in one session (a child
    started with ``start_new_session=True``: its driver, the JVM and the
    Python workers) every ``RSS_INTERVAL_S`` seconds, from a thread of
    the parent, until ``stop``. ``peak_mb`` is the largest sum seen."""

    def __init__(self, sid: int):
        self.sid = sid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in session_pids(self.sid))
            self.peak = max(self.peak, total)
            self._stop.wait(RSS_INTERVAL_S)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def stat_snapshot() -> tuple[int, int]:
    """(total jiffies, steal jiffies) of the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / dt if dt > 0 else 0.0


def calibration_s() -> float:
    """Median wall time of a fixed pure-Python loop."""
    walls = []
    for _ in range(CALIB_REPS):
        t = time.perf_counter()
        acc = 0
        for i in range(CALIB_LOOP):
            acc = (acc + i * i) % 1_000_003
        walls.append(time.perf_counter() - t)
    walls.sort()
    return walls[len(walls) // 2]
