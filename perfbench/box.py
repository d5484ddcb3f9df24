"""Box snapshot taken with every run: cores, load, CPU steal, a CPU
speed probe, and the live pidfiles of the repository's heavy tools
(tools/busy.py)."""

from __future__ import annotations

import hashlib
import os
import sys
import time
from pathlib import Path


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_probe_s() -> float:
    """Seconds for a fixed single-core job (chained sha256), the box's
    speed at that moment; compare it across runs before blaming code."""
    t0 = time.perf_counter()
    h = b"\0" * 64
    for _ in range(100_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


class Box:
    def __init__(self, root: Path) -> None:
        sys.path.insert(0, str(root / "tools"))
        from busy import live  # the pidfile handshake bench.py also honours

        self.busy = live()
        self.nproc = len(os.sched_getaffinity(0))
        self.loadavg = [round(x, 2) for x in os.getloadavg()]
        self.cpu_probe_s = cpu_probe_s()
        self._cpu0 = _cpu_times()

    def snapshot(self) -> dict:
        """State at start and end, and CPU steal since start in percent."""
        d = [b - a for a, b in zip(self._cpu0, _cpu_times())]
        return {
            "nproc": self.nproc,
            "loadavg_start": self.loadavg,
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_pct": round(100.0 * d[7] / max(1, sum(d)), 2),
            "cpu_probe_s": [round(self.cpu_probe_s, 4), round(cpu_probe_s(), 4)],
            "busy_pidfiles": self.busy,
        }
