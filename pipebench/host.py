"""Host conditions and process-tree memory, read from /proc.

`HostMeter` records what a reader of one run needs to judge whether the
host was quiet: core count, load average, and the average number of
cores busy with work outside this process tree (co-tenants) over the
measured window, taken with the repository bench's `_ContentionMeter`.
`PeakRss` samples the resident memory of this process and all its
descendants (the JVM and its Python workers) in a background thread
and keeps the peak.
"""

from __future__ import annotations

import os
import threading
import time

from bench import _ContentionMeter


def _tree_rss_pages() -> int:
    """Resident pages of this process and every live descendant."""
    ppid, rss = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ppid[int(name)], rss[int(name)] = int(rest[1]), int(rest[21])
    me, total = os.getpid(), 0
    for pid, pages in rss.items():
        p = pid
        while p > 1:
            if p == me:
                total += pages
                break
            p = ppid.get(p, 0)
    return total


class HostMeter:
    """nproc, load average and co-tenant busy cores over a window."""

    def __init__(self) -> None:
        self._contention = _ContentionMeter()
        self._t0 = 0.0

    def start(self) -> None:
        self._t0 = time.time()
        self._contention.start()

    def stop(self) -> dict:
        return {"nproc": os.cpu_count(),
                "loadavg": [round(x, 2) for x in os.getloadavg()],
                "cotenant_busy_cores": self._contention.stop(),
                "window_s": round(time.time() - self._t0, 1)}


class PeakRss:
    """Peak resident set size of this process tree, sampled every
    `interval` seconds until `stop()`."""

    def __init__(self, interval: float = 0.25) -> None:
        self._interval = interval
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_bytes = 0

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, _tree_rss_pages() * self._page)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def start(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_bytes / 2**20
