"""What the host was doing during a run: process-tree memory, load and
CPU steal, so a noisy run can be explained rather than guessed at."""

from __future__ import annotations

import os
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we looked
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (the JVM that
    PySpark starts and any Python workers), in MB."""
    kids = _children()
    todo, pages = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
        except OSError:  # the process ended while we looked
            continue
    return pages * os.sysconf("SC_PAGE_SIZE") / 1e6


class RssSampler:
    """Polls the process tree's resident memory from a thread and keeps the
    peak of memory held for two polls in a row. A process the JVM starts
    (for example ``chmod`` behind a parquet write) shows the JVM's whole
    resident set for the instant between fork and exec; that would be
    counted twice by a single poll."""

    def __init__(self, root: int, interval_s: float = 0.2) -> None:
        self.root, self.interval_s = root, interval_s
        self.peak_mb = 0.0
        self._last_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _poll(self) -> None:
        now = tree_rss_mb(self.root)
        self.peak_mb = max(self.peak_mb, min(now, self._last_mb))
        self._last_mb = now

    def _run(self) -> None:
        while not self._stop.is_set():
            self._poll()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._poll()


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def snapshot() -> dict:
    return {"loadavg": list(os.getloadavg()), "jiffies": _cpu_jiffies()}


def host_report(before: dict, after: dict) -> dict:
    """Load before and after, and the machine-wide CPU shares in between
    (``steal`` is time the hypervisor gave our vCPUs to someone else)."""
    d = [b - a for a, b in zip(before["jiffies"], after["jiffies"])]
    d += [0] * (8 - len(d))
    total = sum(d) or 1
    with open("/proc/meminfo") as fh:
        mem_total_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return {
        "loadavg_before": before["loadavg"],
        "loadavg_after": after["loadavg"],
        "busy_frac": round(1 - (d[3] + d[4]) / total, 4),
        "steal_frac": round(d[7] / total, 4),
        "nproc": os.cpu_count(),
        "mem_total_mb": round(mem_total_kb / 1e3),
    }
