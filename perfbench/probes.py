"""Host stamp and memory probes.

* ``host_stamp`` — 1-minute load average and a fixed-size CPU calibration
  (sort + sum of a seeded 4M-element array, median of three), recorded
  with every run to explain outliers; never used to drop a run.
* ``MemorySampler`` — a thread that polls ``/proc`` for the RSS of the
  JVM and the PSS of the Python worker processes under it (summed; PSS
  splits the pages a forked worker shares with the daemon, where summed
  RSS would count them once per worker), keeping the peaks.
* ``old_gen_live_mb`` — the JVM's G1 Old Gen occupancy right after a
  full GC, read through ``ManagementFactory``: the old-generation data
  the Spark driver retains.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_stamp() -> dict:
    import numpy as np

    def calib() -> float:
        a = np.random.default_rng(42).random(4_000_000)
        t0 = time.perf_counter()
        float(np.sort(a).sum())
        return time.perf_counter() - t0

    return {
        "load_avg_1m": os.getloadavg()[0],
        "cpu_calib_s": statistics.median(calib() for _ in range(3)),
    }


def _rss(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as fh:
        return int(fh.read().split()[1]) * _PAGE


def _pss(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class MemorySampler:
    """Peak RSS of the JVM and peak summed PSS of the Python workers it
    forked."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.jvm_peak = 0
        self.workers_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        try:
            self.jvm_peak = max(self.jvm_peak, _rss(self.jvm_pid))
        except OSError:
            return
        total = 0
        for pid in _descendants(self.jvm_pid):
            try:
                total += _pss(pid)
            except OSError:
                continue  # a worker that exited between listing and reading
        self.workers_peak = max(self.workers_peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "MemorySampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def old_gen_live_mb(spark) -> float:
    """G1 Old Gen occupancy after a full GC, in MB."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if "Old Gen" in pool.getName():
            return pool.getUsage().getUsed() / 2**20
    raise RuntimeError("no old-generation memory pool in this JVM")
