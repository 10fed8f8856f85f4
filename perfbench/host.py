"""Host sizing, memory sampling and the host-speed probe.

Sizing lives here, not in the program: the session's own defaults (a 48g
driver heap, shuffle partitions from ``os.cpu_count()``) do not fit a small
host, so the benchmark sets all three values explicitly and records them.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np


def host_sizing() -> dict:
    """Cores, driver heap and shuffle partitions for this host.

    The heap is a sixteenth of MemTotal, clamped to [1, 2] GiB, which holds
    the benchmark's inputs many times over: MemTotal is stable between runs
    (MemAvailable is not), so the setting and the memory it leads to repeat
    from run to run.
    """
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(2048, kb // 1024 // 16))
    return {"cores": cores, "driver_mem_mb": heap_mb, "shuffle_partitions": cores}


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
        # the command name may hold spaces; ppid is the 2nd field after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendant_pss_bytes(root: int) -> int:
    """Summed proportional set size of every process below ``root``.

    PSS, not RSS: the Python workers are forked from one daemon, and RSS
    would count each copy-on-write page once per worker that maps it.
    """
    kids = _children()
    total, todo = 0, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss = next(line for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue  # the process ended between listing and reading
        total += int(pss.split()[1]) * 1024
    return total


class MemorySampler:
    """Background sampler of the driver JVM plus its Python workers.

    The JVM and its Python daemon/workers are all descendants of this
    process, so their summed resident memory (PSS) is sampled from /proc
    every ``period`` seconds; ``take_peak`` returns the peak since the
    previous call.
    """

    def __init__(self, period: float = 0.1):
        self._period = period
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self._period):
            pss = descendant_pss_bytes(me)
            with self._lock:
                self._peak = max(self._peak, pss)

    def take_peak(self) -> int:
        pss = descendant_pss_bytes(os.getpid())
        with self._lock:
            peak, self._peak = max(self._peak, pss), 0
        return peak


def spin_probe(seconds: float = 0.25) -> int:
    """Iterations of a fixed numpy loop in ``seconds`` on one core.

    The same arithmetic as bench.py's ``spin_calibration``, in-process: it
    records how fast the host is at the moment a run starts. It is reported
    beside the run, never used to normalize it.
    """
    a = np.full(1 << 16, 0x9E3779B97F4A7C15, dtype=np.uint64)
    b = np.empty_like(a)
    b[:] = a
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        np.bitwise_xor(a, np.uint64(123456789), out=b)
        b ^= b >> np.uint64(30)
        b *= np.uint64(0xBF58476D1CE4E5B9)
        n += 1
    return n
