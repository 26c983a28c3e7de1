"""CPU and resident memory of this process tree, and host state, from /proc.

The tree is this Python driver, the Spark JVM it launched and the JVM's
Python UDF workers. Reading /proc at the boundaries of a measured interval
needs no cooperation from the processes, so it adds no work to the run.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict

HZ = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    kids: dict[int, list[int]] = defaultdict(list)
    for p in os.listdir("/proc"):
        if p.isdigit():
            st = _stat(int(p))
            if st is not None:
                kids[int(st[1])].append(int(p))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of JVM ``pid``. HotSpot names
    them "C1 CompilerThread<n>" / "C2 CompilerThread<n>" (comm keeps 15
    characters)."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    ticks = 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        if "CompilerThre" in s[s.index("(") + 1:s.rindex(")")]:
            fields = s[s.rindex(")") + 2:].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s() -> float:
    """User + system CPU seconds of the whole tree so far, leaving out the
    JVM's JIT compiler threads: their work is one-time warm-up that short
    runs cannot amortize, and it made up most of the spread between runs.

    Each live process counts its own time plus the time of the children it
    has reaped (cutime/cstime), so a Python worker that exits is still
    counted through the daemon that reaped it. Leaving out JIT threads is
    exact only while they live for the whole run, so the benchmark's JVM runs
    with a fixed compiler thread count."""
    ticks = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is None:
            continue
        ticks += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14]) - _jit_ticks(pid)
    return ticks / HZ


def tree_rss_bytes() -> int:
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            total += int(st[21]) * PAGE
    return total


class RssSampler:
    """Samples the tree's resident memory on a background thread; ``peak_mb``
    is the largest sum seen. One sample costs about 2 ms of driver CPU."""

    INTERVAL_S = 0.1

    def __init__(self):
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self.peak_bytes = 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostWatch:
    """Host state over one run: cores, RAM, 1-min load at both ends, and
    the share of CPU time the hypervisor stole in between."""

    def __init__(self):
        self._t0 = _cpu_ticks()
        self._load0 = os.getloadavg()[0]

    def report(self, driver_heap: str) -> dict:
        t1 = _cpu_ticks()
        d = [b - a for a, b in zip(self._t0, t1)]
        steal = d[7] if len(d) > 7 else 0
        with open("/proc/meminfo") as f:
            mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "ram_gb": round(mem_kb / 2**20, 1),
            "loadavg1_start": round(self._load0, 2),
            "loadavg1_end": round(os.getloadavg()[0], 2),
            "steal_pct": round(100.0 * steal / max(sum(d), 1), 2),
            "driver_heap": driver_heap,
        }


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; returns the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if (st := _stat(p)) is not None and st[0] != "Z"]
        if alive:
            time.sleep(0.05)
    return alive
