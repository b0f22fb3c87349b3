"""Summary statistics and process-tree accounting for the benchmark."""

from __future__ import annotations

import os
import signal
import statistics
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
TAIL_BEYOND = 10  # samples that must lie beyond the reported tail percentile


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    ``TAIL_BEYOND`` samples beyond it, never below the median.

    With n samples sorted ascending, index n-11 has exactly ten samples
    above it, so it is the p(100·(n-10)/n) point: p90 at n=100, p52 at
    n=21. Below 21 samples no point at or above the median has ten
    beyond it; the sample at index n//2 (the upper median) is reported
    then, labelled with its percentile."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    i = max(n - TAIL_BEYOND - 1, n // 2)
    return xs[i], 100.0 * (i + 1) / n


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def _read_stat(pid: str) -> tuple[int, int] | None:
    """(ppid, cpu clock ticks incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state) of proc(5): ppid=4, utime..cstime=14..17
    return int(fields[1]), sum(int(fields[k]) for k in (11, 12, 13, 14))


def _is_python(pid: int) -> bool:
    """By executable, not name: a child the JVM is spawning shares the
    JVM's memory until it execs, under the name of the spawning thread."""
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")
    except OSError:
        return False


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones divided among
    their sharers, so forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def jvm_live_bytes(jvm) -> int:
    """The JVM's footprint for the program, read over py4j right after a
    full collection: live heap, non-heap (metaspace, code cache) and
    direct buffers. Unlike the JVM's resident size it follows neither the
    -Xmx reservation nor when G1 chose to grow the heap, and unlike heap
    use between collections it holds no garbage awaiting collection. The
    collection changes what later work costs, so call it after the last
    measured op."""
    mf = jvm.java.lang.management.ManagementFactory
    mem = mf.getMemoryMXBean()
    mem.gc()
    buffers = mf.getPlatformMXBeans(jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean"))
    return (mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
            + sum(b.getMemoryUsed() for b in buffers))


class ProcessTree:
    """CPU time and memory of this process and all descendants (the JVM
    the session launches and its Python workers).

    CPU is utime+stime plus the children's reaped time, so a worker that
    exits between two readings still counts. ``peak_python_bytes`` is the
    largest summed PSS of the tree's Python processes (pages shared by
    forked workers count once), sampled on a background thread; the JVM
    is left out, as reading its smaps_rollup walks all of its multi-GB
    mapping (see ``jvm_live_bytes``)."""

    def __init__(self, interval_s: float = 0.25):
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak_python_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample_loop, name="perfbench-rss", daemon=True)

    def _tree(self) -> dict[int, int]:
        """pid -> cpu ticks for the root and every descendant."""
        procs = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = _read_stat(pid)
                if st is not None:
                    procs[int(pid)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        out, stack = {}, [self.root]
        while stack:
            pid = stack.pop()
            if pid in procs:
                out[pid] = procs[pid][1]
            stack.extend(children.get(pid, ()))
        return out

    def cpu_seconds(self) -> float:
        return sum(self._tree().values()) / _CLK_TCK

    def _sample_loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            python = sum(_pss_bytes(pid) for pid in self._tree() if _is_python(pid))
            self.peak_python_bytes = max(self.peak_python_bytes, python)

    def reap(self, timeout_s: float = 15.0) -> None:
        """Wait for every descendant to exit; kill what is left at the deadline."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if set(self._tree()) <= {self.root}:
                return
            time.sleep(0.1)
        for pid in set(self._tree()) - {self.root}:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    def __enter__(self) -> ProcessTree:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
