"""Host stamps for one run: load average, CPU time other processes and
other guests used while the run measured, peak resident memory of the
driver and JVM, and the host-speed factor that scales the run's timings.
Linux /proc only."""

from __future__ import annotations

import os
import statistics
import time
import zlib

import numpy as np

_HZ = os.sysconf("SC_CLK_TCK")
# share of one core that other processes may use on average before a
# run is flagged as contended
CONTENDED_CORES = 0.5


def _cpu_ticks() -> list[int]:
    """user nice system idle iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _busy_ticks() -> int:
    fields = _cpu_ticks()
    return sum(fields[:3]) + sum(fields[5:8])


def _process_table() -> dict[int, tuple[int, int]]:
    """{pid: (parent pid, CPU ticks including reaped children)}."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command field may hold spaces; the fields after it are fixed
        rest = stat.rsplit(")", 1)[1].split()
        table[int(name)] = (int(rest[1]), sum(int(v) for v in rest[11:15]))
    return table


def descendants(root: int, table=None) -> list[int]:
    """Live processes below ``root``."""
    table = table if table is not None else _process_table()
    out = []
    for pid in table:
        p = table[pid][0]
        while p > 1 and p != root:
            p = table.get(p, (0, 0))[0]
        if p == root and pid != root:
            out.append(pid)
    return out


def _tree_ticks(root: int) -> int:
    """CPU ticks of ``root`` and its live descendants, each including the
    children it has already reaped."""
    table = _process_table()
    return sum(table[p][1] for p in [root] + descendants(root, table) if p in table)


class HostStamp:
    """Start/stop pair around the measured part of a run."""

    def __init__(self):
        self.load_start = os.getloadavg()[0]
        self._busy0 = _busy_ticks()
        self._steal0 = _cpu_ticks()[7]
        self._own0 = _tree_ticks(os.getpid())

    def finish(self, wall_s: float) -> dict:
        other = (_busy_ticks() - self._busy0) - (_tree_ticks(os.getpid()) - self._own0)
        other_s = max(0.0, other / _HZ)
        return {
            "load_avg_start": self.load_start,
            "load_avg_end": os.getloadavg()[0],
            "other_cpu_s": round(other_s, 3),
            # time the hypervisor gave this machine's CPUs to other guests
            "steal_s": round((_cpu_ticks()[7] - self._steal0) / _HZ, 3),
            "wall_s": round(wall_s, 3),
            "contended": other_s > CONTENDED_CORES * wall_s,
        }


def peak_rss_mb(*pids: int) -> float:
    """Sum of VmHWM over ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# host-speed calibration: one burst of fixed CPU work, in this process
# and none of it the library's code, so no change to the program can
# move it; only the host's speed can
REF_BURST_MS = 20.0  # one burst on an idle 4-vCPU Xeon VM


class HostSpeed:
    """Samples the calibration burst between operations, never while one
    runs, and turns the run's median burst time into the factor that
    scales its timings to a host that runs the burst in REF_BURST_MS.

    On a shared host the speed a run gets drifts by tens of percent
    between runs (other guests, stolen CPU time). Every operation slows
    with it, and so does the burst, so scaling by the burst leaves what
    the program itself changed."""

    def __init__(self):
        rng = np.random.default_rng(0)
        self._bytes = rng.integers(0, 1024, 128 * 1024, dtype=np.uint16).tobytes()
        self._floats = rng.random(65536)
        self.samples_ms: list[float] = []

    def sample(self) -> None:
        """Time one burst: compress, interpret, sort."""
        t = time.perf_counter()
        zlib.compress(self._bytes, 6)
        sum(i * i for i in range(20000))
        np.sort(self._floats)
        self.samples_ms.append((time.perf_counter() - t) * 1000.0)

    def burst_ms(self) -> float:
        """The run's median burst, so a few preempted bursts do not count."""
        return statistics.median(self.samples_ms)

    def factor(self) -> float:
        """Multiply a time by this to scale it to the reference host."""
        return REF_BURST_MS / self.burst_ms()
