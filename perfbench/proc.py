"""Process-tree CPU, peak memory and host-load readings from /proc.

The tree is this process plus every descendant: the py4j JVM and the
PySpark Python workers. CPU is split by process kind so the Arrow/UDF
(Python) share of a crawl is visible next to the JVM share.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

_TCK = os.sysconf("SC_CLK_TCK")


def _kind(comm: str) -> str:
    if "java" in comm:
        return "java"
    if "python" in comm:
        return "python"
    return "other"


def _read_procs() -> dict[int, tuple[str, int, list[int]]]:
    """pid -> (comm, ppid, [utime, stime, cutime, cstime]) in clock ticks."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw.split("(", 1)[1].rsplit(")", 1)[0]
        rest = raw.rsplit(")", 1)[1].split()
        procs[int(entry)] = (comm, int(rest[1]), [int(x) for x in rest[11:15]])
    return procs


def _descendants(procs: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def tree_pids() -> list[int]:
    """Every descendant of this process."""
    return _descendants(_read_procs())


def alive(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


@dataclass
class CpuSample:
    """Cumulative CPU seconds of the process tree at one instant."""

    wall: float
    java: float
    python: float
    other: float
    sys: float
    host_busy: float
    host_steal: float

    @property
    def total(self) -> float:
        return self.java + self.python + self.other


def _host_busy_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole machine since boot; busy
    includes steal, the time the hypervisor gave our vCPUs to others."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return (sum(vals) - vals[3] - vals[4]) / _TCK, vals[7] / _TCK


def cpu_sample() -> CpuSample:
    """Own CPU of each tree process goes to its kind; CPU of reaped children
    (cutime/cstime) goes to the parent's kind — the PySpark daemon reaps its
    Python workers, the driver reaps nothing the JVM did while alive."""
    procs = _read_procs()
    acc = {"java": 0.0, "python": 0.0, "other": 0.0}
    sys_s = 0.0
    for pid in [os.getpid(), *_descendants(procs)]:
        comm, _, (ut, st, cut, cst) = procs[pid]
        acc[_kind(comm)] += (ut + st + cut + cst) / _TCK
        sys_s += (st + cst) / _TCK
    busy, steal = _host_busy_s()
    return CpuSample(
        wall=time.perf_counter(), java=acc["java"], python=acc["python"],
        other=acc["other"], sys=sys_s, host_busy=busy, host_steal=steal,
    )


def cpu_delta(a: CpuSample, b: CpuSample) -> dict[str, float]:
    """CPU seconds spent between two samples. A process that exited in
    between and was reaped outside the tree is lost; within the timed
    windows the JVM and the worker daemon live throughout."""
    wall = max(b.wall - a.wall, 1e-9)
    own = b.total - a.total
    return {
        "wall_s": wall,
        "cpu_s": own,
        "java_s": b.java - a.java,
        "python_s": b.python - a.python,
        "other_s": b.other - a.other,
        "sys_s": b.sys - a.sys,
        "own_cores": own / wall,
        "neighbor_cores": max(b.host_busy - a.host_busy - own, 0.0) / wall,
        "steal_cores": (b.host_steal - a.host_steal) / wall,
    }


def rss_peaks_gb() -> dict[str, float]:
    """Peak resident set (VmHWM) of each live process of the tree, in GB,
    keyed ``<comm>:<pid>``."""
    out = {}
    for pid in [os.getpid(), *tree_pids()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{pid}"] = int(fields["VmHWM"].split()[0]) / 2**20
    return out


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")
