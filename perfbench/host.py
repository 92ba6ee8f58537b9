"""What the host looked like during a run, and the run's memory peak."""

from __future__ import annotations

import os
import platform
import time


def _cpu_pressure_some_us() -> int | None:
    """Cumulative CPU "some" stall time (µs) from PSI, None without PSI."""
    try:
        with open("/proc/pressure/cpu") as fh:
            line = fh.readline()
    except OSError:
        return None
    return int(line.rsplit("total=", 1)[1])


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: steal is time a virtual CPU was
    runnable but the hypervisor ran someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def cpu_snapshot() -> tuple:
    """(wall clock, PSI "some" µs or None, steal jiffies, all jiffies)."""
    return (time.perf_counter(), _cpu_pressure_some_us(), *_cpu_ticks())


def cpu_window(a: tuple, b: tuple) -> dict:
    """CPU contention between two snapshots: the share of wall time some
    task waited for a CPU (PSI), and the share of CPU time the hypervisor
    gave to other guests (steal). Either shows a noisy neighbour next to
    the numbers it slowed."""
    wall = b[0] - a[0]
    return {
        "wall_s": round(wall, 2),
        "cpu_pressure_some_pct": (
            None if a[1] is None else round(100 * (b[1] - a[1]) / 1e6 / wall, 2)
        ),
        "cpu_steal_pct": round(100 * (b[2] - a[2]) / max(1, b[3] - a[3]), 2),
    }


class HostProbe:
    """The host of a run: its CPUs, load and contention over the run, and
    the versions that ran."""

    def __init__(self):
        self._s0 = cpu_snapshot()
        self._load0 = os.getloadavg()

    def report(self, spark) -> dict:
        jvm = spark._jvm.java.lang.System
        return {
            "nproc": os.cpu_count(),
            "cpus_usable": len(os.sched_getaffinity(0)),
            "loadavg_start": self._load0,
            "loadavg_end": os.getloadavg(),
            "run": cpu_window(self._s0, cpu_snapshot()),
            "python": platform.python_version(),
            "spark": spark.version,
            "java": f"{jvm.getProperty('java.vm.name')} {jvm.getProperty('java.version')}",
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_hwm_mb(root: int) -> dict[str, float]:
    """VmHWM (peak resident set) in MB of ``root`` and its descendants,
    summed per program: the Python driver, the JVM, and the Python workers
    the JVM forked. The run's peak_rss_mb is the sum over the tree."""
    out: dict[str, float] = {}
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(
                    line.split(":", 1) for line in fh if ":" in line
                )
        except OSError:
            continue
        if "VmHWM" not in status:
            continue  # a zombie, or a process that never mapped memory
        name = status["Name"].strip()
        kind = (
            "python_driver" if pid == root
            else "jvm" if name == "java"
            else "python_workers" if name.startswith("python")
            else "other"
        )
        out[kind] = out.get(kind, 0.0) + int(status["VmHWM"].split()[0]) / 1024
    return out
