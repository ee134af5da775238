"""Host and process readings from /proc: process-tree CPU time, JVM
peak RSS, process start time, and the host-condition record every run
carries (load, steal, core count, calibration-kernel time). The record
is reported, never used to drop a run."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name is parenthesised and may contain spaces
        return f.read().rsplit(")", 1)[1].split()


def uptime_s() -> float:
    with open("/proc/uptime") as f:
        return float(f.read().split()[0])


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    return uptime_s() - int(_stat_fields(os.getpid())[19]) / _TICK


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat_fields(int(d))[1]), []).append(int(d))
            except (OSError, IndexError):
                pass
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """user+sys CPU seconds of ``root`` (default: this process) and all
    its live descendants, including their reaped children."""
    total = 0
    for pid in _descendants(root or os.getpid()):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def calibration_s() -> float:
    """Wall time of a fixed pure-Python kernel (about 0.2 s idle)."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t


class HostRecord:
    """Load average at start and end, steal share between them, core
    count and the calibration time, as one JSON-ready dict. Create it
    at process start; call ``calibrate`` where the kernel's 0.2 s does
    not count against a metric."""

    def __init__(self) -> None:
        self.load_start = _loadavg()
        self.jiffies = _cpu_jiffies()
        self.calibration_s = float("nan")

    def calibrate(self) -> None:
        self.calibration_s = calibration_s()

    def finish(self) -> dict:
        steal0, total0 = self.jiffies
        steal1, total1 = _cpu_jiffies()
        return {
            "nproc": nproc(),
            "load_start": self.load_start,
            "load_end": _loadavg(),
            "steal_pct": round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 3),
            "calibration_s": round(self.calibration_s, 4),
        }
