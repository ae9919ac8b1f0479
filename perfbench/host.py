"""Process-tree CPU, worker memory and the host regime, read from /proc.

CPU is counted for the whole tree under the benchmark process: this Python
process, the JVM it launches and every Python worker under the JVM.
Reaped children are covered by ``cutime``/``cstime`` of their live
parents, which the kernel adds only when they are reaped, so nothing is
counted twice. The regime fields are recorded beside the metrics and never
used to scale one.
"""

from __future__ import annotations

import hashlib
import os
import time

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime ticks) for every process."""
    out: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                s = fh.read()
        except OSError:
            continue  # exited while we walked
        f = s[s.rindex(")") + 2:].split()
        # after the comm field: 1 ppid, 11 utime, 12 stime, 13 cutime, 14 cstime
        out[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return out


def descendants(root: int | None = None) -> list[int]:
    """Live descendants of ``root`` (default: this process), root excluded."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    seen: list[int] = []
    stack = list(kids.get(root or os.getpid(), ()))
    while stack:
        pid = stack.pop()
        seen.append(pid)
        stack.extend(kids.get(pid, ()))
    return seen


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants."""
    table = _proc_table()
    me = os.getpid()
    pids = [me] + descendants(me)
    return sum(table[p][1] for p in pids if p in table) * TICK_S


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def python_workers() -> list[int]:
    """Python processes under the JVM: the pyspark daemon and its workers."""
    return [p for p in descendants() if "pyspark.daemon" in _cmdline(p)]


def worker_peak_rss_mb() -> float:
    """Largest VmHWM among live Python workers, in MB (10^6 bytes)."""
    peaks = [_status_kb(p, "VmHWM") for p in python_workers()]
    return max(peaks, default=0) * 1024 / 1e6


def _stat_cpu() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def regime_sample() -> dict:
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"loadavg": load, "cpu": _stat_cpu(), "tree_cpu_s": tree_cpu_s(),
            "t": time.monotonic()}


def regime_delta(start: dict, end: dict) -> dict:
    """Steal and co-tenant shares of host CPU capacity over a window.

    Co-tenant share is host busy time minus this process tree's CPU, as a
    fraction of all cores' capacity: near 0 on a quiet host however hard
    the benchmark itself runs."""
    d = [e - s for s, e in zip(start["cpu"], end["cpu"])]
    total = sum(d[:8]) or 1
    busy_s = (total - d[3] - d[4]) * TICK_S
    other_s = busy_s - (end["tree_cpu_s"] - start["tree_cpu_s"])
    return {
        "loadavg_start": start["loadavg"],
        "loadavg_end": end["loadavg"],
        "steal_frac": round(d[7] / total, 5),
        "cotenant_frac": round(max(0.0, other_s / (total * TICK_S)), 5),
        "window_s": round(end["t"] - start["t"], 3),
    }


def calibration_probe_ms() -> float:
    """A fixed single-thread CPython + hashing loop: host speed, not engine."""
    t0 = time.perf_counter()
    buf, h, acc = b"x" * (1 << 16), b"", 0
    for i in range(200):
        h = hashlib.md5(buf + h).digest()
        acc += sum(range(i, i + 2000))
    return (time.perf_counter() - t0) * 1000
