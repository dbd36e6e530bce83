"""Host facts for a benchmark run: core and memory sizing, CPU weather from
``/proc/stat``, peak resident memory, and the teardown that stops every
process the Spark session started."""

from __future__ import annotations

import os
import signal
import time


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return 4096


def driver_memory_mb() -> int:
    """An eighth of the available memory, between 512 MB and 2 GB: the
    benchmark's sketches are MBs and its tables tens of MBs."""
    return max(512, min(2048, mem_available_mb() // 8))


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat: user nice
    system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_weather(before: list[int], after: list[int]) -> dict[str, float]:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d) or 1
    idle = d[3] + d[4]
    return {"busy_pct": round(100.0 * (total - idle) / total, 2),
            "steal_pct": round(100.0 * d[7] / total, 2)}


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of ``pid`` (VmHWM), 0 when it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current resident set, so a later
    ``vm_hwm_mb(os.getpid())`` is the peak since this call."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command field may hold spaces; the ppid follows its ")"
        fields = stat[stat.rfind(")") + 2:].split()
        parent[int(name)] = int(fields[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until every pid has exited; SIGKILL whatever outlives the
    timeout and wait for that too."""
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + 5.0
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
