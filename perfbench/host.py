"""Process memory and host load, read from /proc (no sampler thread)."""

from __future__ import annotations

import os
import time


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we listed
        # comm may hold spaces and parens: the ppid follows the LAST ')'
        out[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def _descendants(root: int, ppid: dict[int, int]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        kids.setdefault(parent, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for k in kids.get(pid, []):
            out.append(k)
            todo.append(k)
    return out


def descendants() -> list[int]:
    """Every live process this process started, directly or not."""
    return _descendants(os.getpid(), _ppid_map())


def wait_exited(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is running (exited or a zombie)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not any(_running(p) for p in pids):
            return
        time.sleep(0.05)
    raise TimeoutError(f"processes still running: {[p for p in pids if _running(p)]}")


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _status(pid: int) -> tuple[str, float]:
    """(process name, VmHWM in MB); (name, 0.0) for a process without one."""
    name, hwm = "", 0.0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("Name:"):
                    name = line.split(None, 1)[1].strip()
                elif line.startswith("VmHWM:"):
                    hwm = int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return name, hwm


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM) of this driver process, its JVM and the
    Python workers the JVM started. Read it before the session stops: the
    JVM and its workers are only visible while alive."""
    out = {"driver": _status(os.getpid())[1], "jvm": 0.0, "workers": 0.0}
    for pid in descendants():
        name, hwm = _status(pid)
        if name == "java":
            out["jvm"] += hwm
        elif name.startswith("python"):
            out["workers"] += hwm
    return out


def jvm_heap_peak_mb(spark) -> dict[str, float]:
    """Peak used JVM heap, from the JVM's memory-pool beans: ``heap`` is the
    sum of every heap pool's peak (an upper bound of the heap's peak use),
    ``old_gen`` the old generation's peak, the data that outlives young
    collections. Unlike VmHWM these see heap use below the pinned heap size."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    out = {"heap": 0.0, "old_gen": 0.0}
    for pool in beans.getMemoryPoolMXBeans():
        if pool.getType().name() != "HEAP":
            continue
        used = pool.getPeakUsage().getUsed() / 2**20
        out["heap"] += used
        if "Old Gen" in pool.getName():
            out["old_gen"] = used
    return out


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu jiffies: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return 100.0 * delta[7] / total if total > 0 else 0.0


def load1() -> float:
    return os.getloadavg()[0]
