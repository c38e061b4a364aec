"""State of the machine a run measured on, and the CPU and peak memory
its process tree used."""

from __future__ import annotations

import os
import platform
import time


def cpu_sample() -> tuple[int, int] | None:
    """(steal_jiffies, total_jiffies) from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    # user..steal only: guest time is already folded into user/nice
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def box_state(cpus: int, start_load: list[float], start_cpu, spark) -> dict:
    """nproc, cores used, Spark master and driver heap, steal share over
    the run, load at start and end, versions."""
    conf = spark.sparkContext.getConf()
    out = {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": cpus,
        "spark_master": spark.sparkContext.master,
        "spark_driver_memory": conf.get("spark.driver.memory", "1g"),
        "loadavg_start": start_load,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "python": platform.python_version(),
        "spark": spark.version,
    }
    end = cpu_sample()
    if start_cpu and end:
        out["steal_pct"] = round(100.0 * (end[0] - start_cpu[0]) / max(end[1] - start_cpu[1], 1), 2)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; the fields follow its ')'
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants: the JVM and its Python workers.  Time
    the hypervisor steals is not charged, so this moves far less with
    the load of other tenants than wall time does."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            f = _stat(pid)
        except (OSError, IndexError):
            continue
        # utime, stime, and those of reaped children
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def settle(window: float = 0.5, idle_cores: float = 0.25, limit: float = 10.0) -> float:
    """Wait until the process tree uses fewer than ``idle_cores`` cores
    over a ``window``, at most ``limit`` seconds; return its CPU seconds
    at the start of that quiet window.  The JVM goes on compiling and
    collecting for a while after the work that caused it returns."""
    deadline = time.perf_counter() + limit
    cur = tree_cpu_s()
    while time.perf_counter() < deadline:
        time.sleep(window)
        nxt = tree_cpu_s()
        if nxt - cur < idle_cores * window:
            break
        cur = nxt
    return cur


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat(name)[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants: the JVM
    and the Python workers the JVM forked."""
    return sum(_hwm_kb(pid) for pid in [os.getpid(), *descendants()]) / 1024.0


def descendants() -> list[int]:
    kids = _children()
    todo, out = list(kids.get(os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out

