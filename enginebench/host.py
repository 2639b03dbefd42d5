"""Host pinning and the witnesses every result carries.

The host is shared and drifts between runs, so each run records what it
saw: CPU steal over the window, a single-core Python probe before set-up
and after the window, and how many cores other processes kept busy.
"""

from __future__ import annotations

import os
import time

CLK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Size the driver heap from host memory and keep every scratch file
    of Python, the JVM and Spark inside ``work``. Must run before pyspark
    starts the JVM."""
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["PK_DRIVER_MEMORY"] = f"{max(1, min(8, round(mem_gb / 5)))}g"
    dirs = {d: os.path.join(work, d) for d in ("tmp", "spark-local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["PK_WAREHOUSE_DIR"] = dirs["warehouse"]
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"


def probe_s() -> float:
    """Best of 3 timings of a fixed single-core Python loop."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        best = min(best, time.perf_counter() - t)
    return best


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _tree_ticks(root: int) -> int:
    """utime+stime of ``root`` and its live descendants."""
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(pid)] = int(fields[1])
        ticks[int(pid)] = int(fields[11]) + int(fields[12])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total


class Window:
    """CPU accounting between start() and stop()."""

    def start(self) -> None:
        self.t0, self.cpu0, self.own0 = time.monotonic(), _cpu_line(), _tree_ticks(os.getpid())

    def stop(self) -> dict:
        dt = time.monotonic() - self.t0
        cpu = [b - a for a, b in zip(self.cpu0, _cpu_line())]
        own = _tree_ticks(os.getpid()) - self.own0
        total = sum(cpu[:8]) or 1
        busy = cpu[0] + cpu[1] + cpu[2] + cpu[5] + cpu[6]  # user nice system irq softirq
        return {
            "steal_pct": 100.0 * cpu[7] / total,
            "other_busy_cores": max(0.0, (busy - own) / CLK / dt),
        }


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
