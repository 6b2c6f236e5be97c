"""Host record: core count, load, driver memory and a calibration probe.

The probe is a fixed pure-JVM job (codegen sum, no I/O, no Python) sized
to the core count: 2 tasks per core of 10M rows each, timed best-of-2.
On a 4-vCPU Intel Xeon VM its quietest readings were 0.25-0.30 s, and
readings up to 0.74 s came with ~25 % CPU steal from other tenants. A
reading above CALIB_QUIET_MAX_S marks the run's wall times as contaminated;
the pass metrics are CPU seconds, which steal does not inflate.
"""

from __future__ import annotations

import os
import time

CALIB_QUIET_MAX_S = 0.40
ROWS_PER_TASK = 10_000_000
# The program's 16 GiB default is more than a small host has; 1 GiB fits
# any host, and a heap that reaches its cap keeps the peak RSS repeatable.
DRIVER_MEMORY = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def calibrate(spark) -> float:
    tasks = 2 * nproc()
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(0, tasks * ROWS_PER_TASK, 1, tasks).selectExpr("sum(id * 2 + 1)").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kb / 1024


def session_cpu_s() -> float:
    """CPU seconds used so far by every process of this process's session:
    the driver Python, the driver JVM and the Python workers it starts,
    plus whatever of theirs already exited. Time stolen from the host's
    vCPUs by other tenants is not charged to a process, so this reads
    the same on a busy and a quiet host, where wall time does not."""
    sid = os.getsid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while scanning
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def wait_quiet(max_s: float = 2.0, step_s: float = 0.25) -> None:
    """Wait, at most max_s, until the session has used under 10 % of one
    CPU over a step: JIT compilation and GC left running by the previous
    pass are then not charged to the next measurement."""
    deadline = time.perf_counter() + max_s
    last = session_cpu_s()
    while time.perf_counter() < deadline:
        time.sleep(step_s)
        now = session_cpu_s()
        if now - last < 0.1 * step_s:
            return
        last = now
