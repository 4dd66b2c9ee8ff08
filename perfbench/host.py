"""Host context and process counters read from outside the program:
core count, memory, load, and per-process CPU time and RSS from
``/proc``; and the reaping of every process a run leaves behind."""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """Spark driver heap sized to the box: a quarter of RAM, at most
    4 GiB (the engine's own default of 16g does not fit small hosts)."""
    gib = max(1, min(4, mem_total_bytes() // (4 << 30)))
    return f"{gib}g"


def load1() -> float:
    return os.getloadavg()[0]


def cpu_s(pid: int) -> float:
    """User + system CPU seconds a live process has used."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def rss_mb(pid: int) -> float:
    """Peak resident set size of a live process, MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_gc_s(spark) -> float:
    """Cumulative JVM garbage-collection time, seconds."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def jvm_pid(spark) -> int:
    """PID of the driver JVM that PySpark launched."""
    return spark.sparkContext._gateway.proc.pid


def adopt_orphans() -> None:
    """Become the reaper of this process's orphaned descendants, which
    Linux would otherwise hand to init. ``spark-class`` leaves one: the
    subshell that printed the JVM's command line stays a zombie under
    the JVM and is orphaned when the JVM exits."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listed
        if ppid == me:
            out.append(int(name))
    return out


def reap_children(timeout: float = 30.0) -> None:
    """Wait until this process has no child left, adopted orphans
    included; kill whichever still runs at the deadline."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
