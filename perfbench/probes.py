"""Readings the benchmark takes from outside the program: host and
process counters from ``/proc``, and JVM and Spark state through the
Spark context."""

from __future__ import annotations

import gc
import os
import signal
import time

_HZ = os.sysconf("SC_CLK_TCK")


def process_start_epoch() -> float:
    """Wall-clock time at which this process started (``/proc`` resolution,
    one clock tick)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _HZ


def _children() -> dict[int, list[tuple[int, int]]]:
    """ppid -> [(pid, CPU ticks)] over every live process, where the ticks
    are user+system of the process and of the children it has reaped."""
    children: dict[int, list[tuple[int, int]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we scanned
            continue
        # fields[1] = ppid; [11:15] = utime, stime, cutime, cstime
        children.setdefault(int(fields[1]), []).append(
            (int(name), sum(int(x) for x in fields[11:15]))
        )
    return children


def _descendant_ticks() -> list[tuple[int, int]]:
    """(pid, CPU ticks) of every live descendant of this process."""
    children, out, stack = _children(), [], [os.getpid()]
    while stack:
        for pid, ticks in children.get(stack.pop(), []):
            out.append((pid, ticks))
            stack.append(pid)
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and every live descendant
    (the JVM and the Python workers it forks), including children they
    have already reaped."""
    own = os.times()
    return sum(t for _, t in _descendant_ticks()) / _HZ + own.user + own.system


def jit_cpu_s() -> float:
    """User+system CPU seconds the JVM's JIT compiler threads (``C1/C2
    CompilerThreadN``) of every live descendant have spent so far. The
    benchmark starts the JVM with a fixed set of compiler threads, so none
    exits and takes its count with it."""
    total = 0
    for pid, _ in _descendant_ticks():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    name, rest = f.read().rsplit(")", 1)
            except OSError:
                continue
            # the kernel keeps the first 15 characters of a thread's name
            if "CompilerThre" in name:
                fields = rest.split()
                total += int(fields[11]) + int(fields[12])
    return total / _HZ


def host_cpu_s() -> dict[str, float]:
    """Host-wide idle, iowait and steal CPU seconds so far, summed over all
    CPUs (``/proc/stat``). Steal is time the hypervisor gave to other
    guests; idle time during a pass is time no runnable work was waiting."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return {"idle_s": int(fields[4]) / _HZ, "iowait_s": int(fields[5]) / _HZ,
            "steal_s": int(fields[8]) / _HZ}


def live_heap_mb(spark) -> float:
    """JVM heap in use after explicit full GCs. Python's collector runs
    first, so JVM objects that only dead Python frames referenced are
    released. Each JVM GC lets Spark's context cleaner drop the cached
    data of frames no longer referenced, which the next GC collects; GCs
    repeat until the reading settles (within 1 MB), at most six times."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for _ in range(6):
        jvm.java.lang.System.gc()
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) > 1 and abs(readings[-1] - readings[-2]) < 1:
            break
        time.sleep(0.5)
    return min(readings)


def cache_state(spark) -> tuple[int, float]:
    """(persisted RDD count, MB those RDDs hold in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    mb = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()) / 2**20
    return n, mb


def group_jobs_stages(spark, group: str) -> tuple[int, int]:
    """(jobs, distinct stages, skipped ones included) Spark ran under job
    group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    stages: set[int] = set()
    jobs = tracker.getJobIdsForGroup(group)
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            stages.update(info.stageIds)
    return len(jobs), len(stages)


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    return [pid for pid, _ in _descendant_ticks()]


def reap(pids: list[int], timeout: float) -> None:
    """Wait until every pid in ``pids`` has exited; kill what is left at
    ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
