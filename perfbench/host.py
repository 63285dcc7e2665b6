"""Host and process gauges: noise stamps, peak memory, Spark and JVM
counters.  Every reader returns a neutral value where the platform does
not provide one; none of them adjusts a measured number."""

from __future__ import annotations

import os


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def driver_heap() -> str:
    """A driver heap that fits in RAM beside the Python process: a
    quarter of physical memory, between 1 and 4 GiB."""
    try:
        pages = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError):  # pragma: no cover
        pages = 8 << 30
    return f"{max(1, min(4, pages // 4 >> 30))}g"


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:  # pragma: no cover
        return [-1.0, -1.0, -1.0]


def cpu_ticks() -> list[int]:
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]
    except OSError:  # pragma: no cover
        return []


# thread names (``comm``, cut to 15 characters) of HotSpot's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> list[str]:
    """Fields of a ``/proc/.../stat`` file after the command name."""
    with open(path) as f:
        s = f.read()
    return s[s.rindex(")") + 2:].split()


def proc_cpu_seconds(pid: int | str = "self") -> float:
    """User and system CPU time of a process and of its children it
    has waited for."""
    try:
        f = _stat(f"/proc/{pid}/stat")
    except OSError:
        return 0.0
    return sum(int(v) for v in f[11:15]) / os.sysconf("SC_CLK_TCK")


def jit_cpu_seconds(pid: int) -> float:
    """CPU time of a JVM's live JIT compiler threads."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
            f = _stat(f"/proc/{pid}/task/{tid}/stat")
            ticks += int(f[11]) + int(f[12])
        except OSError:
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def app_cpu_seconds(jvm: int | None) -> float:
    """CPU time this process and the Spark driver JVM have run so far,
    leaving out the JVM's JIT compiler threads: the compilers' share of
    a step depends on how far the JIT had got when the step started,
    which varies from run to run with the host's load.  Time the
    hypervisor stole is not in it."""
    cpu = proc_cpu_seconds()
    if jvm is not None:
        cpu += proc_cpu_seconds(jvm) - jit_cpu_seconds(jvm)
    return cpu


def steal_pct(t0: list[int], t1: list[int]) -> float:
    """Steal share (%) of all CPU ticks between two ``cpu_ticks``
    samples; -1 when unavailable."""
    if len(t0) < 8 or len(t1) < 8:
        return -1.0
    total = sum(b - a for a, b in zip(t0, t1))
    if total <= 0:
        return -1.0
    return 100.0 * (t1[7] - t0[7]) / total


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def gc_seconds(spark) -> float:
    """Driver JVM garbage-collection time so far, over all collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    total = 0
    it = mf.getGarbageCollectorMXBeans().iterator()
    while it.hasNext():
        total += it.next().getCollectionTime()
    return total / 1000


def job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def tasks_of(spark, jobs: set[int]) -> int:
    """Completed tasks over the stages of ``jobs``."""
    st = spark.sparkContext.statusTracker()
    n = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage is not None:
                n += stage.numCompletedTasks
    return n
