"""Measurement helpers: box sizing, process memory, Spark counters and
step statistics.  Everything here reads from outside the program: /proc,
``SparkContext.statusTracker()`` and the session's status store."""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


def box() -> dict:
    """Size the run to the machine: ``local[nproc - 1]`` (one core stays
    free for the driver, the JIT compiler and GC), a heap of a quarter of
    MemTotal (1 to 4 GB) and one shuffle partition per core."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem_gb = kb / 2**20
    return {
        "nproc": nproc,
        "cores": max(1, nproc - 1),
        "mem_gb": round(mem_gb, 1),
        "heap_gb": int(min(4, max(1, mem_gb // 4))),
        "shuffle_partitions": nproc,
    }


def process_age_s() -> float:
    """Seconds since this process started (``/proc``, 10 ms ticks), so
    that interpreter start and imports count towards set-up time."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # comm may hold spaces; the ppid follows the closing paren
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            kids.append(int(entry))
    return kids


def descendants() -> list[int]:
    """Every live process this one started, directly or not: the JVM
    (in local mode, the whole of Spark) and its Python workers."""
    out, todo = [], _children(os.getpid())
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` exists; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = pids
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    return alive


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` over every process this one started."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(
                    (int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0
                )
        except OSError:  # exited since it was listed
            continue
    return total_kb / 1024


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of the whole machine from
    ``/proc/stat``: steal is time the hypervisor ran someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return 100.0 * (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class StepCounters:
    jobs: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    gc_s: float = 0.0


class SparkCounters:
    """Per-step Spark work, read after the fact.  Each step runs under
    its own job group; jobs and tasks come from ``statusTracker()``,
    shuffle bytes from the status store's stage data, and GC time from
    the JVM's collector beans (in local mode all of Spark shares that
    JVM, and a per-task GC figure would count one pause once per
    running task)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._empty = jvm.java.util.Collections.emptyList()
        self._no_q = self.sc._gateway.new_array(jvm.double, 0)
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._n = 0
        self._group = None
        self._gc0 = 0.0

    def _gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def start(self) -> None:
        self._n += 1
        self._group = f"perfbench-{self._n}"
        self.sc.setJobGroup(self._group, self._group)
        self._gc0 = self._gc_ms()

    @contextmanager
    def paused(self):
        """Keep the jobs of traced-only work out of the current step."""
        self.sc.setJobGroup("perfbench-untimed", "untimed")
        try:
            yield
        finally:
            self.sc.setJobGroup(self._group, self._group)

    def stop(self) -> StepCounters:
        gc_s = (self._gc_ms() - self._gc0) / 1000
        st = self.sc.statusTracker()
        out = StepCounters(gc_s=gc_s)
        for job in st.getJobIdsForGroup(self._group):
            info = st.getJobInfo(job)
            if info is None:
                continue
            out.jobs += 1
            for sid in info.stageIds:
                try:
                    data = self._store.stageAttempt(
                        sid, 0, False, self._empty, False, self._no_q
                    )._1()
                except Py4JJavaError:  # skipped stage: it never ran, so no data
                    continue
                out.tasks += data.numCompleteTasks()
                out.shuffle_write_bytes += data.shuffleWriteBytes()
        self.sc.setJobGroup("perfbench-untimed", "untimed")
        return out


def dir_bytes_files(path: str) -> tuple[int, int]:
    """Bytes and data files under ``path`` (Spark's ``.crc`` and
    ``_SUCCESS`` markers excluded)."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, name))
            files += 1
    return size, files
