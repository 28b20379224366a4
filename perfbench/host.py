"""Host facts, session sizing and process-tree readings from ``/proc``."""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_memory() -> str:
    """An eighth of the host's memory, between 1 and 4 GiB: the session's
    JVM shares the host with the Python workers and other tenants, and the
    benchmark's inputs are megabytes."""
    mb = min(4096, max(1024, mem_total_mb() // 8))
    return f"{mb}m"


def since_process_start() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _HZ


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds) for every readable process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        table[int(name)] = (int(fields[1]), (int(fields[11]) + int(fields[12])) / _HZ)
    return table


def tree() -> list[tuple[int, float]]:
    """(pid, cpu seconds) of this process and all its descendants."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append((pid, table[pid][1]))
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree (JVM and Python
    workers included; children that already exited are not counted)."""
    return sum(cpu for _, cpu in tree())


def pss_bytes(pid: int) -> int:
    """Proportional resident memory of one process: pages shared with
    other processes (a forked worker and its parent) count once overall."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited while sampling
    return 0


SAMPLE_S = 0.05  # memory sampling interval
CLEANER_S = 1.0  # time given to Spark's ContextCleaner between full GCs


class PeakMemory:
    """Memory of the work done while active, read two ways:

    * ``peak_rss_mb``: the peak of the process tree's resident memory (PSS)
      outside the JVM heap - Python driver, daemon and workers, and the
      JVM's off-heap and non-heap memory - sampled on a thread. The heap is
      fixed and pre-touched, so it is resident in full whatever the program
      does; subtracting it leaves the memory the program can move.
    * ``live_heap_mb``: the JVM heap still in use after full GCs on exit,
      i.e. what the work left live on the heap. The heap in use before that
      GC says more about G1 than about the program: G1 lets garbage fill
      most of the heap before it collects, in every run.
    """

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._jvm = spark._jvm
        self._heap = mf.getMemoryMXBean().getHeapMemoryUsage
        self.heap_committed = self._heap().getCommitted()
        self.peak_rss = 0
        self.live_heap = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = sum(pss_bytes(pid) for pid, _ in tree()) - self.heap_committed
            self.peak_rss = max(self.peak_rss, rss)
            self._stop.wait(SAMPLE_S)

    def __enter__(self) -> "PeakMemory":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        # G1 runs System.gc() as a full, compacting collection. The first
        # one hands Spark's ContextCleaner the broadcasts, shuffles and
        # accumulators the work dropped; the cleaner frees them within a
        # second, and the second collection takes what they held
        self._jvm.java.lang.System.gc()
        time.sleep(CLEANER_S)
        self._jvm.java.lang.System.gc()
        self.live_heap = self._heap().getUsed()

    @property
    def peak_rss_mb(self) -> float:
        return self.peak_rss / (1 << 20)

    @property
    def live_heap_mb(self) -> float:
        return self.live_heap / (1 << 20)


def stamp() -> dict:
    """What the numbers were measured on."""
    import pyarrow
    import pyspark

    from dd_ops_ocr_spark import native

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "driver_memory": driver_memory(),
        "native_shim": native.available(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }
