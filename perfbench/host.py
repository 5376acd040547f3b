"""Host-side measurements: the job's memory, the md5 calibration probe and
load average. Linux ``/proc`` only; no third-party modules."""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may contain spaces; ppid follows the closing paren
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def pin_tree(cpus: list[int]) -> None:
    """Restrict every thread of this process and of its descendants (the
    JVM, the Python worker daemon and its workers) to ``cpus``. Threads
    and processes started later inherit the mask of the thread that starts
    them."""
    kids = _children_map()
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:  # the thread ended meanwhile
                pass
        stack.extend(kids.get(pid, ()))


def _is_pyspark_daemon(pid: int) -> bool:
    """The Python worker daemon and the workers it forks; any other child of
    the JVM (a short-lived helper it spawns, which reports the JVM's own
    RSS while it shares its address space) is not."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class MemoryProbe:
    """Peak memory held by the job while the timed repetitions run, sampled
    in the background every ``interval_s``: the Python processes' RSS (the
    driver, the worker daemon and the workers) plus the JVM's non-heap
    memory in use and Spark's storage memory in use (cached and persisted
    blocks, broadcasts, local checkpoints). The JVM's own RSS is not used:
    G1 commits a heap ±30% larger or smaller between identical runs, while
    storage memory shows what the job keeps, such as a cached DataFrame,
    for as long as it keeps it. Execution memory (sort, aggregate and join
    buffers) is left out: its sampled peak moved by ~130 MB between
    identical runs. Each repetition's peak is kept (``next_rep`` closes
    one); ``peak_mb`` is their median, because when the JVM's garbage
    collector lets Spark drop the blocks of a finished local checkpoint
    varies from repetition to repetition. Enter around the timed
    repetitions only."""

    def __init__(self, spark, cores: int, interval_s: float = 0.2):
        from pyspark import SparkContext

        self.cores = cores
        self.jvm_pid = SparkContext._gateway.proc.pid
        jvm = spark._jvm
        self._memory_manager = jvm.org.apache.spark.SparkEnv.get().memoryManager()
        self._mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.interval_s = interval_s
        self.rep_peaks: list[tuple[int, int]] = []  # (python, jvm) at each peak
        self._current = (0, 0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @property
    def peak_mb(self) -> float:
        return statistics.median(sum(p) for p in self.rep_peaks) / 1e6

    def next_rep(self) -> None:
        with self._lock:
            self.rep_peaks.append(self._current)
            self._current = (0, 0)

    def _python_bytes(self) -> int:
        """Driver + worker daemon + the ``cores`` largest Python workers: at
        most that many tasks run at once, and the worker pool sometimes
        forks a spare that then idles; counting it made the figure jump by
        whole workers between identical runs."""
        kids = _children_map()
        python = rss_bytes(os.getpid())
        workers = []
        for daemon in filter(_is_pyspark_daemon, kids.get(self.jvm_pid, ())):
            python += rss_bytes(daemon)
            workers.extend(rss_bytes(w) for w in kids.get(daemon, ())
                           if _is_pyspark_daemon(w))
        return python + sum(sorted(workers)[-self.cores:])

    def _jvm_bytes(self) -> int:
        return (self._mx.getNonHeapMemoryUsage().getUsed()
                + self._memory_manager.storageMemoryUsed())

    def _sample(self) -> None:
        now = (self._python_bytes(), self._jvm_bytes())
        with self._lock:
            if sum(now) > sum(self._current):
                self._current = now

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemoryProbe":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def md5_probe_s() -> float:
    """Serial pure-Python calibration: 200k chained md5 digests, the same
    shape as ``bench.py``'s probe. Host drift shows as a change here."""
    t0 = time.perf_counter()
    h = b"x"
    for _ in range(200_000):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def load_avg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]
