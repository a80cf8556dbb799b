"""Resident memory and CPU time of a process tree, read from ``/proc``.

The benchmark's process tree is the driver Python process, the JVM it
launches and the Python workers that JVM forks. The sampler sums their
resident set sizes at a fixed interval and keeps the peak.
``cpu_seconds`` reads the tree's CPU time and the part of it the JVM's
background threads used.
"""

from __future__ import annotations

import ctypes
import os
import platform
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")
MIB = 1 << 20


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _tree(root: int) -> list[tuple[int, int | None]]:
    """``(pid, parent)`` for ``root`` and every process below it."""
    kids = _children_map()
    out, todo = [], [(root, None)]
    while todo:
        pid, parent = todo.pop()
        out.append((pid, parent))
        todo.extend((kid, pid) for kid in kids.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    return [pid for pid, _ in _tree(root)]


_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1
_libc = ctypes.CDLL(None, use_errno=True)


def shares_memory(a: int, b: int) -> bool:
    """Whether processes ``a`` and ``b`` share one address space, as a
    child does between ``vfork`` and ``exec``. The JVM starts every
    helper process that way, so for that instant the child's RSS is the
    JVM's own and a plain sum would count the JVM twice."""
    if _SYS_KCMP is None:
        return False
    return _libc.syscall(_SYS_KCMP, a, b, _KCMP_VM, 0, 0) == 0


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


# Threads a JVM runs beside the work, on its own schedule: the JIT
# compilers and G1's concurrent marking, refinement and service threads.
# Matched by the name the JVM gives each thread, cut by Linux to 15
# characters. The benchmark starts the JVM with a fixed set of compiler
# threads, and G1 keeps its threads for the JVM's life, so none of them
# exits and takes its CPU time out of the sum below.
BACKGROUND_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "G1 Conc#", "G1 Main Marker",
                      "G1 Refine#", "G1 Service")


def _background(pid: int) -> tuple[int, int]:
    """``(ticks, threads)``: user and system time of the background
    threads of ``pid``, and how many there are."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0, 0
    ticks = count = 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
        if name.startswith(BACKGROUND_THREADS):
            ticks += sum(int(x) for x in rest.split()[11:13])  # utime stime
            count += 1
    return ticks, count


def cpu_seconds() -> tuple[float, float, int]:
    """``(total_s, background_s, background_threads)`` for this
    process's tree. ``total_s`` is the user and system time of each live
    process plus that of the children it has reaped, so a worker that
    exits still counts once its parent waits for it; ``background_s`` is
    the part of it the BACKGROUND_THREADS used. The kernel leaves
    hypervisor steal out of both."""
    ticks = background = threads = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        bg_ticks, bg_threads = _background(pid)
        background += bg_ticks
        threads += bg_threads
    return ticks / CLK_TCK, background / CLK_TCK, threads


def sample(root: int) -> tuple[int, int]:
    """``(rss_bytes, python_workers)`` of the tree under ``root`` now.
    A process sharing its parent's address space adds no memory."""
    tree = [(p, parent) for p, parent in _tree(root)
            if parent is None or not shares_memory(parent, p)]
    return (sum(_rss_bytes(p) for p, _ in tree),
            sum(_is_python_worker(p) for p, parent in tree if parent is not None))


class PeakSampler:
    """Background thread keeping the peak tree RSS and the peak count of
    Spark Python worker processes. ``mark()`` starts a new window for
    the worker count, so a caller can read one peak per pass. ``cpu_s``
    is the CPU time the thread has used so far, which a caller measuring
    the tree's CPU time takes back out."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.peak_rss = 0
        self.window_workers = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, name="proctree-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.take()
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval)

    def take(self) -> None:
        rss, workers = sample(self.root)
        with self._lock:
            self.peak_rss = max(self.peak_rss, rss)
            self.window_workers = max(self.window_workers, workers)

    def mark(self) -> int:
        """Return the worker peak since the last mark and reset it."""
        self.take()
        with self._lock:
            peak, self.window_workers = self.window_workers, 0
        return peak

    def __enter__(self) -> PeakSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.take()

    @property
    def peak_rss_mb(self) -> float:
        return self.peak_rss / MIB
