"""Process-tree CPU and RSS sampler built on /proc (psutil is not needed).

The benchmark process is the root of a tree: the Spark driver JVM is its
child, and the JVM forks the PySpark daemon and its Python workers. A
background thread walks that tree every ``interval`` seconds and splits
CPU time (utime + stime) and resident memory into three classes:

* ``jvm``      – every ``java`` process (driver and executors, local mode);
* ``pyworker`` – Python processes below the JVM (daemon and UDF workers);
* ``driver``   – the benchmark process itself and anything else it starts.

CPU of a process that exits between two samples is counted up to its last
sample, so a window loses at most one interval per short-lived process.
Resident memory counts only the JVM and Python processes (see
``_owns_memory``).
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
CLASSES = ("driver", "jvm", "pyworker")


def _read_stat(pid: int):
    """(ppid, comm, cpu_ticks, rss_bytes) of ``pid``, or None if it is gone
    or a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    lpar, rpar = raw.find("("), raw.rfind(")")
    comm = raw[lpar + 1 : rpar]
    fields = raw[rpar + 2 :].split()
    # fields[0] is field 3 (state) of proc(5)
    if fields[0] == "Z":
        return None
    ppid = int(fields[1])
    cpu = int(fields[11]) + int(fields[12])
    rss = int(fields[21]) * _PAGE
    return ppid, comm, cpu, rss


def _all_stats() -> dict[int, tuple]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def _owns_memory(comm: str, parent_comm: str) -> bool:
    """Whether a process's RSS counts toward the tree. A JVM child that is
    still ``java`` is a fork that has not exec'd a helper yet and shows the
    whole parent heap as resident; helpers that have exec'd are short-lived
    and small."""
    if comm == "java":
        return parent_comm != "java"
    return comm.startswith("python")


class ProcTree:
    """Sample the process tree rooted at ``root`` (default: this process)."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = root or os.getpid()
        self.interval = interval
        self._lock = threading.Lock()
        self._cls: dict[int, str] = {}
        self._comm: dict[int, str] = {}
        self._last_cpu: dict[int, int] = {}
        self.peak_rss = {c: 0 for c in CLASSES}
        self.peak_rss["total"] = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _classify(self, pid: int, comm: str, parent_cls: str | None) -> str:
        if pid == self.root:
            return "driver"
        if comm == "java":
            return "jvm"
        if parent_cls in ("jvm", "pyworker") and comm.startswith("python"):
            return "pyworker"
        return parent_cls or "driver"

    def sample(self) -> None:
        stats = _all_stats()
        children: dict[int, list[int]] = {}
        for pid, (ppid, *_rest) in stats.items():
            children.setdefault(ppid, []).append(pid)
        rss = {c: 0 for c in CLASSES}
        with self._lock:
            stack = [(self.root, None)] if self.root in stats else []
            while stack:
                pid, parent_cls = stack.pop()
                _ppid, comm, cpu, r = stats[pid]
                cls = self._cls.get(pid)
                if cls is None or self._comm[pid] != comm:
                    # (re)classify: a launcher script can exec into the JVM
                    cls = self._cls[pid] = self._classify(pid, comm, parent_cls)
                    self._comm[pid] = comm
                self._last_cpu[pid] = max(cpu, self._last_cpu.get(pid, 0))
                if _owns_memory(comm, stats.get(_ppid, (0, ""))[1]):
                    rss[cls] += r
                stack.extend((c, cls) for c in children.get(pid, ()))
            for c in CLASSES:
                self.peak_rss[c] = max(self.peak_rss[c], rss[c])
            self.peak_rss["total"] = max(self.peak_rss["total"], sum(rss.values()))

    def cpu_seconds(self) -> dict[str, float]:
        """Cumulative CPU seconds per class of every process seen so far."""
        self.sample()
        out = {c: 0 for c in CLASSES}
        with self._lock:
            for pid, ticks in self._last_cpu.items():
                out[self._cls[pid]] += ticks
        return {c: v / _CLK_TCK for c, v in out.items()}

    def reset_peak(self) -> None:
        with self._lock:
            for k in self.peak_rss:
                self.peak_rss[k] = 0
        self.sample()

    def descendants_alive(self) -> list[int]:
        """Processes ever seen below the root that still run, including
        those re-parented away from the tree when their parent exited."""
        self.sample()
        with self._lock:
            seen = [p for p in self._cls if p != self.root]
        return sorted(p for p in seen if _read_stat(p) is not None)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "ProcTree":
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="proctree", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def host_steal_seconds() -> float:
    """CPU time the hypervisor ran other guests while this machine's CPUs
    wanted to run, summed over all CPUs (``steal`` in /proc/stat)."""
    with open("/proc/stat", encoding="ascii") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def wait_for_exit(tree: ProcTree, timeout: float = 30.0) -> list[int]:
    """Wait until no process below ``tree.root`` is alive; SIGKILL what is
    left after ``timeout``. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        left = tree.descendants_alive()
        if not left:
            return []
        time.sleep(0.1)
    left = tree.descendants_alive()
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    # reap any direct children so none stays a zombie
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid == 0:
            break
    return left
