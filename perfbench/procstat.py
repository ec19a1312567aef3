"""Process-tree CPU and memory from ``/proc`` (psutil is not available).

The benchmark's process tree is the driver (this Python process), the Spark
JVM it launches, and the Python workers the JVM forks.  CPU of the tree is
the sum over live members of ``utime + stime + cutime + cstime``: a member
that exits is reaped by its parent, whose ``c*time`` then carries it, so a
delta between two snapshots counts every CPU-second exactly once.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    cpu_s: float  # own + reaped children, user + system


def _read_stat(pid: int, task: int | None = None) -> Proc | None:
    """A process's stat, or with ``task`` one of its threads' (whose CPU is
    then the thread's own: reaped children belong to the process)."""
    path = f"/proc/{pid}/stat" if task is None else \
        f"/proc/{pid}/task/{task}/stat"
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:  # exited between listdir and open
        return None
    head, _, rest = raw.rpartition(")")
    comm = head.split("(", 1)[1]
    f = rest.split()
    # fields after ")": state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    ticks = int(f[11]) + int(f[12])
    if task is None:
        ticks += int(f[13]) + int(f[14])
    return Proc(pid, int(f[1]), comm, ticks / _TICK)


def tree(root: int | None = None) -> list[Proc]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read_stat(int(name))
            if p is not None:
                procs[p.pid] = p
    kids: dict[int, list[int]] = {}
    for p in procs.values():
        kids.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
            todo.extend(kids.get(pid, ()))
    return out


@dataclass(frozen=True)
class CpuSplit:
    """CPU-seconds by role: the JVM, Python workers under it, and the rest
    (the driver process and any helper it starts).  ``jit`` is the part of
    ``jvm`` spent in the JVM's JIT compiler threads."""
    jvm: float
    pyworker: float
    driver: float
    jit: float = 0.0

    @property
    def total(self) -> float:
        return self.jvm + self.pyworker + self.driver

    @property
    def work(self) -> float:
        """``total`` without JIT compilation."""
        return self.total - self.jit

    def __sub__(self, other: CpuSplit) -> CpuSplit:
        return CpuSplit(self.jvm - other.jvm, self.pyworker - other.pyworker,
                        self.driver - other.driver, self.jit - other.jit)


def _roles(procs: list[Proc]) -> dict[int, str]:
    by_pid = {p.pid: p for p in procs}
    roles = {}
    for p in procs:
        role, q = "driver", p
        while q is not None:
            if q.comm == "java":
                role = "jvm" if q is p else "pyworker"
                break
            q = by_pid.get(q.ppid)
        roles[p.pid] = role
    return roles


# (JVM pid, thread id) → CPU-s last seen.  HotSpot retires idle compiler
# threads; keeping each one's last reading makes the sum non-decreasing, and
# a retired thread loses only what it spent after its last reading.
_JIT_SEEN: dict[tuple[int, int], float] = {}
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_cpu_s(jvm_pids: list[int]) -> float:
    for pid in jvm_pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            t = _read_stat(pid, int(tid))
            if t is not None and t.comm.startswith(_JIT_THREADS):
                _JIT_SEEN[(pid, int(tid))] = t.cpu_s
    return sum(v for (pid, _), v in _JIT_SEEN.items() if pid in jvm_pids)


def cpu_split(root: int | None = None) -> CpuSplit:
    procs = tree(root)
    roles = _roles(procs)
    acc = {"jvm": 0.0, "pyworker": 0.0, "driver": 0.0}
    for p in procs:
        acc[roles[p.pid]] += p.cpu_s
    jit = _jit_cpu_s([p.pid for p in procs if roles[p.pid] == "jvm"])
    return CpuSplit(**acc, jit=jit)


def wait_jit_idle(step_s: float = 0.5, idle_cpu_s: float = 0.05,
                  max_s: float = 15.0) -> float:
    """Wait until the JIT compiler threads spend less than ``idle_cpu_s``
    of CPU in ``step_s`` (their queue has drained), at most ``max_s``;
    returns the seconds waited."""
    t0 = time.perf_counter()
    last = cpu_split().jit
    while time.perf_counter() - t0 < max_s:
        time.sleep(step_s)
        now = cpu_split().jit
        if now - last < idle_cpu_s:
            break
        last = now
    return time.perf_counter() - t0


def python_worker_pids(root: int | None = None) -> list[int]:
    procs = tree(root)
    roles = _roles(procs)
    return [p.pid for p in procs if roles[p.pid] == "pyworker"]


def peak_rss_mb(pid: int) -> float | None:
    """VmHWM (peak resident set) of one process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def reset_peak_rss(pid: int) -> bool:
    """Reset the process's VmHWM to its current RSS (``clear_refs`` 5)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")
        return True
    except OSError:
        return False


@dataclass
class RssWatch:
    """Background sampler of each Python worker's peak RSS while it runs.

    Workers outlive a call (Spark reuses them), so on entry each live
    worker's VmHWM is reset to its current RSS: the peaks are those of the
    calls inside the ``with`` block, not of the warm-up before it.  VmHWM is
    a high-water mark, so sampling only has to see each worker once before
    it exits; ``interval_s`` bounds how short-lived a worker can be and
    still be seen."""
    interval_s: float = 0.25
    peaks: dict[int, float] = field(default_factory=dict)  # pid → MiB
    reset: list[int] = field(default_factory=list)  # pids whose peak was reset
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    @property
    def peak_mb(self) -> float:
        return max(self.peaks.values(), default=0.0)

    def _sample(self) -> None:
        for pid in python_worker_pids():
            mb = peak_rss_mb(pid)
            if mb is not None:
                self.peaks[pid] = max(mb, self.peaks.get(pid, 0.0))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> RssWatch:
        self.reset = [p for p in python_worker_pids() if reset_peak_rss(p)]
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
