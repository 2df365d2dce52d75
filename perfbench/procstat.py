"""Process-tree CPU and RSS from /proc (no psutil).

The benchmark's process tree is this Python driver, the JVM it launches
(spark-submit -> java) and the Python workers the JVM forks. CPU is read
from /proc/<pid>/stat, RSS from /proc/<pid>/statm.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class ProcStat:
    pid: int
    comm: str
    ppid: int
    cpu_s: float  # utime + stime + cutime + cstime, in seconds


def parse_stat(line: str) -> ProcStat:
    """Parse one /proc/<pid>/stat line.

    ``comm`` is parenthesised and may itself contain spaces or ')', so
    the fields after it are split from the LAST ')'. Children's times
    (cutime, cstime) are included so a worker that exits inside a timed
    window still counts once its parent reaps it."""
    lpar = line.index("(")
    rpar = line.rindex(")")
    comm = line[lpar + 1 : rpar]
    rest = line[rpar + 2 :].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14..17
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])
    return ProcStat(int(line[:lpar]), comm, ppid, ticks / TICK)


def _read_stat(pid: int) -> ProcStat | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return parse_stat(f.read())
    except (FileNotFoundError, ProcessLookupError, ValueError):
        return None  # exited between listdir and open


def tree(root: int | None = None) -> list[ProcStat]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    stats = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats.append(st)
    children: dict[int, list[ProcStat]] = {}
    by_pid = {}
    for st in stats:
        children.setdefault(st.ppid, []).append(st)
        by_pid[st.pid] = st
    out = []
    todo = [by_pid[root]] if root in by_pid else []
    while todo:
        st = todo.pop()
        out.append(st)
        todo.extend(children.get(st.pid, ()))
    return out


@dataclass(frozen=True)
class CpuSample:
    jvm_s: float
    py_s: float

    @property
    def total_s(self) -> float:
        return self.jvm_s + self.py_s

    def __sub__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(self.jvm_s - other.jvm_s, self.py_s - other.py_s)


def cpu_sample(root: int | None = None) -> CpuSample:
    """CPU seconds of the tree, split into JVM and everything else
    (the Python driver and workers; the spark-submit shell is idle)."""
    jvm = py = 0.0
    for st in tree(root):
        if st.comm == "java":
            jvm += st.cpu_s
        else:
            py += st.cpu_s
    return CpuSample(jvm, py)


def steal_ticks() -> int:
    """Host-wide ticks the hypervisor ran someone else on our vCPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total


class RssSampler:
    """Background thread: peak summed RSS of the tree while running.

    Samples every INTERVAL seconds; the tree is re-listed every RELIST
    samples so workers forked mid-window are picked up without walking
    /proc on every sample."""

    INTERVAL = 0.05
    RELIST = 10

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        i = 0
        pids: list[int] = []
        while True:
            if i % self.RELIST == 0:
                pids = [st.pid for st in tree()]
            self.peak = max(self.peak, rss_bytes(pids))
            i += 1
            if self._stop.wait(self.INTERVAL):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
