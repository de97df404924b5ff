"""Host readings from /proc (read only): process-tree CPU and RSS, CPU steal.

The benchmark's process tree is this Python process, the JVM it launches and
the JVM's Python workers.  CPU is user+sys of every live descendant plus what
they have already reaped from exited children.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


# HotSpot's JIT compiler threads, as /proc shows their names (15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s(pids: list[int]) -> float:
    """user+sys of the JIT compiler threads of the JVMs among ``pids``."""
    total = 0
    for pid in pids:
        if _comm(pid) != "java":
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            if raw[raw.index("(") + 1 : raw.rindex(")")].startswith(_JIT_THREADS):
                fields = raw[raw.rindex(")") + 2 :].split()
                total += int(fields[11]) + int(fields[12])
    return total / _TICK


def tree_user_sys_s(pids: list[int]) -> tuple[float, float]:
    """(utime+cutime, stime+cstime) summed over ``pids``, in seconds."""
    user = system = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            user += int(f[11]) + int(f[13])
            system += int(f[12]) + int(f[14])
    return user / _TICK, system / _TICK


def processes_started() -> int:
    """Processes started on the machine since boot (``processes`` in /proc/stat)."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise KeyError("no processes line in /proc/stat")


def counters() -> tuple[float, float, float, int]:
    """User and system CPU of the process tree, the JIT compiler threads'
    share of it (s), and the machine's count of processes started."""
    pids = tree_pids()
    return (*tree_user_sys_s(pids), jit_cpu_s(pids), processes_started())


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # guest time is already counted in user/nice
    return 100.0 * d[7] / total if total > 0 else 0.0


class RssSampler:
    """Samples the tree's summed RSS on a daemon thread; ``peak`` is the max."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_comm: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total, by_comm = 0, {}
        for pid in tree_pids():
            comm = _comm(pid)
            # a JVM child between fork and exec (the JVM runs chmod/readlink
            # for local file permissions) briefly shows the JVM's whole RSS
            if comm != "java" and not comm.startswith("python"):
                continue
            f = _stat_fields(pid)
            if f is None:
                continue
            rss = int(f[21]) * _PAGE
            total += rss
            by_comm[comm] = by_comm.get(comm, 0) + rss
        self.peak = max(self.peak, total)
        for k, v in by_comm.items():
            self.peak_by_comm[k] = max(self.peak_by_comm.get(k, 0), v)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


class Window:
    """Steal and wall clock over one measured interval."""

    def __enter__(self) -> "Window":
        self.t0 = time.perf_counter()
        self.stat0 = cpu_times()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self.t0
        self.steal_pct = steal_pct(self.stat0, cpu_times())


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``; symlinks are counted, not followed."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            try:
                size += os.lstat(os.path.join(root, n)).st_size
            except OSError:
                pass
    return files, size
