"""CPU time and memory of a process tree, read from /proc.

CPU is utime+stime+cutime+cstime of every live process in the tree, so
a worker that exits and is reaped by its parent stays counted through
the parent's cutime/cstime.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

TICK = os.sysconf("SC_CLK_TCK")
PR_SET_CHILD_SUBREAPER = 36


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after it start at index 2
    return [raw[raw.index("(") + 1:raw.rindex(")")]] + raw[raw.rindex(")") + 2:].split()


def children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children(p))
    return out


def comm(pid: int) -> str:
    st = _stat(pid)
    return st[0] if st else ""


def cpu_s(pids: list[int]) -> float:
    total = 0
    for p in pids:
        st = _stat(p)
        if st:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in st[12:16])
    return total / TICK


def thread_cpu_s(pid: int, name: str) -> float:
    """CPU seconds of the threads of ``pid`` whose name contains ``name``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for t in tids:
        try:
            with open(f"/proc/{pid}/task/{t}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if name in raw[raw.index("(") + 1:raw.rindex(")")]:
            total += sum(int(x) for x in raw[raw.rindex(")") + 2:].split()[11:13])
    return total / TICK


def since_start_s(pid: int | None = None) -> float:
    """Seconds since ``pid`` (default: this process) started."""
    st = _stat(pid or os.getpid())
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - int(st[20]) / TICK


def hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Tree:
    """The benchmark's own process, the JVM it launched and the
    JVM's Python workers."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.jvm = next((c for c in children(self.root) if comm(c) == "java"), None)

    def cpu(self) -> float:
        return cpu_s(tree(self.root))

    def driver_cpu(self) -> float:
        """This Python process plus the JVM itself, workers excluded."""
        return cpu_s([p for p in (self.root, self.jvm) if p])

    def worker_cpu(self) -> float:
        if not self.jvm:
            return 0.0
        return cpu_s(tree(self.jvm)[1:])

    def jit_cpu(self) -> float:
        """CPU of the JVM's JIT compiler threads ("C1 CompilerThre",
        "C2 CompilerThre"); ``env`` keeps them alive for the whole run,
        so no compiler thread's CPU leaves this sum."""
        return thread_cpu_s(self.jvm, "CompilerThre") if self.jvm else 0.0

    def peak_rss_mb(self) -> float:
        return sum(hwm_mb(p) for p in (self.root, self.jvm) if p)


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a Python worker whose JVM has exited
    is re-parented here instead of to init, so ``end_children`` can
    still stop it and wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def end_children(grace_s: float = 10.0, limit_s: float = 30.0) -> list[int]:
    """Stop every descendant of this process and wait until each has
    ended: SIGTERM, then SIGKILL once ``grace_s`` has passed.  Returns
    the pids still alive after ``limit_s`` (none, unless a process
    ignores SIGKILL)."""
    start = time.monotonic()
    while True:
        _reap()
        pids = tree(os.getpid())[1:]
        waited = time.monotonic() - start
        if not pids or waited > limit_s:
            return pids
        sig = signal.SIGTERM if waited < grace_s else signal.SIGKILL
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
