"""Out-of-process accounting through ``/proc`` (no psutil).

CPU of a process tree is read, never estimated: for every live process
under the root (zombies included) ``utime + stime + cutime + cstime``.
A child that exits is folded into its parent's ``cutime``/``cstime`` when
the parent reaps it, and from then on is no longer listed itself, so a
Python worker that exits mid-run counts exactly once. Deltas of two
snapshots give the CPU of everything the tree did in between.

``ThreadSampler`` covers what the kernel does not sum for us: CPU of the
JVM's JIT and GC threads (by ``/proc/<jvm>/task/*/comm``) and the number of
distinct Python worker processes seen.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:            # the process or thread is gone
        return None
    # comm may contain spaces and parentheses: split after the last ')'
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(f"/proc/{name}/stat")
        if f is not None:
            # fields after comm: state=1, ppid=2
            kids.setdefault(int(f[2]), []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def proc_cpu_s(pid: int) -> float:
    """Own plus reaped-children CPU seconds of one process."""
    f = _stat_fields(f"/proc/{pid}/stat")
    if f is None:
        return 0.0
    # utime=13, stime=14, cutime=15, cstime=16 (1-based stat fields);
    # f[0] is comm, f[1] is stat field 3 (state)
    return sum(int(x) for x in f[12:16]) / _TICK


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root``'s whole process tree, each process once."""
    return sum(proc_cpu_s(p) for p in tree_pids(root))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (``VmHWM``) of one process, in MiB."""
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def find_child(root: int, comm: str) -> int | None:
    """First descendant of ``root`` whose comm is ``comm``."""
    for pid in tree_pids(root):
        f = _stat_fields(f"/proc/{pid}/stat")
        if pid != root and f is not None and f[0] == comm:
            return pid
    return None


def _is_jit(comm: str) -> bool:
    return comm.startswith(("C1 CompilerThre", "C2 CompilerThre"))


def _is_gc(comm: str) -> bool:
    return comm.startswith(("GC Thread", "ParGC", "G1 ", "VM Thread"))


class ThreadSampler:
    """Samples, every ``period`` seconds, the JVM's JIT/GC thread CPU and
    the Python processes under the JVM. Per-thread CPU is cumulative, so
    the last sample of each thread id is kept: a compiler thread that
    exits between samples loses at most one period of CPU."""

    def __init__(self, jvm_pid: int, period: float = 0.25):
        self.jvm = jvm_pid
        self.period = period
        self._first: dict[int, float] = {}
        self._last: dict[int, tuple[str, float]] = {}
        self.python_pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self, first: bool = False) -> None:
        task_dir = f"/proc/{self.jvm}/task"
        try:
            tids = os.listdir(task_dir)
        except OSError:
            return
        for tid in tids:
            f = _stat_fields(f"{task_dir}/{tid}/stat")
            if f is None:
                continue
            cpu = (int(f[12]) + int(f[13])) / _TICK
            t = int(tid)
            if first:
                self._first[t] = cpu
            self._last[t] = (f[0], cpu)
        for pid in tree_pids(self.jvm):
            f = _stat_fields(f"/proc/{pid}/stat")
            if f is not None and f[0].startswith("python"):
                self.python_pids.add(pid)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self) -> "ThreadSampler":
        self._sample(first=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def _delta(self, pick) -> float:
        return sum(cpu - self._first.get(t, 0.0)
                   for t, (comm, cpu) in self._last.items() if pick(comm))

    def jit_cpu_s(self) -> float:
        return self._delta(_is_jit)

    def gc_cpu_s(self) -> float:
        return self._delta(_is_gc)
