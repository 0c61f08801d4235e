"""Resources of this process and the processes it started, read from
``/proc``: peak resident memory and CPU time."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name, which may
    hold spaces: index 1 is the parent pid, 11-14 utime, stime, cutime,
    cstime."""
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    return stat[stat.rindex(")") + 2:].split()


def _processes() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                out[int(name)] = _stat(int(name))
            except OSError:
                pass  # exited between listing and reading
    return out


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Sum of the kernel's resident-set high-water marks (VmHWM) of this
    process and its direct children (the Spark JVM), in MB. The JVM's
    own children, pyspark's Python worker pool, are left out: how many
    workers are alive at an instant depends on task scheduling, not on
    the engine's data. Call it while the children still run."""
    me = os.getpid()
    total = _hwm_kb(me)
    for pid, st in _processes().items():
        if int(st[1]) == me:
            try:
                total += _hwm_kb(pid)
            except OSError:
                pass  # a child that already exited holds no memory
    return total / 1024.0


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads. The JVM must keep them
    alive (``-XX:-UseDynamicNumberOfCompilerThreads``), or the time of
    one that exits stays in the process total and leaves this sum."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
            total += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:13])
    return total


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants, the JVM's Python workers included, less the JVM's
    JIT compiler threads: JIT time is the JVM warming up, not the
    engine's work, and it swings with when methods turn hot. Children
    that exited count through their parent's ``cutime``/``cstime``."""
    procs = _processes()
    kids: dict[int, list[int]] = {}
    for pid, st in procs.items():
        kids.setdefault(int(st[1]), []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        st = procs.get(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
            try:
                total -= _jit_ticks(pid)
            except OSError:
                pass  # exited since the listing
        todo += kids.get(pid, [])
    return total / _TICK
