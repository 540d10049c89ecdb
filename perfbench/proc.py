"""CPU time of this process and everything it started, read from ``/proc``.

The benchmark's end-to-end costs are CPU times. On a shared virtual machine
the kernel leaves out of a process's CPU time both the time it waited for a
CPU and the time the hypervisor stole from the virtual CPU, so these stay
near the work done where a wall clock stretches with the neighbours' load.

The JVM's JIT compiler threads are left out. For the first few dozen runs
of a query they burn more CPU than the query itself, in bursts that land on
whichever query runs when a compile finishes, and they fall to nothing once
the code is compiled. What is left is the program: the task threads, the
driver, garbage collection and the Python processes.
"""

from __future__ import annotations

import os

_TICKS_PER_S = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[bytes]] | None:
    """The command name and the fields after it of a ``stat`` file."""
    try:
        with open(path, "rb") as fh:
            raw = fh.read()
    except OSError:  # exited while listing
        return None
    cut = raw.rindex(b")")
    return raw[raw.index(b"(") + 1:cut].decode(errors="replace"), raw[cut + 2:].split()


def _ticks(fields: list[bytes], children: bool) -> int:
    # Fields after the command name: state, ppid, ..., utime (11), stime,
    # cutime, cstime (14).
    own = int(fields[11]) + int(fields[12])
    return own + int(fields[13]) + int(fields[14]) if children else own


def jit_cpu_s(pid: int) -> float:
    """CPU seconds spent so far by the JIT compiler threads of JVM ``pid``.
    The JVM must keep them alive (``-XX:-UseDynamicNumberOfCompilerThreads``),
    or the time of one that exits is lost from this sum."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st and "CompilerThre" in st[0]:
            ticks += _ticks(st[1], children=False)
    return ticks / _TICKS_PER_S


def tree_cpu_s(jvm: int | None = None) -> float:
    """CPU seconds, user and system, spent so far by this process and every
    live process below it, less the JIT compiler threads of the JVM ``jvm``
    if given. Each process counts the children it has reaped, so a worker
    that exits moves its time into its parent's and nothing is lost."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(f"/proc/{name}/stat")
        if st is None:
            continue
        pid = int(name)
        kids.setdefault(int(st[1][1]), []).append(pid)
        ticks[pid] = _ticks(st[1], children=True)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICKS_PER_S - (jit_cpu_s(jvm) if jvm is not None else 0.0)
