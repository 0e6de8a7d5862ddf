"""CPU time of the benchmark's process tree, read from ``/proc``.

The tree is this Python process and every process below it: the Spark
JVM it launched and the JVM's Python workers. CPU time counts the time
the kernel ran those processes; time the machine gave to other work is
not in it.
"""

from __future__ import annotations

import os

_TICK = float(os.sysconf("SC_CLK_TCK"))


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, own + reaped children's CPU seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended
        return None
    # the command name (field 2) may hold spaces; the fields after it do not
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and all
    its live descendants, including children they have already reaped."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _cpu) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total


def _jvm_kind(comm: str) -> str:
    if "CompilerThre" in comm:
        return "jit"
    if comm.startswith(("GC Thread", "G1 ", "VM Thread")):
        return "gc"
    return "other"


def jvm_cpu_by_kind(pid: int) -> dict[str, float]:
    """CPU seconds so far of one JVM's JIT compiler threads (``jit``) and of
    its garbage collector and VM thread (``gc``)."""
    out = {"jit": 0.0, "gc": 0.0}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:  # the thread ended
            continue
        kind = _jvm_kind(raw[raw.index("(") + 1:raw.rindex(")")])
        if kind != "other":
            fields = raw[raw.rindex(")") + 2:].split()
            out[kind] += (int(fields[11]) + int(fields[12])) / _TICK
    return out


def cpu_now(jvm_pid: int) -> dict[str, float]:
    """CPU seconds so far of the whole process tree (``total``) and of the
    JVM's JIT compiler (``jit``) and collector (``gc``) threads."""
    return {"total": tree_cpu_s(), **jvm_cpu_by_kind(jvm_pid)}


def cpu_since(before: dict[str, float], jvm_pid: int) -> dict[str, float]:
    """CPU seconds since ``before`` (a ``cpu_now`` reading), plus ``work``:
    the process tree's CPU time without the JIT compiler's."""
    now = cpu_now(jvm_pid)
    d = {k: now[k] - before[k] for k in now}
    d["work"] = d["total"] - d["jit"]
    return d

