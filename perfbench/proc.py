"""CPU time and memory of this process and the processes it started (the
Spark driver JVM, the Python workers), read from ``/proc``."""

from __future__ import annotations

import os


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(comm_only: str | None = None) -> list[int]:
    """Processes descended from this one, optionally only those whose
    command name is ``comm_only``."""
    parent, comm = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rp = s.rindex(")")
        comm[int(d)] = s[s.index("(") + 1:rp]
        parent[int(d)] = int(s[rp + 2:].split()[1])
    me, out = os.getpid(), []
    for pid in parent:
        p = pid
        while p in parent and p != me and p > 1:
            p = parent[p]
        if p == me and pid != me and comm_only in (None, comm[pid]):
            out.append(pid)
    return out


def cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every process descended from it."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid()] + _descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        fields = s[s.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])
    return total / tick


#: the JVM's JIT compiler threads (``comm`` keeps 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_ticks() -> dict[tuple[int, int], int]:
    """CPU ticks of each live JIT compiler thread of the JVMs started by
    this process, by (pid, tid)."""
    out = {}
    for pid in _descendants("java"):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            if s[s.index("(") + 1:s.rindex(")")].startswith(JIT_THREADS):
                fields = s[s.rindex(")") + 2:].split()
                out[(pid, int(tid))] = int(fields[11]) + int(fields[12])
    return out


def jit_s_since(before: dict[tuple[int, int], int]) -> float:
    """CPU seconds the JIT compiler threads used since ``before``
    (``jit_ticks()``); a thread started since counts from zero."""
    now = jit_ticks()
    return sum(t - before.get(k, 0) for k, t in now.items()) / os.sysconf("SC_CLK_TCK")


def rss_mb(field: str) -> float:
    """``field`` (VmRSS or VmHWM) of this process plus the JVM, in MB."""
    kb = _status_kb(os.getpid(), field) + sum(_status_kb(p, field) for p in _descendants("java"))
    return kb / 1024.0
