"""CPU time and peak memory of a whole process tree, read from /proc.

Spark runs a JVM under the Python process that uses it and Python workers under the JVM, and
it reaps idle workers while a run goes on. Summing ``utime + stime`` of
the processes alive at two instants can therefore go *down*: the CPU of
a worker that exited between the reads vanishes. Adding
``cutime + cstime`` fixes that, because a reaped child's time moves into
its parent's ``cutime``/``cstime``. Memory is each process's ``VmHWM``
(its own peak resident set), summed over the live tree and maximised
over the samples a caller takes.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, utime+stime+cutime+cstime in ticks), or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    fields = data[data.rindex(b")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(root: int | None = None) -> float:
    """Core-seconds used so far by the tree, reaped children included."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            total += st[1]
    return total / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def hwm_mb(root: int | None = None) -> float:
    """Sum of per-process peak RSS over the live tree, in MB."""
    return sum(_hwm_kb(pid) for pid in tree(root)) / 1024.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Running maximum of ``hwm_mb`` over the samples taken; ``parts``
    is the per-process breakdown ``[(command, MB)]`` at the peak."""

    def __init__(self):
        self.peak_mb = 0.0
        self.parts: list[tuple[str, float]] = []

    def sample(self) -> float:
        parts = [(_comm(pid), _hwm_kb(pid) / 1024.0) for pid in tree()]
        total = sum(mb for _c, mb in parts)
        if total > self.peak_mb:
            self.peak_mb, self.parts = total, parts
        return self.peak_mb


def reap_descendants(timeout_s: float = 30.0) -> list[int]:
    """Wait for every descendant of this process to end; after
    ``timeout_s`` terminate (then kill) the ones left. Returns the pids
    that had to be signalled."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        _reap_children()
        left = [p for p in tree(me) if p != me]
        if not left:
            return []
        time.sleep(0.1)
    left = [p for p in tree(me) if p != me]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(1.0)
    _reap_children()
    return left


def _reap_children():
    """Collect exit statuses of this process's own ended children, so
    they do not linger as zombies in the tree."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
