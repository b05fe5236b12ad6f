"""Process-tree bookkeeping for the benchmark: find every process a run
started, sample their summed resident memory, and kill and reap them.

The runner registers itself as a child subreaper, so a process whose
parent exits (the JVM outliving its launcher, a PySpark worker outliving
its daemon) is re-parented to the runner instead of to init. Every
process a run started is therefore a descendant of the runner until it
has been reaped.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def become_subreaper() -> None:
    """prctl(PR_SET_CHILD_SUBREAPER): orphans of our descendants become
    our children, so ``reap`` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    libc.prctl(36, 1, 0, 0, 0)


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces or parens; fields resume after
        # the last ')'
        fields = stat[stat.rfind(b")") + 2:].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int) -> set[int]:
    """Live descendants of ``root`` (not including it)."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    found, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in found:
                found.add(c)
                todo.append(c)
    return found


def tree_rss_bytes(root: int) -> int:
    """Summed resident set size of ``root`` and all its descendants."""
    total = 0
    for pid in descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(b")") + 2:][:1] != b"Z"


def reap() -> None:
    """Collect every exited child (ours or re-parented to us)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_all(timeout: float = 20.0) -> set[int]:
    """SIGTERM, then SIGKILL, every descendant of this process; wait until
    each has ended. Returns the pids still alive at the deadline (empty on
    success)."""
    me = os.getpid()
    victims = descendants(me)
    for sig, grace in ((signal.SIGTERM, 3.0), (signal.SIGKILL, timeout)):
        for pid in victims:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while True:
            reap()
            victims = {p for p in victims | descendants(me) if _alive(p)}
            if not victims or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not victims:
            break
    reap()
    return victims
