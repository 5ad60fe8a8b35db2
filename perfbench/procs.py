"""The benchmark's process tree, read from ``/proc``: its CPU time, and the
clean-up of any process a run would leave behind."""

from __future__ import annotations

import os
import signal
import time


def _table() -> dict[int, tuple[int, str, float]]:
    """pid -> (parent pid, state, CPU seconds) of every visible process.
    CPU is user plus system time of the process (all its threads) and of
    the children it has reaped, so a worker that exits moves its time to
    its parent rather than out of a tree's sum."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:             # exited while we listed
            continue
        # state, ppid, then utime, stime, cutime, cstime: fields 3, 4 and
        # 14-17 of proc(5)
        out[int(entry)] = (int(fields[1]), fields[0],
                           sum(int(v) for v in fields[11:15]) / tick)
    return out


def _tree(root: int, table) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _state, _cpu) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_seconds(root: int) -> dict[int, float]:
    """CPU seconds of ``root`` and each live descendant, by pid."""
    table = _table()
    return {pid: table[pid][2] for pid in _tree(root, table)}


def stop_descendants(root: int, grace_s: float = 30.0) -> None:
    """Terminate every live descendant of ``root`` and wait until each has
    ended: SIGTERM, then SIGKILL after ``grace_s``. Reaps our own exited
    children on the way."""
    deadline = time.monotonic() + grace_s
    signum = signal.SIGTERM
    tracked: set[int] = set()       # kept once seen: an orphan is reparented
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        table = _table()
        for pid in [root, *tracked]:
            tracked.update(_tree(pid, table))
        tracked.discard(root)
        live = [p for p in tracked if p in table and table[p][1] != "Z"]
        if not live:
            return
        for pid in live:
            try:
                os.kill(pid, signum)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            signum = signal.SIGKILL
        time.sleep(0.5)
