"""Process bookkeeping for a benchmark run (Linux ``/proc``).

``run.py`` makes itself a child subreaper, so every process a run
starts stays its descendant even after that process's parent exits:
the JVM after the Spark driver process, the PySpark daemon (which moves
itself into a process group of its own) and its workers after the JVM,
and multiprocessing's resource tracker after the input generator.  At
the end of a run ``stop_descendants`` gives them a grace period, kills
what is left and reaps every one, so nothing outlives the run.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, not to
    init, so that it can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stat_fields(pid: str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name: state, ppid,
    pgrp, session, ..."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def descendants(root: int, live_only: bool = False) -> list[int]:
    """Pids of every process below ``root``; with ``live_only``, leave
    out zombies."""
    children: dict[int, list[int]] = {}
    zombie = set()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            fields = _stat_fields(d)
        except (OSError, IndexError):
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
        if fields[0] in ("Z", "X"):
            zombie.add(int(d))
    out, frontier = [], [root]
    while frontier:
        kids = children.get(frontier.pop(), [])
        out += kids
        frontier += kids
    return [p for p in out if not (live_only and p in zombie)]


def _reap_exited() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float) -> None:
    """Let this process's descendants end on their own for ``grace_s``,
    SIGKILL the rest, and reap them all before returning."""
    me = os.getpid()
    deadline = time.time() + grace_s
    while descendants(me, live_only=True) and time.time() < deadline:
        _reap_exited()
        time.sleep(0.05)
    while True:
        live = descendants(me, live_only=True)
        for pid in live:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _reap_exited()
        if not descendants(me):
            return
        time.sleep(0.05)
