"""Every process a run starts ends before the run does.

The run makes itself a child subreaper, so processes whose parent dies
first (the pyspark daemon and its workers, once the Spark JVM has exited)
are re-parented to it instead of to init. ``stop_all`` then stops the
multiprocessing resource tracker, signals whatever descendants are left and
reaps each one, so none outlives the run.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants(root: int) -> list[int]:
    """Live pids below ``root`` in the process tree (zombies excluded)."""
    parent, state = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(entry)], state[int(entry)] = int(fields[1]), fields[0]
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        kids = [p for p, pp in parent.items() if pp == pid]
        out.extend(p for p in kids if state[p] != "Z")
        frontier.extend(kids)
    return out


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_resource_tracker() -> None:
    """Close the tracker's pipe and wait for it (it ignores SIGTERM)."""
    from multiprocessing import resource_tracker

    tracker = resource_tracker._resource_tracker
    if getattr(tracker, "_pid", None) is not None:
        tracker._stop()


def stop_all(grace_s: float = 10.0) -> list[int]:
    """Stop every descendant of this process and wait until each has ended:
    SIGTERM first, SIGKILL for any still alive after ``grace_s``.
    -> the pids that had to be signalled."""
    _stop_resource_tracker()
    me = os.getpid()
    signalled: list[int] = []
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        _reap()
        left = descendants(me)
        if not left:
            _reap()
            return signalled
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            if pid not in signalled or sig == signal.SIGKILL:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    continue
                if pid not in signalled:
                    signalled.append(pid)
        time.sleep(0.05)
