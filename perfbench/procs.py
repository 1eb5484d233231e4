"""Every process a run starts has ended before the run does.

A run starts the driver JVM (which starts the Python worker daemon and
its forked workers), the harness process and multiprocessing's resource
tracker. Stopping the JVM does not wait for the worker daemon, which
then exits on its own a moment later, orphaned. `become_subreaper()`
makes such orphans children of this process; `reap()`, called last,
waits for every descendant to end and kills what is left after a grace
period.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    try:
        ctypes.CDLL(None, use_errno=True).prctl(
            PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def exit_on_sigterm() -> None:
    """A SIGTERM raises SystemExit, so the run's finally blocks stop the
    JVM and reap() still runs."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))


def _table() -> dict:
    """{pid: (ppid, state)} of every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rpartition(")")[2].split()
        except OSError:
            continue
        out[int(d)] = (int(rest[1]), rest[0])
    return out


def descendants(pid: int | None = None) -> dict:
    """{pid: state} of every descendant of `pid` (default: this process)."""
    table = _table()
    children: dict = {}
    for p, (pp, _st) in table.items():
        children.setdefault(pp, []).append(p)
    found, todo = {}, [pid or os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in found:
                found[c] = table[c][1]
                todo.append(c)
    return found


def _wait_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap(grace_s: float = 30.0) -> list:
    """Stop multiprocessing's resource tracker, wait up to `grace_s` for
    every descendant to end, SIGKILL the rest and wait for those too.
    Returns the pids that had to be killed."""
    from multiprocessing import resource_tracker

    try:
        resource_tracker._resource_tracker._stop()
    except Exception:
        pass
    deadline = time.monotonic() + grace_s
    killed: list = []
    while True:
        _wait_children()
        left = descendants()
        if not left:
            return killed
        if time.monotonic() > deadline:
            for p, st in left.items():
                if st != "Z" and p not in killed:
                    try:
                        os.kill(p, signal.SIGKILL)
                        killed.append(p)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)
