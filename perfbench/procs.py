"""Process hygiene for one benchmark run.

A run starts the JVM, and the JVM starts PySpark's Python worker daemon,
which forks the workers. When the JVM exits, the daemon and its workers
shut down on their own, but asynchronously: without care they can still
be alive after the run has printed its result and exited.

``adopt_orphans`` makes the run the child subreaper of everything it
starts, so a process orphaned by the JVM's exit becomes the run's own
child instead of init's. ``stop_all`` then waits for every descendant to
end (signalling the stragglers) and reaps each one, so no process of the
run outlives it.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Become the subreaper of this process's descendants (Linux)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while we looked
            continue
        # the command name may hold spaces and parentheses: split after it
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(entry))
    found, todo = [], [root]
    while todo:
        for pid in children.get(todo.pop(), []):
            found.append(pid)
            todo.append(pid)
    return found


def reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(grace: float = 10.0, term: float = 5.0) -> list[int]:
    """Wait until no descendant of this process is left.

    Descendants get ``grace`` seconds to end on their own, then SIGTERM,
    and SIGKILL ``term`` seconds later. Returns the pids that had to be
    signalled."""
    start = time.perf_counter()
    signalled: set[int] = set()
    while True:
        reap()
        left = descendants(os.getpid())
        if not left:
            return sorted(signalled)
        waited = time.perf_counter() - start
        if waited > grace:
            sig = signal.SIGKILL if waited > grace + term else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    continue
                signalled.add(pid)
        time.sleep(0.05)
