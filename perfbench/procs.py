"""Every process a run starts has ended before the run does.

Stopping Spark only signals the Python worker daemons its JVM started (each
in a process group of its own), and a build child's fork pool can outlive
the child; left alone, such orphans pass to init and may still be running
after the run has exited.  With this process as their child subreaper they
pass to it instead, and ``reap`` waits for every one of them.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

_PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h


def adopt_orphans() -> None:
    """Make this process the parent of every orphaned descendant."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def parent_of(stat: str) -> int:
    """The parent pid in a /proc/<pid>/stat line (the name, in
    parentheses, may itself hold spaces and parentheses)."""
    return int(stat.rsplit(")", 1)[1].split()[1])


def children() -> list[int]:
    """Pids of this process's children, zombies included."""
    me = os.getpid()
    kids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # ended meanwhile
            continue
        if parent_of(stat) == me:
            kids.append(int(name))
    return kids


def _collect() -> None:
    """Reap every child that has already ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap(grace_s: float = 30.0, signal_s: float = 10.0) -> None:
    """Wait until this process has no child left.  Children still running
    after ``grace_s`` get SIGTERM, and SIGKILL ``signal_s`` later."""
    steps = [(grace_s, signal.SIGTERM), (signal_s, signal.SIGKILL),
             (signal_s, None)]
    deadline = time.monotonic() + steps[0][0]
    while True:
        _collect()
        kids = children()
        if not kids:
            return
        if time.monotonic() >= deadline:
            _, sig = steps.pop(0)
            if sig is None:
                print(f"perfbench: processes {kids} did not end",
                      file=sys.stderr)
                return
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + steps[0][0]
        time.sleep(0.02)
