"""Make sure a benchmark run leaves no process behind.

The run marks itself a child subreaper (Linux ``PR_SET_CHILD_SUBREAPER``)
before it starts anything.  A process whose parent ends before it does,
such as a PySpark worker daemon left by the Spark JVM, is then
re-parented to the run instead of to init.  At the end the run stops
and reaps every child it still has, over and over, until it has none.
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


def children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # ended meanwhile
            continue
        # the command name may hold spaces and ')': split after the last
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(name))
    return out


def _reap(pid: int) -> bool:
    try:
        return os.waitpid(pid, os.WNOHANG)[0] == pid
    except ChildProcessError:  # already reaped elsewhere
        return True


def reap_all(grace_s: float = 10.0) -> list[int]:
    """Stop and reap every remaining child: SIGTERM, ``grace_s`` to end,
    then SIGKILL.  Repeats until none is left, since the children of a
    stopped child are re-parented here.  Returns the pids it had to
    stop."""
    stopped = []
    while True:
        pids = [p for p in children() if not _reap(p)]
        if not pids:
            return stopped
        stopped += pids
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + grace_s
            while pids and time.monotonic() < deadline:
                pids = [p for p in pids if not _reap(p)]
                time.sleep(0.05)
            if not pids:
                break
        for p in pids:  # after SIGKILL: wait for the kernel to finish it
            try:
                os.waitpid(p, 0)
            except ChildProcessError:
                pass
