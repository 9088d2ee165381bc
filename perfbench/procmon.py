"""Peak memory of a process tree, sampled from /proc in a background thread,
and the stopping of every process a run started.

Memory is the proportional set size (Pss), so pages that forked Python
workers share with their parent are counted once across the tree rather
than once per process.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

PR_SET_CHILD_SUBREAPER = 36


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may contain spaces; fields resume after ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(name))
    return tree


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    tree, todo, total = _children(), [root], 0
    while todo:
        pid = todo.pop()
        total += _pss_kb(pid)
        todo.extend(tree.get(pid, ()))
    return total / 1024.0


class PeakMemory:
    """``start()``, then ``stop()`` and read ``peak_mb``."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if not self._thread.is_alive():
            return
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux), so a
    grandchild whose parent exits first, such as a Python worker of the Spark
    JVM, is re-parented here and ``stop_children`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def stop_children(grace_s: float = 20.0) -> list[int]:
    """Stop every child of this process, adopted orphans included, and wait
    for each to end: SIGTERM first, SIGKILL to those still alive after
    ``grace_s``.  Returns the pids that had to be stopped."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    signalled: dict[int, int] = {}
    while True:
        alive = []
        for pid in _children().get(me, ()):
            try:
                done, _status = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                continue
            if done:
                continue
            alive.append(pid)
            sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
            if signalled.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    continue
                signalled[pid] = sig
        if not alive:
            return sorted(signalled)
        time.sleep(0.05)
