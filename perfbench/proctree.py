"""CPU time and memory of this process and all its descendants, and a
clean stop of them all.

Read from ``/proc``: the benchmark's own Python, the Spark JVM it launches
and the JVM's Python daemon and workers. ``cutime``/``cstime`` carry the CPU
of children that have already been reaped, so a Python worker that exits
between two readings still counts, as long as its parent is in the tree.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree() -> list[int]:
    """This process and every descendant, zombies included."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def become_subreaper() -> None:
    """Have orphaned descendants -- a Python worker whose JVM has already
    exited -- re-parented to this process rather than to init, so that
    ``tree()`` still sees them and ``stop_descendants`` can end them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect every child of this process that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 15.0) -> int:
    """Send SIGTERM to every live descendant, SIGKILL to those still running
    after ``grace_s``, and wait until all have ended and been reaped.
    Returns how many had to be killed."""
    def live() -> list[int]:
        # zombies count until reaped: a JVM's leader thread shows as a
        # zombie while the process's other threads are still running
        _reap()
        return [p for p in tree() if p != os.getpid()]

    def send(pids: list[int], sig: int) -> None:
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass

    # multiprocessing's resource tracker ignores SIGTERM; it ends when the
    # pipe to it closes, which its _stop does before waiting for it
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    pids = live()
    send(pids, signal.SIGTERM)
    deadline = time.monotonic() + grace_s
    while pids and time.monotonic() < deadline:
        time.sleep(0.05)
        pids = live()
    killed = len(pids)
    while pids:
        send(pids, signal.SIGKILL)
        time.sleep(0.05)
        pids = live()
    return killed


def cpu_seconds() -> float:
    """User + system CPU of the tree, reaped children included."""
    ticks = 0
    for pid in tree():
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def pss_bytes() -> int:
    """Proportional set size of the tree: pages shared between the forked
    Python workers count once in total, not once per worker."""
    total = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class MemoryPeak:
    """Samples the tree's memory (PSS) on a background thread while active."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "MemoryPeak":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, pss_bytes())

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_bytes())
            self._stop.wait(self.interval_s)
