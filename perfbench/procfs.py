"""CPU time and resident memory of a process tree, read from /proc,
and stopping every process of the tree.

psutil is not available, so this reads ``/proc/<pid>/stat`` and
``/proc/<pid>/status`` directly. The tree is the benchmark process and
every descendant: the Spark driver JVM, the Python daemon and its
workers, and any job subprocess with its own JVM.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def _stat(pid: int):
    """(ppid, self cpu s, reaped children cpu s, start ticks) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces or parentheses: split after it
    fields = raw[raw.rindex(b")") + 2:].split()
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return (int(fields[1]), (utime + stime) / _TICK,
            (cutime + cstime) / _TICK, int(fields[19]))


def _status_kb(pid: int, key: bytes) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree(root: int | None = None) -> dict[int, tuple]:
    """pid -> _stat() for ``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of the live tree, including children it has reaped.

    Valid as a difference across a job when the tree's processes outlive
    the job (the in-process workloads): a worker that exits is reaped by
    its parent, whose children time then carries it.
    """
    return sum(st[1] + st[2] for st in tree(root).values())


def tree_hwm_mb(root: int | None = None) -> list[float]:
    """Each live process's peak resident set (VmHWM), in MB, the root
    first."""
    return [_status_kb(pid, b"VmHWM:") / 1024 for pid in tree(root)]


class TreeSampler:
    """Polls a short-lived tree (a job subprocess and its JVM).

    CPU is the sum over every process seen of its last-seen own CPU
    time, keyed by (pid, start time) so a reused pid is not merged;
    children times are left out because a reaped child was already
    counted under its own key. Memory is the peak over samples of the
    tree's summed VmRSS. Work a process does after its last sample is
    missed, so poll often.
    """

    def __init__(self, root: int):
        self.root = root
        self.cpu: dict[tuple[int, int], float] = {}
        self.peak_rss_mb = 0.0

    def sample(self):
        rss = 0
        for pid, st in tree(self.root).items():
            self.cpu[(pid, st[3])] = st[1]
            rss += _status_kb(pid, b"VmRSS:")
        self.peak_rss_mb = max(self.peak_rss_mb, rss / 1024)

    @property
    def cpu_s(self) -> float:
        return sum(self.cpu.values())


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process (Linux
    ``PR_SET_CHILD_SUBREAPER``), so that a Python worker whose JVM has
    exited, or the JVM of a finished job subprocess, stays a child this
    process can wait for. Call before starting any."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Wait for every child that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _end(live, term_s: float, kill_s: float) -> bool:
    """Poll ``live()`` (pids) until it is empty, reaping children as
    they exit; SIGTERM what is left after ``term_s``, SIGKILL after
    ``kill_s``. False if any is left 10 s after that."""
    t0 = time.monotonic()
    signalled: dict[int, int] = {}
    while True:
        _reap()
        pids = live()
        if not pids:
            return True
        waited = time.monotonic() - t0
        if waited > kill_s + 10:
            return False
        sig = (signal.SIGKILL if waited >= kill_s
               else signal.SIGTERM if waited >= term_s else None)
        for pid in pids:
            if sig is not None and signalled.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled[pid] = sig
        time.sleep(0.05)


def end_descendants(grace_s: float = 20.0) -> bool:
    """Stop every descendant of this process (SIGTERM, SIGKILL after
    ``grace_s``) and wait until each has ended and been reaped. Needs
    ``become_subreaper()``."""
    me = os.getpid()
    return _end(lambda: [pid for pid in tree(me) if pid != me],
                0.0, grace_s)


def wait_ended(keys, grace_s: float = 30.0) -> bool:
    """Wait until the processes ``keys`` ((pid, start ticks), as
    ``TreeSampler.cpu`` holds them) have ended and, if re-parented
    here, been reaped; SIGKILL any left after ``grace_s``."""
    def live():
        return [pid for pid, start in keys
                if (st := _stat(pid)) is not None and st[3] == start]
    return _end(live, grace_s, grace_s)
