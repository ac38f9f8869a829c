"""CPU and resident memory of a process tree, read from ``/proc``.

The tree is the driver Python, the JVM it launched and the JVM's Python
workers. A live process's own CPU is in its ``utime``/``stime``; a child
that exited and was reaped moved its CPU into the parent's
``cutime``/``cstime``. Summing all four over the live tree therefore
counts each CPU second once, and a delta between two snapshots is the
tree's CPU over that interval even when workers come and go.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu s, reaped-children cpu s) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    lp, rp = s.index("("), s.rindex(")")
    rest = s[rp + 2 :].split()
    # fields 14-17 (1-based) of stat: utime stime cutime cstime
    own = (int(rest[11]) + int(rest[12])) / _TICK
    reaped = (int(rest[13]) + int(rest[14])) / _TICK
    return s[lp + 1 : rp], int(rest[1]), own, reaped


def tree(root: int) -> dict[int, tuple[str, int, float, float]]:
    """pid → stat of ``root`` and every live descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    keep, frontier = {}, [root]
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[1], []).append(pid)
    while frontier:
        pid = frontier.pop()
        if pid in stats and pid not in keep:
            keep[pid] = stats[pid]
            frontier.extend(children.get(pid, ()))
    return keep


def cpu_split(root: int) -> dict[str, float]:
    """Cumulative CPU seconds of the tree, split into the driver Python,
    the JVM and the JVM's Python workers. CPU the JVM's reaped children
    left in its ``cutime`` is worker CPU: the JVM's children are the
    worker daemon and the data-source planner runners."""
    procs = tree(root)
    jvms = {pid for pid, st in procs.items() if st[0] == "java"}
    out = {"driver_python": 0.0, "jvm": 0.0, "python_worker": 0.0}
    for pid, (_, ppid, own, reaped) in procs.items():
        if pid in jvms:
            out["jvm"] += own
            out["python_worker"] += reaped
        elif _under(pid, jvms, procs):
            out["python_worker"] += own + reaped
        else:
            out["driver_python"] += own + reaped
    return out


def _under(pid: int, ancestors: set[int], procs: dict) -> bool:
    while pid in procs:
        pid = procs[pid][1]
        if pid in ancestors:
            return True
    return False


def rss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the tree's summed RSS on a thread; ``peak`` is the maximum."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root, self.interval_s, self.peak = root, interval_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
