"""Process-tree CPU and memory, read from ``/proc``.

The engine runs as three kinds of process: this Python process, the JVM it
launches, and the Python workers the JVM forks. CPU and resident memory
are summed over the whole tree rooted at this process.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rfind(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields:
                children.setdefault(int(fields[1]), []).append(int(pid))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the tree, including reaped children.

    A process that ends between two readings moves its time into its
    parent's ``cutime``/``cstime`` when reaped, so a difference of two
    readings counts it once.
    """
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(str(pid))
        if fields:
            # fields[11..14] = utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    among the processes that map it, so forked Python workers sharing
    their parent's pages are not counted twice in a sum."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process ended, or the kernel has no rollup
        pass
    return 0


def tree_resident_bytes(root: int | None = None) -> int:
    return sum(_pss_bytes(pid) for pid in tree_pids(root))


def host_steal_share(since: tuple[int, int] | None = None) -> tuple[int, int] | float:
    """Share of host CPU time stolen by the hypervisor. Without ``since``,
    returns a ``(steal, total)`` tick reading; with one, the share since it."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    now = (ticks[7], sum(ticks))
    if since is None:
        return now
    return (now[0] - since[0]) / max(1, now[1] - since[1])


class PeakRss:
    """Samples the tree's summed resident memory (PSS) every ``interval``
    seconds on a background thread while the ``with`` block runs."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_resident_bytes())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_resident_bytes())
