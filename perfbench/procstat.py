"""Process-tree CPU and memory read from ``/proc`` (psutil is not installed).

The tree is this process plus every live descendant: the Spark JVM and
its Python workers. CPU of a descendant that already exited is counted
through its parent's ``cutime``/``cstime`` once the parent reaps it.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _tree() -> list[tuple[str, list[str]]]:
    """(pid, stat fields after the command name) of this process tree."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[pid] = st
    root = str(os.getpid())
    members, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        if pid in stats:
            members.append((pid, stats[pid]))
            frontier.extend(p for p, st in stats.items() if st[1] == pid)
    return members


def tree_pids() -> list[str]:
    return [pid for pid, _ in _tree()]


def tree_cpu_s() -> float:
    """User plus system CPU seconds of the whole tree so far."""
    # fields after the name: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    return sum(sum(int(st[i]) for i in (11, 12, 13, 14)) for _, st in _tree()) / _TICK


def tree_pss_bytes() -> int:
    """Proportional set size of the whole tree: resident memory with each
    shared page split among the processes that map it, so the Python
    workers forked from one daemon are not counted once per worker."""
    total = 0
    for pid, _ in _tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process exited since the listing
            pass
    return total


class PeakMemory:
    """Samples the tree's PSS on a daemon thread; ``stop()`` returns the peak."""

    def __init__(self, interval_s: float = 0.5):
        self.peak = 0
        self._interval = interval_s
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-pss", daemon=True)

    def start(self) -> "PeakMemory":
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._done.wait(self._interval):
            self.peak = max(self.peak, tree_pss_bytes())

    def stop(self) -> int:
        self._done.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes())
        return self.peak
