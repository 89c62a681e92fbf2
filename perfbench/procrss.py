"""Peak resident memory of this process and every descendant.

The Spark driver JVM is a child of the benchmark process and the Python
workers are children of the JVM, so the process tree rooted here covers all
of them.  :class:`TreeRss` samples ``/proc`` from a daemon thread at a low
rate and keeps two peaks of the summed resident memory: of every process,
and of every process but the JVM, i.e. the Python driver and workers.  The
JVM's share is mostly heap that the collector grows by its own timing, so
it moves from run to run with the host's load; the Python share does not.
Each process counts
its proportional set size (``Pss``): a page shared by n processes counts
1/n in each.  Python workers are forked from one daemon and share most of
their pages with it, so summed plain RSS would count those pages once per
worker and move with the number of workers alive at the sample.

:func:`cpu_ticks` reads the CPUs' busy and stolen time, so a pass can be
timed net of the time a shared host's hypervisor gave to other guests.
"""

from __future__ import annotations

import os
import threading

SAMPLE_INTERVAL_S = 0.2


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name may hold spaces or parens: ppid follows the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Every live descendant pid of ``root`` (not ``root`` itself)."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs since boot.  Busy is user,
    nice, system, irq and softirq time; stolen is time a runnable virtual
    CPU waited while the hypervisor ran another guest."""
    with open("/proc/stat", "rb") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPUs' wanted time stolen between two :func:`cpu_ticks`
    readings."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen else 0.0


def pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid`` (0 once it has ended)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss_bytes(root: int) -> tuple[int, int]:
    """Summed PSS of ``root`` and its descendants: (every process, every
    process but a JVM)."""
    total = python = 0
    for pid in [root, *descendants(root)]:
        # the executable first: a JVM that is exiting loses it before its
        # memory, and must not count as a Python process meanwhile
        try:
            exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
        except OSError:  # the process ended while the tree was read
            continue
        pss = pss_bytes(pid)
        total += pss
        if exe != "java":
            python += pss
    return total, python


class TreeRss:
    """Background sampler of :func:`tree_pss_bytes` for this process."""

    def __init__(self):
        self.peak = 0
        self.peak_python = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total, python = tree_pss_bytes(os.getpid())
        with self._lock:
            self.peak = max(self.peak, total)
            self.peak_python = max(self.peak_python, python)

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self.sample()

    def __enter__(self) -> "TreeRss":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
