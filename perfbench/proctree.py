"""CPU time and proportional resident memory of a process tree, read
from /proc.

The tree is this process and every descendant: for a Spark run that is
the driver python, the JVM it launched, the python worker daemon and its
forked workers.  CPU counts each live process's user+system time plus
the time of children it has already reaped (cutime/cstime), so workers
that exit inside the timed section are still counted once their parent
reaps them.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
SAMPLE_INTERVAL_S = 0.1


def _read_stat(pid: int) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces: fields start after the last ')'
    close = raw.rfind(")")
    return raw[raw.find("(") + 1:close], raw[close + 2:].split()


def process_start_boottime(pid: int | None = None) -> float:
    """Start time of a process in seconds since boot (CLOCK_BOOTTIME)."""
    st = _read_stat(pid or os.getpid())
    if st is None:
        raise OSError(f"no /proc entry for pid {pid}")
    return int(st[1][19]) / _TICK


def boottime() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def tree_pids(root: int) -> list[int]:
    """root and its descendants."""
    children: dict[int, list[int]] = {}
    live = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _read_stat(int(name))
        if st is not None:
            live.add(int(name))
            children.setdefault(int(st[1][1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in live:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        st = _read_stat(pid)
        if st is not None:
            f = st[1]
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def pss_bytes(pid: int) -> int:
    """Proportional set size of one process: each resident page counted
    as its size divided by the number of processes mapping it, so pages
    the forked python workers share copy-on-write with their daemon (and
    a child sharing its parent's memory) are counted once in a sum."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    return sum(pss_bytes(pid) for pid in tree_pids(root))


class PeakMemory:
    """Samples the tree's summed PSS on a background thread while active."""

    def __init__(self, root: int):
        self._root = root
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak = 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self._root))
            self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self) -> PeakMemory:
        self.peak = tree_pss_bytes(self._root)
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(self._root))
