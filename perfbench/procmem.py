"""Peak summed memory of a process tree, sampled from /proc.

The benchmark process starts the driver JVM, which starts the Python
worker daemon, which forks the workers; their summed memory is what the
host pays for a run. psutil is not available, so the sampler walks /proc
itself: one pass maps every pid to its parent, then the proportional set
size (Pss in smaps_rollup) of the root pid and every descendant is summed.
Pss is the resident set with each shared page split among the processes
sharing it; summed RSS would count the daemon's copy-on-write pages once
per forked worker, and the number of live workers varies from run to run.
"""

from __future__ import annotations

import os
import threading

def _parents() -> dict[int, int]:
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process exited between listdir and open
            continue
        # the command name is parenthesised and may contain spaces
        fields = stat[stat.rindex(b")") + 2:].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process exited
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    """Summed Pss of ``root`` and all its descendants."""
    return sum(_pss_bytes(pid) for pid in [root, *descendants(root)])


class PeakPss:
    """Background sampler of this process tree's summed Pss.

    Use as a context manager; ``peak_mb`` holds the highest sample seen.
    """

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="peak-pss")

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)
