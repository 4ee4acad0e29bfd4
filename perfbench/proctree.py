"""CPU time and resident memory of a process tree, read from /proc.

The tree is the benchmark's driver process and every descendant: the
Spark JVM it launches and the Python workers the JVM forks. CPU time of
a descendant that has exited is still counted, because the kernel folds
it into its parent's ``cutime``/``cstime`` once the parent reaps it.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may contain spaces; the fields after it start past
    # the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _tree() -> dict[str, list[str]]:
    """pid → stat fields (from field 3 on) of this process and its
    descendants."""
    stats, children = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        st = _stat(pid)
        if st is not None:
            stats[pid] = st
            children.setdefault(st[1], []).append(pid)
    out, todo = {}, [str(os.getpid())]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def descendant_pids() -> list[int]:
    """Live (not zombie) descendants of this process."""
    me = str(os.getpid())
    return [int(pid) for pid, st in _tree().items() if pid != me and st[0] != "Z"]


def cpu_seconds() -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    # after the ')' split: utime, stime, cutime, cstime are indexes 11-14
    return sum(sum(int(x) for x in st[11:15]) for st in _tree().values()) / _TICK


def rss_bytes() -> int:
    """Sum of resident set sizes over the live processes of the tree."""
    return sum(int(st[21]) for st in _tree().values()) * _PAGE


class PeakRSS:
    """Samples ``rss_bytes`` on a background thread while used as a
    context manager; ``take()`` returns the peak since the last take."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = rss_bytes()
        with self._lock:
            self._peak = max(self._peak, rss)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def take(self) -> int:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> PeakRSS:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
