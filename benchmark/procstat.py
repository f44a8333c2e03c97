"""Process-tree CPU, peak RSS and host steal, read from /proc.

psutil is not installed, so the benchmark reads the kernel's files itself:

- CPU: utime + stime + cutime + cstime of the benchmark process and every
  live descendant (the Spark JVM, its Python daemon and the per-task
  workers). A worker that has exited and been reaped is still counted,
  through its parent's cutime/cstime.
- RSS: the summed resident set of the same tree, sampled by a thread.
- steal: the share of all CPU jiffies in /proc/stat that the hypervisor
  gave to other guests over a window.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> list[list[str]]:
    """/proc/<pid>/stat fields (from the state field on) of root and all
    its live descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None:
            continue
        pid = int(name)
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by root's process tree, reaped children
    included."""
    total = 0
    for f in _tree(root or os.getpid()):
        # fields 14-17 of stat(5) are utime stime cutime cstime; the list
        # here starts at field 3
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    return sum(int(f[21]) for f in _tree(root or os.getpid())) * _PAGE / 2**20


def steal_jiffies() -> tuple[int, int]:
    """(steal, all) jiffies summed over the host's CPUs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    busy = end[1] - start[1]
    return (end[0] - start[0]) / busy if busy > 0 else 0.0


class RssSampler:
    """Samples the process tree's RSS on a daemon thread and keeps the
    peak. Use as a context manager around the whole run."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
