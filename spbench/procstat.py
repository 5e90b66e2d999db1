"""Process-tree CPU and memory, host load, read from /proc.

The tree is this Python driver, the JVM it launched and the Python
workers the JVM forks. psutil is not assumed to be installed.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_PERIOD_S = 0.2   # RssSampler's sampling period


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the last ')'
    return s[s.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """root and every live descendant."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        f = _stat_fields(int(d))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def cpu_s(pids: list[int]) -> float:
    """utime + stime (+ reaped children) of the given processes."""
    tot = 0
    for p in pids:
        f = _stat_fields(p)
        if f is not None:
            tot += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return tot / _TICK


def jit_cpu_s(pids: list[int]) -> float:
    """utime + stime of the JVM's JIT compiler threads ("C1/C2
    CompilerThread"): warm-up work, reported apart from the program's."""
    tot = 0
    for p in pids:
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/stat") as fh:
                    s = fh.read()
            except OSError:
                continue
            if s[s.index("(") + 1:].startswith(("C1 CompilerThre",
                                                 "C2 CompilerThre")):
                fields = s[s.rindex(")") + 2:].split()
                tot += int(fields[11]) + int(fields[12])
    return tot / _TICK


def rss_mb(pids: list[int]) -> float:
    """Summed RSS of the given processes, each address space once. A
    child the JVM is spawning shares the JVM's address space until it
    execs (vfork), and a just-forked Python worker still maps only its
    parent's pages; either reads as a second copy of its parent, so a
    process whose parent has the same vsize, code start and stack start
    is left out."""
    fields = {p: _stat_fields(p) for p in pids}
    pages = 0
    for f in fields.values():
        if f is None:
            continue
        up = fields.get(int(f[1]))
        # stat fields 23 (vsize), 26 (startcode), 28 (startstack);
        # _stat_fields starts at field 3
        if up is not None and (f[20], f[23], f[25]) == (up[20], up[23], up[25]):
            continue
        pages += int(f[21])  # field 24: rss, in pages
    return pages * _PAGE / 2**20


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_counters() -> tuple[int, int]:
    """(total, steal) jiffies of the host."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


class RssSampler:
    """Background sampler of the tree's summed RSS (rss_mb); peak_mb
    holds the highest sum seen between start() and stop()."""

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(tree_pids(self.root)))
            self._stop.wait(RSS_PERIOD_S)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb
