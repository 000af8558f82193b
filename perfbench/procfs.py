"""Host and process-tree readings from /proc: the heap choice, the host
record (cores, RAM, steal share) and the CPU time and RSS of the benchmark's
own process tree (this interpreter, the Spark JVM and its Python workers)."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_gb(total_bytes: int) -> int:
    """Driver heap: a sixth of host RAM, between 1 and 2 GiB, so it never
    exceeds the host whatever its size."""
    return max(1, min(2, total_bytes // 6 // 2**30))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields after it start at ')'
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of root and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [(root, 0)]
    while todo:
        pid, parent = todo.pop()
        out.append((pid, parent))
        todo.extend((child, pid) for child in children.get(pid, ()))
    return out


def tree_pids(root: int) -> list[int]:
    return [pid for pid, _ in _tree(root)]


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the live tree, reaped children included (a reaped
    worker's time moves into its parent's cutime/cstime)."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """(summed RSS of the tree, processes left out). A child whose memory
    counters equal its parent's shares the parent's address space: the JVM
    starts helper processes with posix_spawn, and until they exec they
    would count the whole JVM a second time."""
    statm: dict[int, tuple[int, int]] = {}
    rss = skipped = 0
    for pid, parent in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                size, resident = (int(x) for x in f.read().split()[:2])
        except OSError:
            continue
        statm[pid] = (size, resident)
        if statm.get(parent) == (size, resident):
            skipped += 1
            continue
        rss += resident * _PAGE
    return rss, skipped


class RssSampler:
    """Samples the tree's summed RSS on a daemon thread; `peak` is the
    largest sum seen, `skipped` the processes left out as sharing their
    parent's memory."""

    def __init__(self, root: int, period_s: float = 0.25):
        self.root, self.period_s, self.peak, self.skipped = root, period_s, 0, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss, skipped = tree_rss_bytes(self.root)
            self.peak = max(self.peak, rss)
            self.skipped += skipped
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
