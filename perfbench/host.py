"""Host context and process-tree resource readings, all from ``/proc``.

``cpu_stat``/``pcts`` are copied from the repository's ``bench.py`` (not
imported: the benchmark must not depend on that script's module state), so
every run records how busy the host was and how much CPU was stolen from it.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def pcts(stat0: list[int], stat1: list[int]) -> tuple[float | None, float]:
    d = [b - a for a, b in zip(stat0, stat1)]
    tot = sum(d) or 1
    steal = round(100.0 * d[7] / tot, 2) if len(d) > 7 else None
    busy = round(100.0 * (tot - d[3]) / tot, 2)
    return steal, busy


def _proc_stats() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # the process ended while we listed /proc
        fields = raw[raw.rfind(")") + 2:].split()
        # fields[0] is state (stat field 3); utime..cstime are fields 14-17,
        # rss is field 24
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (int(fields[1]), ticks, int(fields[21]))
    return out


def _tree(stats: dict[int, tuple[int, int, int]], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            seen.append(pid)
        todo.extend(kids.get(pid, ()))
    return seen


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user+system, reaped children included) of ``root`` and
    every descendant: the driver, the JVM and the Python workers."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _tree(stats, root or os.getpid())) / _CLK


def tree_rss_mb(root: int | None = None) -> float:
    stats = _proc_stats()
    pages = sum(stats[p][2] for p in _tree(stats, root or os.getpid()))
    return pages * _PAGE / (1 << 20)


class RssSampler:
    """Polls the process tree's resident memory on a thread; ``peak_mb``
    is the highest sum seen while running."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _identity(pid: int) -> tuple[str, str] | None:
    """(state, start time) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rfind(")") + 2:].split()
    return fields[0], fields[19]  # stat fields 3 and 22


def descendants() -> dict[int, str]:
    """pid -> start time of every live process below this one.  The start
    time tells a reused pid apart from the process that was seen."""
    me = os.getpid()
    out = {}
    for pid in _tree(_proc_stats(), me):
        ident = _identity(pid)
        if pid != me and ident is not None:
            out[pid] = ident[1]
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _alive(pid: int, start: str) -> bool:
    ident = _identity(pid)
    if ident is None or ident[1] != start:
        return False
    if ident[0] != "Z":
        return True
    # the leader of a multi-threaded process (the JVM) shows as a zombie
    # once its own thread ends, while the other threads still run; the
    # process has ended only when every thread has
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return False
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.rfind(")") + 2] != "Z":
            return True
    return False


def end_descendants(known: dict[int, str], grace_s: float = 30.0) -> list[int]:
    """Wait until every process in ``known``, and every process started
    below this one meanwhile, has ended.  Processes still running after
    ``grace_s`` get SIGTERM, then SIGKILL.  ``known`` should be taken while
    the tree is intact: a worker whose parent exits is re-parented away
    from this process and no longer shows among its descendants.
    Returns the pids that had to be signalled."""
    known = dict(known)
    signalled = []
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            for pid, start in known.items():
                if _alive(pid, start):
                    try:
                        os.kill(pid, sig)
                        signalled.append(pid)
                    except OSError:
                        pass
        end = time.monotonic() + wait_s
        while True:
            known.update(descendants())
            _reap()
            live = [p for p, s in known.items() if _alive(p, s)]
            if not live:
                return signalled
            if time.monotonic() >= end:
                break
            time.sleep(0.05)
    raise RuntimeError(f"processes {live} did not end after SIGKILL")
