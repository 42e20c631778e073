"""CPU time and peak memory of a process tree, read from ``/proc``.

The tree is the benchmark's driver process and every descendant: the
Spark JVM and the Python workers it forks.  CPU is user+sys of the live
processes plus the children they have reaped, so a worker that exits
inside a window is still charged through its parent.
"""

from __future__ import annotations

import os
import threading

_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")


def _fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat from the state on (None if gone)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu_ms) of one process, or None if it is gone."""
    fields = _fields(pid)
    if fields is None:
        return None
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return int(fields[1]), (utime + stime + cutime + cstime) * _TICK_MS


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) clock ticks of the whole machine so far, from the
    first line of /proc/stat: time a hypervisor gave this machine's CPUs
    to other guests shows up as steal."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _live_pids() -> list[int]:
    return [int(name) for name in os.listdir("/proc") if name.isdigit()]


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``.  Spark's Python daemon moves
    into a process group of its own but stays in the session."""
    out = []
    for pid in _live_pids():
        fields = _fields(pid)
        if fields is not None and int(fields[3]) == sid and fields[0] != "Z":
            out.append(pid)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """Samples the tree rooted at ``root``; ``start``/``stop`` run a
    background thread that keeps the peak of the summed VmHWM of the
    processes that live across two samples."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root = root
        self.interval_s = interval_s
        self.peak_kb = 0
        self.hwm_kb: dict[int, int] = {}  # per process, for the report
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def pids(self) -> list[int]:
        parent: dict[int, int] = {}
        for pid in _live_pids():
            st = _stat(pid)
            if st is not None:
                parent[pid] = st[0]
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_ms(self) -> float:
        total = 0.0
        for pid in self.pids():
            st = _stat(pid)
            if st is not None:
                total += st[1]
        return total

    def sample(self) -> None:
        # count only processes already seen by the previous sample: a
        # short-lived fork (the JVM runs shell helpers) reports its
        # parent's resident size until it execs
        pids = set(self.pids())
        hwm = {p: _hwm_kb(p) for p in pids & self._seen}
        self._seen = pids
        for p, kb in hwm.items():
            self.hwm_kb[p] = max(self.hwm_kb.get(p, 0), kb)
        self.peak_kb = max(self.peak_kb, sum(hwm.values()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, name="proctree", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
