"""Process-tree CPU and RSS from ``/proc`` (Linux).

The measured process is a Python driver with a JVM child, which in
turn forks the PySpark daemon and its Python workers. The tree's CPU
time is the sum over its live processes of utime + stime plus cutime +
cstime, the time of children already reaped.

Its resident memory is the JVM's RSS plus, for every other process,
its PSS (``/proc/<pid>/smaps_rollup``): the RSS with each shared page
divided among the processes sharing it. Python workers are forked from
one daemon and share most of their pages with it, so a plain RSS sum
counts those pages once per worker and jumps whenever a worker is
forked. The JVM shares nothing with the rest of the tree, and reading
its PSS would walk the page tables of its whole heap (tens of ms with
the process's memory map locked), so its RSS is read from ``statm``.

The parsing and the arithmetic are plain functions so that tests can
feed them fixed ``/proc`` text.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1 << 20)


def parse_stat(text: str) -> tuple[int, int]:
    """``/proc/<pid>/stat`` line -> (ppid, cpu ticks incl. reaped
    children). The command name may hold spaces and parentheses, so
    fields are counted from the last ``)``."""
    rest = text[text.rindex(")") + 2 :].split()
    # rest[0] is field 3 (state): field n sits at rest[n - 3]
    ppid = int(rest[1])
    ticks = sum(int(v) for v in rest[11:15])  # utime stime cutime cstime
    return ppid, ticks


def parse_pss_kb(text: str) -> int | None:
    """The ``Pss:`` line of ``/proc/<pid>/smaps_rollup``, in kB."""
    for line in text.splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1])
    return None


def tree_pids(parent_of: dict[int, int], root: int) -> set[int]:
    """``root`` and all its descendants under the ``pid -> ppid`` map."""
    children: dict[int, list[int]] = {}
    for pid, ppid in parent_of.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(stats: dict[int, tuple[int, int]], clk_tck: int = CLK_TCK) -> float:
    return sum(s[1] for s in stats.values()) / clk_tck


def is_jvm_child(pid: int, parent_of: dict[int, int], exe_of: dict[int, str]) -> bool:
    """Whether ``pid`` runs the JVM's executable under a JVM parent: a
    child the JVM has (v)forked to launch a program and that has not
    exec'd yet. It shares the JVM's pages or its whole address space
    (its name is the forking thread's, so only the executable tells)."""
    return exe_of.get(pid) == "java" and exe_of.get(parent_of.get(pid)) == "java"


def memory_mb(stats: dict[int, tuple[int, int]]) -> dict[int, float]:
    """Resident MB of each process in ``stats`` still alive: RSS for
    the JVM, PSS for the others (see the module docstring). A JVM child
    that has not exec'd yet owns no memory of its own and is left out."""
    exe_of = {}
    for pid in stats:
        try:
            exe_of[pid] = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
        except OSError:
            continue  # exited since it was listed
    parent_of = {pid: st[0] for pid, st in stats.items()}
    out = {}
    for pid, exe in exe_of.items():
        if is_jvm_child(pid, parent_of, exe_of):
            continue
        try:
            if exe == "java":
                with open(f"/proc/{pid}/statm") as fh:
                    out[pid] = int(fh.read().split()[1]) * PAGE_MB
            else:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    kb = parse_pss_kb(fh.read())
                if kb is not None:
                    out[pid] = kb / 1024
        except OSError:
            continue
    return out


def snapshot(root: int) -> dict[int, tuple[int, int]]:
    """Stats of every process in ``root``'s tree, read now."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stats[int(name)] = parse_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # exited while we listed
    pids = tree_pids({pid: s[0] for pid, s in stats.items()}, root)
    return {pid: stats[pid] for pid in pids if pid in stats}


class RssSampler:
    """Background thread sampling the tree's resident memory every
    ``interval_s``; ``peak_between(t0, t1)`` reads the series back.
    Each sample also keeps the largest process's share (the JVM) and
    the number of processes, so a peak can be attributed."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root = root
        self.interval_s = interval_s
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            mem = memory_mb(snapshot(self.root))
            if mem:
                self.samples.append(
                    (time.time(), sum(mem.values()), max(mem.values()), len(mem))
                )
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_between(self, t0: float, t1: float) -> tuple | None:
        """The sample with the highest summed memory in [t0, t1]:
        (time, summed MB, largest process MB, processes)."""
        vals = [s for s in self.samples if t0 <= s[0] <= t1]
        return max(vals, key=lambda s: s[1]) if vals else None


def host_cpu_ticks(text: str | None = None) -> tuple[int, int]:
    """(all ticks, steal ticks) from the ``cpu`` line of ``/proc/stat``:
    on a virtual machine, steal is time the hypervisor gave to others."""
    if text is None:
        with open("/proc/stat") as fh:
            text = fh.readline()
    ticks = [int(v) for v in text.split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # (guest time is already counted in user and nice)
    return sum(ticks[:8]), ticks[7]


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]
