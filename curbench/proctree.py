"""CPU and memory accounting over a process tree, read from /proc.

The benchmark's driver process starts the Spark JVM, which starts the
Python worker daemon, which forks workers. ``cpu_seconds`` sums
utime+stime+cutime+cstime over every live process of the tree: a
child's time moves into its parent's cutime/cstime when it is reaped,
so workers that exit between two readings still count, and none counts
twice. ``MemSampler`` samples the tree's resident memory in a
separate process and keeps the peak. Resident memory is summed PSS:
a page shared by N processes counts 1/N in each, so the pages a forked
worker shares with the daemon count once, not once per worker.
"""

from __future__ import annotations

import os
import select
import subprocess
import sys

_TICK = os.sysconf("SC_CLK_TCK")
# pids of running MemSampler processes: tree_pids leaves them out, so
# the sampler's own /proc reads count neither as CPU nor as memory
SAMPLERS: set[int] = set()


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm (field 2) may hold spaces or parens: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant, except MemSampler processes."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid not in SAMPLERS:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
            ticks += sum(int(fields[k]) for k in (11, 12, 13, 14))
    return ticks / _TICK


def steal_seconds() -> float:
    """Host-wide CPU time the hypervisor gave to other guests (the
    ``steal`` column of /proc/stat): a run that shares its host shows it."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def resident_bytes(root: int) -> int:
    """Summed proportional set size (PSS) of the tree."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited, or not ours to read
            continue
    return total


class MemSampler:
    """Samples ``resident_bytes(root)`` every ``interval`` s; ``peak`` is
    the max. The sampling runs in a child process, which ``tree_pids``
    leaves out: in a thread of the driver its CPU would land in the
    driver's utime, and so in every pass's ``cpu_seconds``."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root, self.interval, self.peak = root, interval, 0

    def __enter__(self) -> "MemSampler":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(self.root), str(self.interval)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        SAMPLERS.add(self._proc.pid)
        return self

    def __exit__(self, *exc) -> None:
        out, _ = self._proc.communicate("", timeout=60)  # closing stdin stops it
        SAMPLERS.discard(self._proc.pid)
        self.peak = int(out.split()[-1])


def _sample(root: int, interval: float) -> None:
    """The sampler process: sample until stdin closes, then print the peak."""
    SAMPLERS.add(os.getpid())
    peak = 0
    while True:
        peak = max(peak, resident_bytes(root))
        if select.select([sys.stdin], [], [], interval)[0]:
            break
    print(peak)


if __name__ == "__main__":
    _sample(int(sys.argv[1]), float(sys.argv[2]))
