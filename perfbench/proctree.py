"""A process and its descendants, read from /proc: membership, memory, CPU."""

from __future__ import annotations

import os

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def stat_fields(pid) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name: state is [0]."""
    with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree(root: int) -> list[int]:
    """``root`` and its live descendants."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid = int(stat_fields(name)[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack += kids.get(p, ())
    return out


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_s(root: int) -> float:
    """CPU seconds, user plus system, used so far by ``root``'s tree,
    including descendants that have exited and been waited for."""
    total = 0
    for pid in tree(root):
        try:
            f = stat_fields(pid)
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        except (OSError, ValueError, IndexError):
            continue
    return total * TICK_S


# HotSpot's own service threads, as the kernel names them (at most 15
# characters): JIT compilers, code-cache sweeper, G1 and its workers, and
# the VM thread that runs safepoint operations.
JVM_SERVICE_THREADS = (
    "C1 CompilerThre", "C2 CompilerThre", "Sweeper thread",
    "GC Thread", "G1 ", "VM Thread",
)


class ThreadClock:
    """On-CPU nanoseconds of every thread in ``root``'s tree except the
    JVM's service threads.

    The kernel's per-thread ``schedstat`` runtime leaves out time the
    hypervisor gives to other guests (steal), so on a shared host it stays
    put when the neighbours get busier, where wall time does not. JIT
    compilation and garbage collection are left out because when they run
    depends on what ran before, not on the query running at the time: a
    concurrent G1 cycle added 1.4 s to some cold runs of limit_topk and
    nothing to others.
    """

    def __init__(self, root: int):
        self.root = root
        self._service: dict[tuple[int, int], bool] = {}

    def _runtimes(self):
        """``((pid, tid), is a service thread, on-CPU ns)`` per live thread."""
        for pid in tree(self.root):
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                key = (pid, int(tid))
                base = f"/proc/{pid}/task/{tid}"
                try:
                    if key not in self._service:
                        with open(f"{base}/comm", encoding="utf-8", errors="replace") as f:
                            self._service[key] = f.read().startswith(JVM_SERVICE_THREADS)
                    with open(f"{base}/schedstat", encoding="ascii") as f:
                        ns = int(f.read().split()[0])
                except (OSError, ValueError, IndexError):
                    continue
                yield key, self._service[key], ns

    def snapshot(self) -> dict[tuple[int, int], int]:
        return {key: ns for key, service, ns in self._runtimes() if not service}

    @staticmethod
    def seconds(before: dict, after: dict) -> float:
        """CPU seconds between two snapshots. A thread that ended in between
        loses its share; one that started counts in full."""
        return sum(ns - before.get(key, 0) for key, ns in after.items()) / 1e9
