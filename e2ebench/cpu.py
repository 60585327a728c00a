"""CPU accounting over a process tree, read from ``/proc``.

A process's CPU is ``utime + stime`` of itself plus ``cutime + cstime``, the
time of children it has already reaped. Summing that over every live process
in the tree counts each CPU tick once: a reaped child's ticks live only in its
parent's ``c*time``, a live child's only in its own ``*time``.

The total is split by who spent it: the benchmark's own process (``driver``),
the Spark JVM (``jvm``) and PySpark's daemon and its forked Python workers
(``python_workers``). Any other process (a shell wrapper, say) is charged to
the nearest classified ancestor.
"""

from __future__ import annotations

import os
import signal
import time
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PARTS = ("driver", "jvm", "python_workers")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    state: str           # "Z" for a zombie: ended, not yet reaped
    start: int           # ticks since boot; (pid, start) names one process
    own_ticks: int       # utime + stime
    reaped_ticks: int    # cutime + cstime
    comm: str
    cmdline: str


def parse_stat(pid: int, stat: str, cmdline: str) -> Proc:
    """Parse one ``/proc/<pid>/stat`` line (``comm`` may hold spaces)."""
    head, _, rest = stat.rpartition(")")
    comm = head.split("(", 1)[1]
    f = rest.split()
    # fields after comm, 0-based: state=0 ppid=1 ... utime=11 stime=12
    # cutime=13 cstime=14 ... starttime=19
    return Proc(pid=pid, ppid=int(f[1]), state=f[0], start=int(f[19]),
                own_ticks=int(f[11]) + int(f[12]),
                reaped_ticks=int(f[13]) + int(f[14]),
                comm=comm, cmdline=cmdline)


def _read(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            stat = fh.read()
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmdline = fh.read().replace(b"\0", b" ").decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError):
        return None
    return parse_stat(pid, stat, cmdline)


def snapshot(root: int | None = None) -> dict[int, Proc]:
    """Every live process in the tree under ``root`` (default: this one)."""
    root = os.getpid() if root is None else root
    procs = [p for p in (_read(int(d)) for d in os.listdir("/proc")
                         if d.isdigit()) if p is not None]
    children: dict[int, list[Proc]] = {}
    for p in procs:
        children.setdefault(p.ppid, []).append(p)
    tree = {p.pid: p for p in procs if p.pid == root}
    frontier = list(tree)
    while frontier:
        for c in children.get(frontier.pop(), []):
            tree[c.pid] = c
            frontier.append(c.pid)
    return tree


def classify(tree: dict[int, Proc], root: int) -> dict[int, str]:
    """Map each pid of ``tree`` to one of ``PARTS``."""
    own: dict[int, str] = {}
    for p in tree.values():
        if p.pid == root:
            own[p.pid] = "driver"
        elif p.comm == "java":
            own[p.pid] = "jvm"
        elif "pyspark.daemon" in p.cmdline or "pyspark.worker" in p.cmdline:
            own[p.pid] = "python_workers"
    out = {}
    for pid in tree:
        cur = pid
        while cur not in own:
            cur = tree[cur].ppid
        out[pid] = own[cur]
    return out


def split_seconds(tree: dict[int, Proc], root: int) -> dict[str, float]:
    """CPU seconds spent so far by the tree, per part."""
    parts = dict.fromkeys(PARTS, 0.0)
    for pid, part in classify(tree, root).items():
        p = tree[pid]
        parts[part] += (p.own_ticks + p.reaped_ticks) / CLK_TCK
    return parts


def delta(before: dict[str, float],
          after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in PARTS}


class CpuMeter:
    """``read()`` gives the tree's CPU seconds per part so far."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root

    def read(self) -> dict[str, float]:
        return split_seconds(snapshot(self.root), self.root)


def pss_mb(root: int | None = None) -> float:
    """Summed proportional set size of the tree, in MiB."""
    total_kb = 0
    for pid in snapshot(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
    return total_kb / 1024.0


def alive(procs: list[Proc]) -> list[Proc]:
    """Those of ``procs`` still running (same pid and start time)."""
    out = []
    for p in procs:
        now = _read(p.pid)
        if now is not None and now.start == p.start and now.state != "Z":
            out.append(p)
    return out


def wait_gone(procs: list[Proc], timeout_s: float) -> list[Proc]:
    """Wait up to ``timeout_s`` for ``procs`` to end; return survivors."""
    deadline = time.monotonic() + timeout_s
    left = alive(procs)
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = alive(left)
    return left


def kill(procs: list[Proc]) -> None:
    """SIGKILL ``procs``; ones that ended meanwhile are skipped."""
    for p in alive(procs):
        try:
            os.kill(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
