"""Process-tree CPU and memory from ``/proc``.

The tree is the benchmark's own process and all its descendants: the
Spark JVM (``java``) and the Python workers it forks.  CPU and memory
are split by role: ``jvm``, and ``python`` for everything else — the
Spark driver (this process), the PySpark daemon and its workers.
CPU counts ``utime + stime`` plus ``cutime + cstime``, so a worker that
exits and is reaped mid-job still lands on its parent's account.
"""

from __future__ import annotations

import os
import threading
import time

ROLES = ("jvm", "python")
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds) of one pid, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("utf-8", "replace")
    except OSError:
        return None
    # comm may hold spaces and parens: split at the LAST ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): ppid=4, utime..cstime=14..17
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return comm, ppid, cpu


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def busy_steal_s() -> tuple[float, float]:
    """Machine-wide (busy, stolen) CPU seconds so far, summed over CPUs.
    Busy is user + nice + system + irq + softirq; stolen is the time the
    hypervisor gave this VM's runnable CPUs to other tenants."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / _TICK, t[7] / _TICK


class ProcTree:
    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()

    def members(self) -> dict[int, tuple[str, float]]:
        """pid -> (role, cpu seconds) for the root and its descendants."""
        info = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    info[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (_comm, ppid, _cpu) in info.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid not in info:
                continue
            comm, _ppid, cpu = info[pid]
            role = "jvm" if comm.startswith("java") else "python"
            out[pid] = (role, cpu)
            todo.extend(children.get(pid, []))
        return out

    @staticmethod
    def cpu_delta(before: dict, after: dict) -> dict[str, float]:
        """CPU seconds per role spent between two ``members()`` snapshots."""
        out = dict.fromkeys(ROLES, 0.0)
        for pid, (role, cpu) in after.items():
            prev = before.get(pid)
            out[role] += cpu - (prev[1] if prev and prev[0] == role else 0.0)
        return out


class Sampler:
    """Measures one job: CPU per role over the job, and peak RSS (total
    and per role) from a background thread polling every ``interval``
    seconds.  The poll reads only ``statm`` of the known members; the
    full ``/proc`` scan that finds new members runs every ``rescan``
    seconds.  Use as a context manager around the job.

    Each poll also reads the machine's busy and stolen CPU time.
    ``stolen_wall`` adds up, over the polls, the poll's wall times the
    share of the CPU time the VM's runnable CPUs wanted that went to
    other tenants: the part of the job's wall during which the job was
    held off its CPUs."""

    def __init__(self, tree: ProcTree, interval: float = 0.2, rescan: float = 1.0):
        self.tree = tree
        self.interval = interval
        self.rescan = rescan
        self.cpu: dict[str, float] = {}
        self.steal = 0.0
        self.stolen_wall = 0.0
        self.peak_total = 0
        self.peak = dict.fromkeys(ROLES, 0)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _poll(self) -> None:
        members, scanned = self._before, time.monotonic()
        while True:
            if time.monotonic() - scanned > self.rescan:
                members, scanned = self.tree.members(), time.monotonic()
            rss = dict.fromkeys(ROLES, 0)
            for pid, (role, _cpu) in members.items():
                rss[role] += _rss(pid)
            self.peak_total = max(self.peak_total, sum(rss.values()))
            for role, v in rss.items():
                self.peak[role] = max(self.peak[role], v)
            self._account()
            if self._stop.wait(self.interval):
                return

    def _account(self) -> None:
        now, (busy, steal) = time.monotonic(), busy_steal_s()
        t0, busy0, steal0 = self._last
        wanted = busy - busy0 + steal - steal0
        if wanted > 0:
            self.stolen_wall += (now - t0) * (steal - steal0) / wanted
        self._last = now, busy, steal

    def __enter__(self) -> "Sampler":
        self._before = self.tree.members()
        self._first = self._last = (time.monotonic(), *busy_steal_s())
        self._thread = threading.Thread(target=self._poll, name="procstat", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._account()
        self.cpu = ProcTree.cpu_delta(self._before, self.tree.members())
        self.steal = self._last[2] - self._first[2]
