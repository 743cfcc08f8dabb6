"""Process accounting from ``/proc``: CPU seconds of a process tree, peak
resident memory, and waiting for a process group to end."""

from __future__ import annotations

import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (index 0 is
    the state, 1 the parent pid, 2 the process group, 11-14 the user,
    system, children-user and children-system clock ticks)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid in _pids():
        f = _stat(pid)
        if f is not None:
            children.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(*roots: int) -> float:
    """User + system CPU seconds of each root and all its live descendants,
    including the children each of them has already reaped."""
    ticks = 0
    for root in roots:
        for pid in descendants(root):
            f = _stat(pid)
            if f is not None:
                ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


def hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    return 0.0


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of ``/proc/stat`` (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others between two reads."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta[:8]), 1)


def group_members(pgid: int) -> list[int]:
    out = []
    for pid in _pids():
        f = _stat(pid)
        if f is not None and int(f[2]) == pgid and f[0] != "Z":
            out.append(pid)
    return out


def end_group(pgid: int, grace_s: float = 15.0) -> None:
    """Wait for every process of group ``pgid`` to exit; kill what is left
    after ``grace_s`` and wait for that too."""
    deadline = time.monotonic() + grace_s
    while group_members(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)
    if group_members(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        while group_members(pgid):
            time.sleep(0.05)
