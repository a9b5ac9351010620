"""Peak resident memory of the driver, the JVM and its Python workers,
and CPU time stolen from this machine by its hypervisor.

Linux only: ``/proc/<pid>/status`` holds each process's peak RSS
(``VmHWM``), and writing ``5`` to ``/proc/<pid>/clear_refs`` resets that
peak to the current RSS, so a peak can be measured per timed run.
"""

from __future__ import annotations

import os


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        # the command name is parenthesised and may itself hold spaces
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for child, parent in _ppids().items():
        children.setdefault(parent, []).append(child)
    found, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        found.extend(kids)
        todo.extend(kids)
    return found


def reset_peak(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as fh:
                fh.write("5")
        except OSError:
            pass  # exited since it was listed


def peak_mb(pid: int) -> float:
    """Peak RSS in MB (2**20 bytes) since the last reset; 0 if ``pid`` is gone."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class MemWatch:
    """Per-run peaks of the driver, the JVM and the JVM's Python workers."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def reset(self) -> None:
        reset_peak([os.getpid(), self.jvm_pid, *descendants(self.jvm_pid)])

    def peaks(self) -> dict[str, float]:
        return {
            "driver_mb": peak_mb(os.getpid()),
            "jvm_mb": peak_mb(self.jvm_pid),
            "pyworkers_mb": sum(peak_mb(p) for p in descendants(self.jvm_pid)),
        }


def steal_s() -> float:
    """CPU seconds, summed over all CPUs, that the hypervisor ran other
    guests while this machine's CPUs wanted to run (``steal`` in
    ``/proc/stat``): a marker of co-tenant load."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")
