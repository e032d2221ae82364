"""CPU and peak-memory sampling from ``/proc`` (psutil is not installed).

The process tree is the driver Python process, the JVM (its pid comes
through py4j) and the JVM's descendants, which are the Python workers.
A process that exits between two samples is still counted: its parent
reaps it and the kernel adds its time to the parent's ``cutime`` and
``cstime``, which the sample includes.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                out[int(name)] = int(fields[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for child, parent in _parents().items():
        children.setdefault(parent, []).append(child)
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _cpu_ticks(pid: int, with_children: bool) -> int:
    fields = _stat_fields(pid)
    if fields is None:
        return 0
    # fields[11:15] = utime, stime, cutime, cstime
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks


class CpuSampler:
    """CPU seconds consumed so far by the driver, the JVM and its workers."""

    def __init__(self, jvm_pid: int):
        self.driver = os.getpid()
        self.jvm = jvm_pid

    def pids(self) -> list[int]:
        return [self.jvm, *descendants(self.jvm)]

    def sample(self) -> float:
        ticks = _cpu_ticks(self.driver, with_children=False)
        ticks += sum(_cpu_ticks(pid, with_children=True) for pid in self.pids())
        return ticks / _TICK


def peak_rss_mb(pid: int | None = None) -> float:
    """VmHWM, the resident-set high-water mark, of ``pid`` (default: self)."""
    with open(f"/proc/{pid or 'self'}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def reset_peak_rss() -> None:
    """Set this process's VmHWM back to its current RSS (clear_refs 5)."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")
