"""Resident memory of a process tree, read from /proc (no psutil).

The benchmark's process tree is the Python driver, the JVM it launches and
the JVM's Python worker daemons. ``PeakRss.sample`` sums, over the processes
alive at that moment, each one's kernel high-water mark (``VmHWM``), so a
peak reached between two samples is still seen; the reported peak is the
largest such sum. It bounds the tree's simultaneous resident set from above
without depending on exactly when the samples land. The JVM's own peak is
kept apart, since it dominates and moves with the heap.
"""

from __future__ import annotations

import os


def _children(pid: int) -> list[int]:
    out: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _status(pid: int) -> tuple[str, int]:
    """(command name, VmHWM in kB); a vanished process reads as 0 kB."""
    name, kb = "", 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmHWM:"):
                    kb = int(line.split()[1])
    except OSError:
        pass
    return name, kb


class PeakRss:
    """Peak resident memory of this process and everything below it."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self.jvm_peak_kb = 0

    def sample(self) -> None:
        total = jvm = 0
        for p in descendants(os.getpid()):
            name, kb = _status(p)
            total += kb
            if name == "java":
                jvm += kb
        self.peak_kb = max(self.peak_kb, total)
        self.jvm_peak_kb = max(self.jvm_peak_kb, jvm)

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def jvm_peak_mb(self) -> float:
        return self.jvm_peak_kb / 1024.0
