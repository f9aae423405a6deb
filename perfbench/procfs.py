"""Host facts and process-tree counters read from ``/proc``.

Nothing here samples in the background: every reading is a point
read, taken at a phase boundary or at the end of a run.
"""

from __future__ import annotations

import os


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def mem_total_kib() -> int:
    for line in _read("/proc/meminfo").splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def load1() -> float:
    return float(_read("/proc/loadavg").split()[0])


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs."""
    fields = [int(x) for x in _read("/proc/stat").splitlines()[0].split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


def _stats():
    """(pid, fields after the command name) of every live process; the
    command name may hold spaces, so fields are split after its ')'."""
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                stat = _read(f"/proc/{name}/stat")
            except OSError:
                continue
            yield int(name), stat.rsplit(")", 1)[1].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids: dict[int, list[int]] = {}
    for pid, fields in _stats():
        kids.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _status_kib(pid: int, key: str) -> int:
    try:
        for line in _read(f"/proc/{pid}/status").splitlines():
            if line.startswith(key + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def is_jvm(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"
    except OSError:
        return False


def hwm_mib(pids: list[int]) -> float:
    """Sum of peak resident set (VmHWM) over ``pids``, in MiB."""
    return sum(_status_kib(p, "VmHWM") for p in pids) / 1024.0


def wchar_bytes(pids: list[int]) -> int:
    """Bytes passed to write() so far, summed over ``pids``."""
    total = 0
    for pid in pids:
        try:
            for line in _read(f"/proc/{pid}/io").splitlines():
                if line.startswith("wchar:"):
                    total += int(line.split()[1])
        except OSError:
            pass
    return total


def tree_bytes(path: str) -> int:
    """Bytes of all regular files under ``path``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def session_members(sid: int) -> list[int]:
    """Live processes whose session id is ``sid`` (zombies excluded)."""
    # fields: state ppid pgrp session ...
    return [pid for pid, f in _stats() if int(f[3]) == sid and f[0] != "Z"]
