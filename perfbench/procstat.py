"""CPU and memory of the Spark driver JVM and its Python workers, from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, CPU seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields[0] is state; utime, stime, cutime, cstime are fields 11..14
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant.  Exited
    descendants are counted through their parent's reaped-child times."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, []))
    return total


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def peak_rss_mb(pid: int) -> float:
    """Peak resident set of ``pid`` since start or the last reset."""
    return _status_kb(pid, "VmHWM") / 1024.0


def reset_peak_rss(pid: int) -> None:
    """Restart the peak-RSS window of ``pid`` (Linux clear_refs "5");
    where that is not permitted the window stays the process lifetime."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass
