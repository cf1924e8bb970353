"""Host facts recorded with every result, and peak memory read from /proc."""

from __future__ import annotations

import os
import platform


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _children_by_parent() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                # the field after the parenthesised command name is the state,
                # then the parent pid
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_peak_rss_mb(root_pid: int) -> float:
    """Summed VmHWM of ``root_pid`` and every live descendant (the JVM, the
    pyspark daemon and its Python workers)."""
    kids = _children_by_parent()
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total_kb += _status_kb(pid, "VmHWM")
        todo.extend(kids.get(pid, ()))
    return total_kb / 1024


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used by ``root_pid`` and every live descendant, counting
    the children each has reaped.  A guest kernel leaves out the time the
    hypervisor ran other guests on our cores (steal), which wall time
    counts."""
    kids = _children_by_parent()
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks += sum(int(x) for x in fields[11:15])
        todo.extend(kids.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def facts(**settings) -> dict:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "duckdb": duckdb.__version__,
        **settings,
    }
