"""CPU time and resident memory of this process and everything it started.

The driver Python process launches the Spark JVM, which forks the PySpark
daemon and its Python workers, so the tree rooted at ``os.getpid()`` is the
whole local cluster. Linux ``/proc`` only.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, including reaped children
    (a worker that exited is charged to the parent that waited for it)."""
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM), in MB."""
    total_kb = 0
    for pid in tree_pids():
        raw = _read(f"/proc/{pid}/status")
        for line in (raw or "").splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
                break
    return total_kb / 1024.0


def reset_peak_rss() -> None:
    """Restart every live process's VmHWM from its current RSS, so work
    before the measured session does not count as its peak."""
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # kernels before 4.0, or the process exited
