"""Process-tree CPU and memory readings from /proc (psutil is not
available).  The tree is the benchmark's worker process, the Spark
driver JVM it launches and the Python worker daemons under the JVM."""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(command name, parent pid, CPU seconds of the process and its
    reaped children) or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; it is enclosed in the outermost parens
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return comm, ppid, (utime + stime + cutime + cstime) / TICK


def tree(root: int) -> dict[int, tuple[str, int, float]]:
    """Every live process descending from ``root`` (inclusive)."""
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                table[int(name)] = st
    out = {}
    frontier = [root]
    while frontier:
        pid = frontier.pop()
        if pid in table:
            out[pid] = table[pid]
            frontier.extend(p for p, st in table.items() if st[1] == pid)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_seconds(root: int) -> dict[str, float]:
    """CPU seconds so far of the whole tree and of its pyspark Python
    workers.  A reaped child's time is in its parent's figure, so the
    difference of two readings counts processes that ended between
    them."""
    procs = tree(root)
    workers = 0.0
    for pid, (_, _, cpu) in procs.items():
        if "pyspark.daemon" in _cmdline(pid):
            workers += cpu
    return {"tree": sum(cpu for _, _, cpu in procs.values()), "python_workers": workers}


def jvm_pid(root: int) -> int | None:
    for pid, (comm, _, _) in tree(root).items():
        if comm == "java":
            return pid
    return None


def peak_rss_mb(pid: int) -> float:
    """VmHWM of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0
