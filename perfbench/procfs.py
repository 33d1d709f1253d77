"""Process-tree accounting read from /proc: CPU seconds, resident memory,
process start time, load average and stolen CPU time.

The benchmark process owns the whole Spark deployment in local mode: the
JVM is its child and the Python workers are the JVM's descendants, so the
tree rooted at this process is everything the program spends.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces and parentheses: split after it
    head, _, rest = raw.rpartition(")")
    return [head.split(" (", 1)[-1]] + rest.split()


def _children() -> dict[int, list[int]]:
    """ppid -> [pid] for every live process."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[2]), []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _is_python_worker(pid: int, st: list[str]) -> bool:
    """A Spark Python daemon/worker (``python -m pyspark.daemon`` and its
    forks)."""
    if not st[0].startswith("python"):
        return False
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark" in cmd


def cpu_seconds(root: int | None = None) -> dict[str, float]:
    """CPU seconds (user + system, including reaped children) of the tree,
    split into the Spark Python workers and everything else."""
    tot = py = 0.0
    for pid in descendants(root):
        st = _stat(pid)
        if st is None:
            continue
        # fields 14-17 of stat(5): utime stime cutime cstime
        ticks = sum(int(x) for x in st[12:16])
        tot += ticks
        if _is_python_worker(pid, st):
            py += ticks
    return {"total": tot / _TICK, "python": py / _TICK}


def reset_peak_rss(root: int | None = None) -> None:
    """Reset the kernel's peak resident set (``VmHWM``) of every process in
    the live tree to its current resident set."""
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_bytes(root: int | None = None) -> int:
    """Sum over the live tree of each process's peak resident set
    (``VmHWM``), as tracked by the kernel since the process started or
    since ``reset_peak_rss``."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started."""
    st = _stat(os.getpid())
    started = int(st[20]) / _TICK  # field 22: starttime, ticks since boot
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - started)


def steal_seconds() -> float:
    """CPU seconds the hypervisor ran something else while this machine's
    CPUs wanted to run (``steal`` in proc(5)), summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``pids`` has exited; kill the ones still
    alive after ``timeout_s`` and wait for those too."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive and time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)
