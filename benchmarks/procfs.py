"""Process-tree CPU and memory readings from ``/proc`` (Linux).

The benchmark's driver process is the root of the tree: the Spark JVM
is its child and the Python workers are the JVM's descendants, so one
walk covers driver, JVM and workers.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listdir and open
        return None
    # the command name may contain spaces and parentheses: split after
    # the last ')'; fields then start at "state" (field 3 of stat(5))
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the process tree, including children
    already reaped by a live member (cutime/cstime)."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def python_worker_hwm_mb(root: int | None = None) -> float:
    """Largest peak resident set (VmHWM) over the Spark Python worker
    processes currently alive in the tree; 0 when none is alive."""
    peak_kb = 0
    for pid in tree_pids(root):
        if not _is_python_worker(pid):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
                        break
        except OSError:
            continue
    return peak_kb / 1024


def become_subreaper() -> None:
    """Make this process the parent of its orphaned descendants (e.g. a
    Python worker whose JVM exited first), so that ``reap_descendants``
    finds and waits for them."""
    ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_descendants(grace_s: float) -> None:
    """Wait until no descendant of this process is left. Those still
    alive after ``grace_s`` seconds are killed."""
    deadline = time.monotonic() + grace_s
    while True:
        while True:  # collect exited children (zombies)
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = tree_pids()[1:]
        if not left:
            return
        if time.monotonic() >= deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
