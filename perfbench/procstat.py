"""CPU time and peak resident memory of the processes this benchmark
started: the Spark driver JVM and the Python workers under it. Read from
Linux ``/proc``; no sampling thread.

Peak memory uses ``VmHWM``, which ``/proc/<pid>/clear_refs`` resets when
``5`` is written to it, so each job run gets its own peak.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # fields after the parenthesised command name; index 0 is field 3
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [pid or os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def cpu_seconds(pids: list[int]) -> dict[int, tuple[int, dict[str, int]]]:
    """A CPU snapshot: per process, user+system ticks including reaped
    children (a Python worker's time lands in its daemon's cutime/cstime
    when it exits), and the ticks of each of its JIT compiler threads."""
    out = {}
    for pid in pids:
        f = _stat_fields(pid)
        if f:
            out[pid] = (sum(int(x) for x in f[11:15]), _jit_ticks(pid))
    return out


def _jit_ticks(pid: int) -> dict[str, int]:
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                out[tid] = sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[11:13])
        except OSError:
            pass  # the thread ended since it was listed
    return out


def cpu_delta(before: dict, after: dict) -> float:
    """CPU seconds used between two snapshots, leaving out the JIT
    compiler threads: compiling is a warm-up cost that fades as the JVM
    warms, and most of the run-to-run noise."""
    ticks = 0
    for pid, (total, jit) in after.items():
        total0, jit0 = before.get(pid, (0, {}))
        ticks += total - total0 - sum(t - jit0.get(tid, 0) for tid, t in jit.items())
    return ticks / _TICK


def reset_peak(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass  # the process ended since it was listed


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set since its last reset."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def stop_all(pids: list[int], timeout: float = 30.0) -> None:
    """SIGTERM ``pids``, wait until each has ended, SIGKILL stragglers."""
    def alive(pid: int) -> bool:
        if pid_is_child(pid):
            try:
                return os.waitpid(pid, os.WNOHANG) == (0, 0)
            except ChildProcessError:
                return False
        f = _stat_fields(pid)
        return f is not None and f[0] != "Z"

    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            pids = [p for p in pids if alive(p)]
            if not pids:
                return
            time.sleep(0.1)


def pid_is_child(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and int(f[1]) == os.getpid()
