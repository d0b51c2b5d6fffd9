"""Resource accounting of a process tree, read from ``/proc`` (Linux).

The benchmark's driver process starts the Spark JVM, which starts the
Python UDF workers; CPU time and resident memory are summed over that
whole tree from outside the program.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including children they reaped."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime stime cutime cstime are fields 14-17 of stat(5)
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def reset_peak_rss(pids: list[int]) -> None:
    """Reset each process's peak resident set (VmHWM) to its current
    resident set, so a later ``peak_rss_mb`` covers only what ran
    after this call (``clear_refs`` value 5, Linux >= 4.0)."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb(pids: list[int]) -> float:
    """Sum over ``pids`` of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def host_ram_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait for ``pids`` to exit; SIGKILL what is left after
    ``timeout_s``. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while any(_running(p) for p in alive):
        time.sleep(0.05)
    return alive


def _running(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"
