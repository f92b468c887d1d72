"""Host and process counters read from /proc (Linux).

CPU seconds and peak RSS cover this process and every descendant, which
includes the Spark JVM that pyspark launches as a child."""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def process_tree() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """User + system CPU seconds of this process tree so far."""
    total = 0
    for pid in process_tree():
        fields = _stat_fields(pid)
        if fields is not None:
            total += int(fields[11]) + int(fields[12])   # utime, stime
    return total / _TICKS


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over this process tree."""
    return sum(_hwm_kb(pid) for pid in process_tree()) / 1024.0


def rss_by_process() -> dict[int, float]:
    return {pid: round(_hwm_kb(pid) / 1024.0, 1) for pid in process_tree()}


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` is alive; SIGKILL what outlives the
    wait, then wait once more."""
    import signal
    import time

    def alive() -> list[int]:
        out = []
        for p in pids:
            fields = _stat_fields(p)
            if fields is not None and fields[0] != "Z":
                out.append(p)
        return out

    deadline, killed = time.monotonic() + timeout_s, False
    while left := alive():
        if time.monotonic() > deadline:
            if killed:
                return
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline, killed = time.monotonic() + timeout_s, True
        time.sleep(0.05)


def steal_jiffies() -> int:
    """Hypervisor steal time summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8])


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
