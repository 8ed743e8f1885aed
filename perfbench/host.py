"""Host state recorded with every run and every pass: usable cores, load
average and hypervisor steal, so a contended measurement is visible in
its record."""

from __future__ import annotations

import contextlib
import os
import time


def sample() -> dict:
    """Aggregate CPU jiffies (/proc/stat ``cpu`` line), the number of
    ``cpuN`` lines (the basis of those jiffies), the 1-minute load and
    the usable core count."""
    with open("/proc/stat") as fh:
        lines = [ln.split() for ln in fh if ln.startswith("cpu")]
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"t": time.time(), "steal": int(lines[0][8]),
            "cpu_lines": sum(1 for f in lines if f[0] != "cpu"),
            "loadavg_1m": load1, "nproc": len(os.sched_getaffinity(0))}


def state(before: dict, after: dict) -> dict:
    """Host state between two samples; ``steal_frac`` is stolen time as a
    share of every ``cpuN`` line's time."""
    hz = os.sysconf("SC_CLK_TCK")
    cap = max(after["t"] - before["t"], 1e-9) * hz * before["cpu_lines"]
    return {"nproc": before["nproc"], "cpu_lines": before["cpu_lines"],
            "loadavg_1m_before": before["loadavg_1m"],
            "loadavg_1m_after": after["loadavg_1m"],
            "steal_frac": (after["steal"] - before["steal"]) / cap}



def _stat(path: str) -> tuple[str, list[str]] | None:
    """Command name and the fields after it of a ``stat`` file (state
    first), or None if the process or thread is gone."""
    try:
        with open(path) as fh:
            head, tail = fh.read().rsplit(")", 1)
    except (OSError, ValueError):
        return None
    return head.split("(", 1)[1], tail.split()


def session_stats(sid: int) -> list[tuple[int, str, list[str]]]:
    """``(pid, name, fields)`` of every process in session ``sid``."""
    found = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            stat = _stat(f"/proc/{name}/stat")
            if stat and int(stat[1][3]) == sid:
                found.append((int(name), *stat))
    return found


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class SessionCpu:
    """CPU time of the processes of session ``sid`` and of the children
    they have reaped, and the part of it the JVM's JIT compiler threads
    spent. Compiling hot code is how the JVM warms up, not work a pass
    asks for, and it goes on for several passes; the warm metrics leave
    it out. Time the hypervisor stole is in neither."""

    def __init__(self, sid: int):
        self.sid = sid
        self.hz = os.sysconf("SC_CLK_TCK")
        # every compiler thread seen, with its CPU ticks when last seen:
        # the JVM ends idle compiler threads, and their time stays in the
        # process total
        self.jit: dict[tuple[int, str], int] = {}

    def sample(self) -> tuple[float, float]:
        """``(total, jit)`` CPU seconds so far."""
        total = 0
        for pid, name, fields in session_stats(self.sid):
            total += sum(int(f) for f in fields[11:15])
            if name != "java":
                continue
            with contextlib.suppress(OSError):
                for tid in os.listdir(f"/proc/{pid}/task"):
                    stat = _stat(f"/proc/{pid}/task/{tid}/stat")
                    if stat and stat[0].startswith(JIT_THREADS):
                        self.jit[pid, tid] = sum(int(f)
                                                 for f in stat[1][11:13])
        return total / self.hz, sum(self.jit.values()) / self.hz
