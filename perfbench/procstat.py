"""Process and host counters read from /proc (psutil is not a dependency).

CPU and memory are taken over the Spark JVM and every process below it,
which includes PySpark's Python daemon and workers. Processes started by
the benchmark itself, such as the fixture node, are not below the JVM and
so are not counted.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # The command name is in parentheses and may contain spaces.
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """`root` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5).
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def peak_rss_mb(root: int) -> float:
    """Sum of each live process's peak resident set (VmHWM) in the tree."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024


def host_sample() -> dict:
    """1-minute load average and cumulative steal/total CPU ticks."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(v) for v in f.readline().split()[1:]]
    # Fields: user nice system idle iowait irq softirq steal ...
    return {"loadavg": load1, "steal": cpu[7] if len(cpu) > 7 else 0, "ticks": sum(cpu[:8])}


def host_delta(a: dict, b: dict) -> dict:
    ticks = b["ticks"] - a["ticks"]
    return {
        "loadavg": b["loadavg"],
        "steal_ratio": (b["steal"] - a["steal"]) / ticks if ticks else 0.0,
    }


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until none of `pids` is alive; return the ones still alive."""
    import time

    deadline = time.monotonic() + timeout
    alive = pids
    while True:
        alive = [p for p in alive if (_stat(p) or ["Z"])[0] != "Z"]
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.05)
