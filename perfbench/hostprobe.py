"""Host-side measurements read from /proc: CPU time and resident memory of
the benchmark's process tree, and the placement self-check.

The process tree is the benchmark process, the Spark driver JVM it
launches, and the Python workers the JVM forks. CPU time of a process
includes the waited-for CPU of its exited children (cutime/cstime), so
summing over the live tree counts workers that have already exited
without counting anything twice.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
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
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """utime+stime (+ reaped children) summed over this process's tree."""
    total = 0
    for pid in process_tree(os.getpid()):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11..14] = utime, stime, cutime, cstime (stat 14-17)
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def tree_rss_bytes() -> int:
    total = 0
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the tree's summed RSS in a background thread; the peak is
    kept only while ``active`` is set, i.e. while operations run."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.active = False
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active:
                self.peak = max(self.peak, tree_rss_bytes())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- placement self-check -------------------------------------------------
# The host is a VM that shares its cores. A steal-jiffy delta over the
# measured region and a pure-CPU busy-loop ceiling (n processes vs 1, no
# I/O, no synchronization) before and after let a reader judge how much
# of a wall time is the engine and how much is the placement.

_BURN = (
    "import time\n"
    "t0 = time.perf_counter(); x = 0\n"
    "while time.perf_counter() - t0 < {s}:\n"
    "    x += 1\n"
    "print(x)\n"
)


def _burn(n: int, seconds: float) -> int:
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _BURN.format(s=seconds)],
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(n)
    ]
    return sum(int(p.communicate()[0]) for p in procs)


def busy_ceiling(n: int, seconds: float = 0.25) -> tuple[float, float]:
    """(speedup of n busy processes over one, one process's loop rate in
    iterations/s): the parallelism and the per-core speed the host
    delivers right now (speedup n on an idle dedicated host)."""
    one = _burn(1, seconds)
    return _burn(n, seconds) / one, one / seconds


def proc_stat() -> dict[str, int]:
    with open("/proc/stat") as f:
        values = [int(v) for v in f.readline().split()[1:]]
    keys = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return dict(zip(keys, values))


def placement(before: dict, after: dict, ceiling_before: tuple, ceiling_after: tuple, ncpu: int) -> dict:
    delta = {k: after.get(k, 0) - before.get(k, 0) for k in before}
    busy = sum(delta.get(k, 0) for k in ("user", "nice", "system", "steal"))
    return {
        "ncpu": ncpu,
        "busy_ceiling_before": round(ceiling_before[0], 2),
        "busy_ceiling_after": round(ceiling_after[0], 2),
        "loop_rate_before": round(ceiling_before[1]),
        "loop_rate_after": round(ceiling_after[1]),
        "steal_jiffies": delta.get("steal", 0),
        "steal_pct_of_busy": round(100.0 * delta.get("steal", 0) / busy, 2) if busy else 0.0,
    }
