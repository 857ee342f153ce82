"""Process-tree and host readings from /proc.

The benchmark process starts the JVM, which starts the Python workers,
so "the process tree" is this process and every descendant: CPU and
resident memory are summed over all of them. Host-wide busy CPU beside
it is the contention evidence: CPU the host spent outside the tree
while the benchmark ran.
"""

from __future__ import annotations

import os
import sys
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[str]:
    root = str(root or os.getpid())
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields:
                children.setdefault(fields[1], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[str] | None = None) -> float:
    """user+sys seconds of the tree, reaped children included."""
    total = 0
    for pid in pids or tree_pids():
        fields = _stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_by_name(pids: list[str] | None = None) -> dict[str, float]:
    """Resident MB of the tree per executable name, as proportional set
    size: pages a forked child still shares with its parent (Python
    workers and the daemon, a JVM child before exec) count once."""
    out: dict[str, float] = {}
    for pid in pids or tree_pids():
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb = next(
                    int(line.split()[1]) for line in f
                    if line.startswith("Pss:")
                )
        except (OSError, StopIteration):
            continue
        out[name] = out.get(name, 0.0) + kb / 1024
    return out


def host_busy_s() -> float:
    """Busy CPU seconds of the whole host since boot (all cores)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    return (sum(vals[:8]) - idle) / _TICK


class RssPeak:
    """Samples the tree's resident memory on a thread while armed; the
    peak over armed intervals is the run's peak RSS. A sample walks the
    JVM's page tables (about 60 ms on a 4-core host), so it is taken
    every 2 s: taken more often, it slows the reps it measures."""

    def __init__(self, interval_s: float = 2.0):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by_name: dict[str, float] = {}
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._armed.wait(self.interval_s) and not self._stop.is_set():
                self.sample()
                self._stop.wait(self.interval_s)

    def sample(self) -> None:
        by_name = tree_rss_by_name()
        total = sum(by_name.values())
        if total > self.peak_mb:
            self.peak_mb, self.peak_by_name = total, by_name

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._armed.set()
        self._thread.join(timeout=5)

    def arm(self) -> None:
        self._armed.set()

    def disarm(self) -> None:
        self._armed.clear()
        self.sample()


class Contention:
    """CPU of the tree vs busy CPU elsewhere on the host over a run."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.tree0 = tree_cpu_s()
        self.host0 = host_busy_s()
        self.load0 = os.getloadavg()

    def report(self, cores: int) -> dict:
        wall = time.perf_counter() - self.t0
        tree = tree_cpu_s() - self.tree0
        other = max(host_busy_s() - self.host0 - tree, 0.0)
        import pyspark

        return {
            "wall_s": round(wall, 3),
            "tree_cpu_s": round(tree, 3),
            "host_other_busy_s": round(other, 3),
            "host_other_busy_cores": round(other / wall, 3) if wall else 0.0,
            "loadavg_start": [round(x, 2) for x in self.load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "nproc": cores,
            "host_cpus": os.cpu_count(),
            "python": sys.version.split()[0],
            "pyspark": pyspark.__version__,
        }
