"""Host fingerprint, hypervisor steal time and the peak-RSS sampler.

The fingerprint goes out with every result; ``compare.py`` refuses to
compare results whose fingerprints differ. The sampler sums the
resident set of this process and every descendant (the driver JVM that
``spark-submit`` starts, and the Python workers the JVM forks), a few
times a second from one thread, and keeps the peak seen while
``active`` is set.
"""

from __future__ import annotations

import os
import platform
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    """CPUs this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def _meminfo_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fingerprint(spark) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": cores(),
        "mem_total_kb": _meminfo_total_kb(),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": sc._jvm.System.getProperty("java.version"),
        "master": sc.master,
    }


_TICK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor has taken from this machine's vCPUs since
    boot, summed over CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _tree(root: int) -> dict[int, list[str]]:
    """/proc/<pid>/stat fields (from field 3 on) of ``root`` and all its
    descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the fields follow the parenthesised command name; [1] is ppid
        fields = stat[stat.rfind(")") + 2:].split()
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU time of ``root`` and its descendants, reaped
    children included (fields 14-17 of /proc/<pid>/stat)."""
    return sum(
        sum(int(x) for x in fields[11:15]) for fields in _tree(root).values()
    ) / _TICK


def _tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants, from /proc."""
    return sum(int(fields[21]) for fields in _tree(root).values()) * _PAGE


class RssSampler:
    """Peak summed RSS of the process tree while ``active`` is set."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.active = threading.Event()
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, name="rss-sampler", daemon=True
        )

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                rss = _tree_rss_bytes(root)
                self.samples += 1
                self.peak_bytes = max(self.peak_bytes, rss)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
