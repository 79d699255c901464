"""Process-tree readings from /proc (psutil is not available): resident
memory of the driver, its JVM and Python workers, and the CPU time of
the Python workers the JVM forks."""

from __future__ import annotations

import os
import threading

_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live process below `root` (not `root` itself)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(root: int) -> int:
    """Resident memory of `root` and every process below it, as the sum
    of their proportional set sizes: a page that forked Python workers
    share copy-on-write counts once. A child of the JVM still running
    the JVM's binary is a process the JVM is about to exec (it shares
    the JVM's memory until then) and is skipped."""
    total = 0
    for pid in [root, *descendants(root)]:
        f = _stat_fields(pid)
        if f is None:
            continue
        exe = _exe(pid)
        if pid != root and exe is not None and exe.endswith("/java") \
                and exe == _exe(int(f[1])):
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # the process ended between the listing and the read
    return total


def _is_pyworker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def pyworker_cpu_s(root: int) -> float:
    """CPU seconds of the Python worker processes below `root`: their
    own user+system time plus that of workers they already reaped."""
    total = 0
    for pid in descendants(root):
        if _is_pyworker(pid):
            f = _stat_fields(pid)
            if f is not None:
                total += sum(int(x) for x in f[11:15])
    return total / _TCK


def steal_s() -> float:
    """CPU time the hypervisor took from this machine's vCPUs since
    boot: a run that grows it by much was slowed from outside."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TCK


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's start time
    (so interpreter start-up and imports count)."""
    start = int(_stat_fields(os.getpid())[19]) / _TCK
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) - start


class RssSampler:
    """Samples the tree's resident memory every `interval` seconds on a
    daemon thread and keeps the peak. The interval keeps the sampler's
    share of the driver's interpreter lock small: the driver-bound ops
    of conf_small_jobs would otherwise feel it."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root, self.interval = root, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        return self.peak
