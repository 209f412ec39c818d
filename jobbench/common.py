"""Measurement helpers shared by the workloads: process-tree memory and
CPU, bytes on disk, hypervisor steal, order statistics, and the JVM
shutdown that leaves no process behind."""

from __future__ import annotations

import os
import statistics
import subprocess
import threading
import time

SAMPLE_S = 0.2  # how often ProcessTree samples memory and CPU
SHUTDOWN_TIMEOUT_S = 60.0  # how long shutdown_spark waits for the JVM to exit


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in [0, 1])."""
    if not values:
        return 0.0
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
                files += 1
            except OSError:
                pass  # a file removed while walking (task temp files)
    return total, files


def cpu_steal_s() -> float:
    """CPU time the hypervisor has taken from this machine since boot,
    summed over CPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; state and ppid follow it
        state, ppid = stat[stat.rindex(")") + 2 :].split()[:2]
        if state != "Z":  # an exited process awaiting its reaper holds no memory
            kids.setdefault(int(ppid), []).append(int(entry))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """Every live process below ``root`` (default: this process)."""
    kids = _children()
    out, stack = [], [root or os.getpid()]
    while stack:
        for child in kids.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _reset_hwm(pid: int) -> None:
    """Set a process's VmHWM back to its current RSS (clear_refs value 5)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass  # exited meanwhile


def _cpu_ticks(pid: int) -> int:
    """User plus system CPU time of a process, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0
    fields = stat[stat.rindex(")") + 2 :].split()
    return int(fields[11]) + int(fields[12])


class ProcessTree:
    """Samples this process and every descendant (the JVM and its Python
    workers) every SAMPLE_S while a job call runs: the peak of their summed
    VmHWM, and the CPU time they used. Entering resets each descendant's
    VmHWM, so the peak is the call's own, not that of earlier calls or of
    the set-up. Workers can exit before the call returns, so a sleeping
    thread samples instead of reading once at the end; a worker's CPU after
    its last sample is lost (at most SAMPLE_S)."""

    def __init__(self):
        self.peak_kb = 0
        self.by_process_kb: list[int] = []  # the peak sample, largest first
        self._ticks: dict[int, int] = {}
        self._base: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        pids = descendants()
        kb = sorted((_vm_hwm_kb(pid) for pid in pids), reverse=True)
        if sum(kb) > self.peak_kb:
            self.peak_kb, self.by_process_kb = sum(kb), kb
        for pid in (os.getpid(), *pids):
            self._ticks[pid] = max(self._ticks.get(pid, 0), _cpu_ticks(pid))

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_S):
            self._sample()

    def __enter__(self) -> "ProcessTree":
        for pid in descendants():
            _reset_hwm(pid)
        self._sample()
        self._base = dict(self._ticks)
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def rss_mb(self) -> float:
        return self.peak_kb * 1024 / 1e6

    @property
    def cpu_s(self) -> float:
        used = sum(t - self._base.get(pid, 0) for pid, t in self._ticks.items())
        return used / os.sysconf("SC_CLK_TCK")


def shutdown_spark() -> None:
    """Stop any active session, close the py4j gateway and wait until the
    JVM and every process it started have exited."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=SHUTDOWN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=SHUTDOWN_TIMEOUT_S)
    deadline = time.monotonic() + SHUTDOWN_TIMEOUT_S
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass  # exited meanwhile
    while descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.1)
