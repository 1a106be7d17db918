"""Host record and resident-memory sampling."""

from __future__ import annotations

import os
import threading
import time


def cpu_probe(n: int = 5_000_000) -> float:
    """Fixed single-thread work unit (an integer loop), in ns per
    iteration. The host's effective clock drifts between sessions, so
    every result carries this probe for normalising absolute seconds."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return (time.perf_counter() - t0) / n * 1e9


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot. On a virtual
    machine, steal is time the hypervisor gave this machine's CPUs to
    other tenants; it slows a run without showing in its load."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


def host_record(seed: int) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "loadavg_before": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "seed": seed,
        "cpu_probe_ns_per_iter": cpu_probe(),
    }


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _rss_kb(pid: int) -> int:
    """Resident memory of a process, read in constant time."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
    except OSError:
        return 0


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads, by their (truncated) thread names
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_ticks(path: str, fields: slice) -> int:
    try:
        with open(path) as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in rest[fields])


def _jit_ticks_of(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of a process (none unless
    it is a JVM)."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(_JIT_THREADS):
                    continue
        except OSError:
            continue
        ticks += _stat_ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
    return ticks


def tree_cpu(root_pid: int | None = None) -> tuple[float, float]:
    """CPU seconds used so far by a process and every process under it
    (for the benchmark: this client, the Spark driver JVM it launched and
    Spark's Python workers), as (work, jit): ``work`` leaves out what the
    JVM's JIT compiler threads used, which is ``jit``.

    JIT compilation is warm-up: a long-running engine pays it once, but
    in a run of a few windows it is more than half the CPU, and how much
    of it lands in a window depends on how the host schedules the
    compiler threads. The kernel leaves out time the hypervisor gave to
    other machines (steal), and work waiting for a CPU uses none; but
    cores slowed by a busy host still inflate ``work``. The compiler
    threads must live as long as the JVM (HotSpot's
    ``-XX:-UseDynamicNumberOfCompilerThreads``), or the CPU of one that
    exits would move from ``jit`` to ``work``."""
    todo = [os.getpid() if root_pid is None else root_pid]
    total = jit = 0
    while todo:
        pid = todo.pop()
        total += _stat_ticks(f"/proc/{pid}/stat", slice(11, 15))  # utime stime cutime cstime
        jit += _jit_ticks_of(pid)
        todo.extend(_children(pid))
    return (total - jit) * _TICK_S, jit * _TICK_S


def work_cpu_s() -> float:
    """The ``work`` part of :func:`tree_cpu` for this process's tree."""
    return tree_cpu()[0]


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return os.path.basename(argv0).startswith(b"python")


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of a process (the JVM) and the Python processes
    under it (Spark's Python daemon and workers). The workers count by
    proportional share: each page shared between them (the forked
    workers share most of theirs) is split among them, so the sum counts
    it once. The JVM shares no pages with them and counts by plain RSS,
    which costs far less CPU to read than its share (tens of ms for a
    1 GiB heap) and so leaves the CPU metrics alone. Other descendants
    are skipped: a helper the JVM spawns shares the JVM's whole address
    space until it execs, and counting it would count the JVM twice."""
    total, todo = _rss_kb(root_pid), _children(root_pid)
    while todo:
        pid = todo.pop()
        if _is_python(pid):
            total += _pss_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


class RssSampler:
    """Samples the resident memory of the Spark driver JVM and the Python
    workers under it on a background thread; ``peak_mb`` is the
    highest sample."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
