"""Host facts for the benchmark report, CPU and memory of this process tree
measured from /proc, and a calibration of the host's current speed."""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
PEAK_INTERVAL_S = 0.5     # PeakMemory sampling period
CALIBRATION_ROUNDS = 3    # timed rounds of calibrate(), after one untimed


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def host_block(path: str) -> dict:
    """nproc, RAM, free disk under ``path``, BLAS threads and library versions."""
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "ram_gb": round(_meminfo_kb("MemTotal") / 2**20, 2),
        "ram_available_gb": round(_meminfo_kb("MemAvailable") / 2**20, 2),
        "disk_free_gb": round(shutil.disk_usage(path).free / 2**30, 2),
        "blas_threads": {
            v: os.environ.get(v) for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
        },
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ")"
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its descendants,
    reaped children included."""
    kids = _children()
    todo, ticks = [root], 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        todo.extend(kids.get(pid, []))
    return ticks / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class Usage:
    """Wall, CPU and stolen seconds between construction and ``since()``."""

    def __init__(self):
        self.wall = time.perf_counter()
        self.cpu = tree_cpu_s(os.getpid())
        self.steal = steal_s()

    def since(self) -> dict:
        return {
            "wall_s": time.perf_counter() - self.wall,
            "cpu_s": tree_cpu_s(os.getpid()) - self.cpu,
            "steal_s": steal_s() - self.steal,
        }


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    """Proportional set size of ``root`` and all its descendants, in MB. PSS
    splits pages shared between forked Python workers instead of counting
    them once per worker."""
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        total += _pss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024


class PeakMemory:
    """Samples the process tree's PSS from a background thread; ``peak_mb``
    holds the largest sample. This process is the tree root, so the driver JVM
    and its Python workers are counted."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(os.getpid()))
            self._stop.wait(PEAK_INTERVAL_S)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _calibration_task(seed: int) -> float:
    """Fixed NumPy and zlib work, the kinds the program's kernels do; returns
    the CPU seconds this thread spent on it."""
    import zlib

    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.standard_normal((384, 384)).astype(np.float32)
    v = rng.standard_normal(1 << 19)
    data = rng.integers(0, 48, 1 << 20, dtype=np.uint8).tobytes()
    t0 = time.thread_time()
    for _ in range(8):
        a @ a
        np.sort(v)
        zlib.decompress(zlib.compress(data, 6))
    return time.thread_time() - t0


def calibrate(cores: int) -> float:
    """CPU seconds of the calibration task with one copy per core running at
    once: the median over CALIBRATION_ROUNDS rounds (after one untimed round) of each
    round's median copy.

    A shared host's speed drifts with its neighbours' load: a NumPy kernel has
    taken 0.38 s and 0.55 s an hour apart on the same four cores. The
    benchmark scales its times by this figure so that the drift cancels."""
    from concurrent.futures import ThreadPoolExecutor

    def one_round() -> float:
        with ThreadPoolExecutor(cores) as pool:
            return statistics.median(pool.map(_calibration_task, range(cores)))

    one_round()
    return statistics.median(one_round() for _ in range(CALIBRATION_ROUNDS))
