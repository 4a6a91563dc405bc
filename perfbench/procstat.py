"""Process-tree CPU and memory read from ``/proc``, plus host contention probes.

The tree is this process and every live descendant: the Spark JVM that
pyspark launches, the ``pyspark.daemon`` it forks and the Python workers
the daemon forks. A process's CPU is ``utime + stime`` of itself plus
``cutime + cstime`` of the children it has reaped, so a worker that exited
during a key still counts once the daemon has reaped it.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, str, int, int] | None:
    """(ppid, comm, own cpu ticks, reaped-children cpu ticks) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("utf-8", "replace")
    except OSError:
        return None
    lpar, rpar = raw.index("("), raw.rindex(")")
    comm = raw[lpar + 1 : rpar]
    f = raw[rpar + 2 :].split()
    # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    return int(f[1]), comm, int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


def descendants(root: int) -> dict[int, tuple[int, str, int, int]]:
    """Every live process under ``root`` (root included) -> its stat tuple."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds of the tree split into driver, JVM and Python workers.

    ``driver`` is this interpreter alone; ``jvm`` is every non-Python
    process below it; ``pyworker`` is every Python process below the JVM.
    ``total`` adds reaped children, so it only ever grows.
    """
    root = os.getpid() if root is None else root
    procs = descendants(root)
    driver = jvm = pyworker = total = 0
    for pid, (_, comm, own, reaped) in procs.items():
        total += own + reaped
        if pid == root:
            driver += own
        elif comm.startswith("python"):
            pyworker += own + reaped
        else:
            jvm += own
    return {
        "driver": driver / _TICK,
        "jvm": jvm / _TICK,
        "pyworker": pyworker / _TICK,
        "total": total / _TICK,
    }


def tree_rss_mb(root: int | None = None) -> dict[str, float]:
    """Resident memory of the tree in MiB: total, and driver, JVM and Python workers."""
    root = os.getpid() if root is None else root
    out = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (_, comm, _, _) in descendants(root).items():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                mb = int(fh.read().split()[1]) * _PAGE / 2**20
        except (OSError, ValueError, IndexError):
            continue
        part = "driver" if pid == root else "pyworker" if comm.startswith("python") else "jvm"
        out[part] += mb
        out["total"] += mb
    return out


class RssSampler:
    """Background sampler of tree RSS; ``peak`` is the sample with the largest total."""

    def __init__(self, interval_s: float = 0.1):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak = {"total": 0.0}

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        assert self._thread is not None
        self._thread.join(timeout=10)
        self._sample()

    def _sample(self) -> None:
        rss = tree_rss_mb()
        if rss["total"] > self.peak["total"]:
            self.peak = rss

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self._interval)


def steal_ticks() -> int:
    """Cumulative CPU-steal ticks of the host, from the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8])


def calibrate(spark) -> dict[str, float]:
    """Time two reference operations whose cost is fixed by construction.

    The same probe shape as ``bench.py``'s ``_calib``, scaled down so it
    costs well under a second: the min of five 1024x1024 float64 matmuls (CPU
    and memory bandwidth, no JVM) and the min of two codegen sums over
    ``spark.range(10**7)`` (the JVM path with no shuffle or input).
    Drift in either one measures the host, not the engine.
    """
    import numpy as np

    m = np.random.default_rng(0).random((1024, 1024))
    gemm = []
    for _ in range(5):
        t0 = time.perf_counter()
        m @ m
        gemm.append(time.perf_counter() - t0)
    rng = []
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(10**7).selectExpr("sum(id * 2 + 1)").collect()
        rng.append(time.perf_counter() - t0)
    return {"gemm_s": min(gemm), "spark_range_s": min(rng)}
