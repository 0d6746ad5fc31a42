"""Run plumbing shared by the workloads: the closed loop, the
process-tree RSS sampler, the live-heap probe, the host-speed
reference, the per-run host record and summary statistics."""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


@dataclass
class LoopResult:
    ops: list[int] = field(default_factory=list)  # every operation started
    ops_ok: list[int] = field(default_factory=list)  # those that passed, as latencies
    latencies: list[float] = field(default_factory=list)
    rows: list[int] = field(default_factory=list)  # input rows of each passed operation
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    wall: float = 0.0

    @property
    def rows_per_s(self) -> float:
        """Median over operations of rows completed per second."""
        return median([r / t for r, t in zip(self.rows, self.latencies)])


def closed_loop(
    op: Callable[[int], int], check: Callable[[int], None], first: int, count: int
) -> LoopResult:
    """One client: operation ``i`` starts only after ``i - 1`` returned.

    ``op(i)`` is timed and returns the input rows it completed;
    ``check(i)`` runs outside the timed region and raises on a wrong
    output. Runs operations ``first .. first + count - 1``.
    """
    res = LoopResult()
    for i in range(first, first + count):
        res.attempted += 1
        res.ops.append(i)
        t0 = time.perf_counter()
        try:
            rows = op(i)
        except Exception as exc:  # a failed operation is counted, not fatal
            res.wall += time.perf_counter() - t0
            res.failed += 1
            res.failures.append(f"op {i}: {type(exc).__name__}: {exc}")
            continue
        dt = time.perf_counter() - t0
        res.wall += dt
        try:
            check(i)
        except Exception as exc:
            res.failed += 1
            res.failures.append(f"check {i}: {type(exc).__name__}: {exc}")
        else:
            res.ops_ok.append(i)
            res.latencies.append(dt)
            res.rows.append(rows)
    return res


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_resident_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants, pages
    shared by copy-on-write split between the sharers (the sum of their
    proportional set sizes). A JVM child still running the JVM's own
    binary is a helper between vfork and exec that shares the JVM's
    whole address space: it is skipped, not counted a second time.

    The JVM shares next to nothing with other processes (its RSS and
    PSS differ by ~0.2%), so it is read from ``statm`` in microseconds:
    ``smaps_rollup`` walks every page of its ~2 GB and took ~25 ms,
    a quarter of a core at the sampling interval, inside the timed
    region."""
    total, stack = 0, [(root_pid, "")]
    while stack:
        pid, parent_exe = stack.pop()
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            if exe.endswith("/java"):
                if exe == parent_exe:
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            else:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            stack.extend((c, exe) for c in children(pid))
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
    return total


def children(pid: int) -> list[int]:
    """Direct child processes of ``pid`` (Linux /proc)."""
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{task}/children") as f:
            out.extend(int(c) for c in f.read().split())
    return out


class RssSampler:
    """Resident memory of this process and its children (the JVM),
    sampled by one daemon thread while active; the peak of each
    operation is kept between ``start_op`` and ``end_op``."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self.op_peaks_mb: list[float] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_resident_bytes(pid))
            self._stop.wait(self.interval)

    def start_op(self) -> None:
        self.peak = 0

    def end_op(self) -> None:
        self.op_peaks_mb.append(self.peak / 2**20)


class LiveHeap:
    """JVM heap still in use after a full collection, sampled at
    operation boundaries, outside the timed region: the data the run
    keeps alive between operations (streaming state, caches, leaks).
    Unlike resident memory it does not depend on how far the collector
    chose to grow the heap."""

    def __init__(self, spark) -> None:
        self._jvm = spark.sparkContext._jvm
        self.samples_mb: list[float] = []

    def sample(self) -> None:
        self._jvm.System.gc()
        heap = self._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.samples_mb.append(heap.getHeapMemoryUsage().getUsed() / 2**20)


class HostSpeed:
    """How fast the host runs fixed work right now: the time of a
    reference task that runs none of the package's code, three
    ``Arrays.parallelSort`` calls in the JVM on copies of two million
    seeded doubles, on all cores. It is sampled outside the timed region.

    The host is shared, and its speed moved by up to a half within an
    hour; the package's operations moved largely with this reference
    (NOTES.md), so the time metrics are reported at a fixed reference
    speed."""

    REPS, N = 3, 2_000_000

    def __init__(self, spark) -> None:
        self._jvm = spark.sparkContext._jvm
        self._data = self._jvm.java.util.Random(7).doubles(self.N).toArray()
        self.samples_s: list[float] = []

    def sample(self) -> None:
        arrays = self._jvm.java.util.Arrays
        t0 = time.perf_counter()
        for _ in range(self.REPS):
            arrays.parallelSort(arrays.copyOf(self._data, self.N))
        self.samples_s.append(time.perf_counter() - t0)


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (longest prefix)."""
    best, kind = "", "unknown"
    real = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if (real == mnt or real.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, fstype
    return kind


def _git_sha(root: Path) -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"


def host_record(spark, root: Path) -> dict:
    """What the run ran on: cores, RAM, versions, commit and the
    ephemeral-scratch base ``streaming.ephemeral`` chose for this run."""
    import pyspark

    from db_cdc_poc_spark.streaming.ephemeral import (
        discard_ephemeral_dir,
        ephemeral_checkpoint_dir,
    )

    probe = ephemeral_checkpoint_dir("perfbench_probe_")
    fs = _fs_type(probe)
    discard_ephemeral_dir(probe)
    return {
        "nproc": os.cpu_count(),
        "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "ram_gb": round(ram_bytes() / 2**30, 1),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": _git_sha(root),
        "ephemeral_base": os.path.dirname(probe),
        "ephemeral_fs": "tmpfs" if fs == "tmpfs" else f"disk ({fs})",
    }
