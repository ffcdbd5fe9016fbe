"""Measurement pieces shared by every workload.

- :func:`closed_loop` — the one timing loop: a single client thread runs
  a pre-generated op list back to back until the time budget is spent
  (stopping only between blocks of ops), timing each op and tagging its
  Spark jobs with a per-op job group.
- :func:`tail` / :func:`median` — latency statistics, including the
  tail rule (the highest percentile with at least ``min_beyond``
  samples beyond it).
- :func:`calibration_s` / :func:`drift` / :func:`load_1m` /
  :func:`steal_share` — the host guard.
- :func:`peak_rss_mb` / :func:`space_amp` — process memory and on-disk
  amplification, read from ``/proc`` and ``os.stat``.
"""

from __future__ import annotations

import dataclasses
import hashlib
import math
import os
import statistics
import time
from collections.abc import Callable, Iterable
from typing import Any


@dataclasses.dataclass
class Op:
    op_id: int
    kind: str  # e.g. "get", "multi_get_1000", "put"
    cls: str  # the latency class it reports under: read / write / jobs / operators
    args: dict
    block: int | None = None  # ops of one block run together; None: a block of its own


@dataclasses.dataclass
class OpResult:
    op: Op
    seconds: float
    value: Any = None  # what the op returned, checked after the loop
    error: str | None = None


def job_group(op_id: int, name: str) -> str:
    """The Spark job group of one op (or of one named part of it)."""
    return f"pb-{op_id}-{name}"


def closed_loop(
    ops: Iterable[Op],
    seconds: float,
    run_op: Callable[[Op], Any],
    spark=None,
    after_op: Callable[[OpResult], None] | None = None,
) -> tuple[list[OpResult], float]:
    """Run ``ops`` in order, one at a time, for about ``seconds``.  The
    loop only stops before an op that starts a new block, so every
    block it begins runs to its end and at least one block always
    runs; it starts a new block only while at least half a block (the
    mean of the blocks so far) is left before the deadline, so the loop
    ends within half a block of it.  Returns the per-op results and the
    wall-clock of the loop.  An exception fails only its own op.
    ``after_op`` sees each result after its op's clock has stopped."""
    sc = spark.sparkContext if spark is not None else None
    results: list[OpResult] = []
    t0 = time.perf_counter()
    deadline = t0 + seconds
    blocks = 0
    for op in ops:
        if results and (op.block is None or op.block != results[-1].op.block):
            now = time.perf_counter()
            blocks += 1
            if now + (now - t0) / blocks / 2 >= deadline:
                break
        if sc is not None:
            sc.setJobGroup(job_group(op.op_id, op.kind), op.kind)
        start = time.perf_counter()
        try:
            value, error = run_op(op), None
        except Exception as exc:  # counted as a failed op, never fatal
            value, error = None, f"{type(exc).__name__}: {exc}"[:300]
        results.append(OpResult(op, time.perf_counter() - start, value, error))
        if after_op is not None:
            after_op(results[-1])
    wall = time.perf_counter() - t0
    if sc is not None:
        sc.setJobGroup("pb-idle", "between ops")
    return results, wall


# -- statistics ----------------------------------------------------------------


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, float, int]:
    """The tail latency: the sample at the highest rank that still has
    at least ``min_beyond`` samples above it.  Returns ``(value,
    percentile, n)``.  The percentile never drops below the median: with
    fewer than ``2 * min_beyond + 1`` samples the tail is the median and
    its percentile is reported as 50."""
    n = len(values)
    if n == 0:
        return float("nan"), float("nan"), 0
    s = sorted(values)
    k = n - 1 - min_beyond
    if k < (n - 1) / 2:
        return statistics.median(s), 50.0, n
    return s[k], 100.0 * (k + 1) / n, n


# -- host guard ------------------------------------------------------------------


def calibration_s(reps: int = 7, mb: int = 32) -> float:
    """A constant CPU probe: SHA-256 over a fixed ``mb`` MiB buffer, in
    this process, best of ``reps``.  It runs outside the JVM, so its time
    does not fall as Spark's JIT warms up over a run; a change between
    two probes is a change in what the host gives this machine."""
    buf = bytes(range(256)) * (mb * 4096)
    best = math.inf
    for _ in range(reps):
        t0 = time.perf_counter()
        hashlib.sha256(buf).digest()
        best = min(best, time.perf_counter() - t0)
    return best


def drift(start_s: float, end_s: float) -> float:
    """How far two calibration probes disagree, whichever was slower."""
    return max(end_s / start_s, start_s / end_s) - 1


def cpu_jiffies() -> tuple[int, int]:
    """``(steal, total)`` CPU time of the host so far, from ``/proc/stat``
    (steal: time the hypervisor gave this machine's CPUs to others)."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """The share of CPU time stolen between two :func:`cpu_jiffies` readings."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def load_1m() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return float("nan")


# -- process and disk accounting -----------------------------------------------------


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: Iterable[int]) -> float:
    """Sum of the peak resident set (``VmHWM``) of the given processes."""
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def tree_bytes(root: str, seen: set | None = None) -> int:
    """Bytes of the regular files under ``root``; a hardlinked inode
    counts once (across calls that share ``seen``)."""
    seen = set() if seen is None else seen
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            key = (st.st_dev, st.st_ino)
            if key not in seen:
                seen.add(key)
                total += st.st_size
    return total


def space_amp(table_dir: str, snapshot_dir: str) -> float:
    """On-disk bytes of the whole table directory (hardlinks once)
    divided by the bytes of the current snapshot."""
    current = tree_bytes(snapshot_dir)
    return tree_bytes(table_dir) / current if current else float("nan")


def snapshot_files(snapshot_dir: str) -> dict[tuple, tuple[str, int]]:
    """``{(dev, inode): (partition dir, bytes)}`` of a snapshot's files."""
    out = {}
    for dirpath, _dirs, files in os.walk(snapshot_dir):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            out[(st.st_dev, st.st_ino)] = (os.path.relpath(dirpath, snapshot_dir), st.st_size)
    return out


def snapshot_diff(prev: dict, new: dict) -> dict[str, float]:
    """What one commit did, from the file maps of the snapshot before
    and after it: files written, files hardlinked from the previous
    snapshot, partitions holding a written file, and bytes written."""
    written = [v for k, v in new.items() if k not in prev]
    return {
        "files_written": len(written),
        "files_linked": len(new) - len(written),
        "partitions_touched": len({p for p, _ in written}),
        "bytes_written": sum(b for _, b in written),
    }
