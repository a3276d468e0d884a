"""Pure metric arithmetic for the benchmark: no Spark, no files.

Kept apart from the workloads so ``test_benchmath.py`` can pin the
definitions every later performance claim is made against.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping, Sequence

# Fewest samples in each window of a growth ratio.
GROWTH_MIN_WINDOW = 6


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def steady(values: Sequence[float], warmup: int) -> list[float]:
    """Samples after the first ``warmup``, which pay JIT and cache fill."""
    if warmup < 0:
        raise ValueError("warmup must be >= 0")
    out = list(values[warmup:])
    if not out:
        raise ValueError(f"no samples left after {warmup} warm-up samples")
    return out


def decile_windows(n: int) -> tuple[range, range]:
    """Index ranges of the first and the last tenth of ``n`` samples.

    Each window holds ``round(n / 10)`` samples but at least
    ``GROWTH_MIN_WINDOW``, so that a short run does not compare two single
    samples; the windows never overlap, so ``n`` must be at least 2.
    """
    if n < 2:
        raise ValueError("growth needs at least 2 samples")
    k = min(max(GROWTH_MIN_WINDOW, round(n / 10)), n // 2)
    return range(0, k), range(n - k, n)


def growth(values: Sequence[float]) -> float:
    """Median of the last tenth of ``values`` / median of the first tenth.

    Both medians come from one run, so a box that is uniformly slower for
    the whole run cancels out of the ratio.
    """
    first, last = decile_windows(len(values))
    base = median([values[i] for i in first])
    if base <= 0:
        raise ValueError("first-tenth median must be positive")
    return median([values[i] for i in last]) / base


def written_bytes(snapshots: Iterable[Mapping[str, tuple[int, int]]]) -> int:
    """Bytes written across a series of directory snapshots.

    Each snapshot maps a file path to ``(size, mtime_ns)``. A file counts
    once per distinct ``(size, mtime_ns)`` it is seen with, so a file
    rewritten in place counts again and a file deleted later (a replaced
    state blob, a vacuumed data file) still counts for the bytes that
    were written to it.
    """
    seen: set[tuple[str, int, int]] = set()
    total = 0
    for snap in snapshots:
        for path, (size, mtime_ns) in snap.items():
            key = (path, size, mtime_ns)
            if key not in seen:
                seen.add(key)
                total += size
    return total


def write_amp(bytes_written: int, input_bytes: int) -> float:
    """Bytes the program wrote per input byte it committed."""
    if input_bytes <= 0:
        raise ValueError("write amplification needs input bytes > 0")
    return bytes_written / input_bytes


def self_times(spans: Sequence[Mapping], root_id: int) -> dict[int, float]:
    """Self time of ``root_id`` and each span below it.

    A span's self time is its duration minus the union of the intervals
    its direct children cover inside it, so the self times of a subtree
    add up to the root's duration.
    """
    by_parent: dict[int | None, list[Mapping]] = {}
    by_id = {}
    for s in spans:
        by_id[s["id"]] = s
        by_parent.setdefault(s["parent"], []).append(s)
    out: dict[int, float] = {}
    stack = [root_id]
    while stack:
        sid = stack.pop()
        span = by_id[sid]
        kids = by_parent.get(sid, [])
        covered = union_seconds(
            (max(k["start"], span["start"]), min(k["end"], span["end"])) for k in kids
        )
        out[sid] = (span["end"] - span["start"]) - covered
        stack.extend(k["id"] for k in kids)
    return out


def union_seconds(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class OpCounter:
    """Operations (batches) attempted and failed in one run.

    A batch that raises fails. A correctness check that does not match
    fails one more operation: the run's output is wrong even though every
    batch returned.
    """

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def batch(self, ok: bool, what: str = "batch") -> None:
        self.attempted += 1
        if not ok:
            self._fail(what)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self._fail(what)

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0


def result_line(ops: OpCounter, metrics: Mapping[str, tuple[float, str]]) -> dict:
    """The benchmark's final stdout object."""
    out = {}
    for name, (value, unit) in metrics.items():
        value = float(value)
        if not math.isfinite(value):
            raise ValueError(f"metric {name} is not finite: {value}")
        out[name] = {"value": value, "unit": unit}
    return {
        "correct": ops.correct,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": out,
    }
