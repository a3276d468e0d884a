"""Tests for the benchmark's metric arithmetic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math

import pytest

import benchmath as bm


# ---------------------------------------------------------------- growth
def test_decile_windows_take_a_tenth_at_each_end():
    first, last = bm.decile_windows(60)
    assert list(first) == list(range(0, 6))
    assert list(last) == list(range(54, 60))


def test_decile_windows_floor_and_no_overlap():
    first, last = bm.decile_windows(14)
    assert len(first) == len(last) == bm.GROWTH_MIN_WINDOW
    first, last = bm.decile_windows(4)
    assert list(first) == [0, 1] and list(last) == [2, 3]
    first, last = bm.decile_windows(5)
    assert set(first).isdisjoint(last)
    with pytest.raises(ValueError):
        bm.decile_windows(1)


def test_growth_is_last_tenth_median_over_first_tenth_median():
    values = [1.0] * 6 + [5.0] * 48 + [2.0] * 6
    assert bm.growth(values) == pytest.approx(2.0)


def test_growth_cancels_uniform_slowdown():
    values = [1.0 + 0.01 * i for i in range(30)]
    assert bm.growth([1.7 * v for v in values]) == pytest.approx(bm.growth(values))


def test_steady_skips_warmup_and_refuses_empty():
    assert bm.steady([9, 8, 1, 2], 2) == [1, 2]
    with pytest.raises(ValueError):
        bm.steady([1, 2], 2)


# ------------------------------------------------------------- write amp
def test_written_bytes_counts_new_and_rewritten_files_once():
    snaps = [
        {"a": (100, 1)},
        {"a": (100, 1), "b": (50, 2)},  # b new
        {"a": (120, 3), "b": (50, 2)},  # a rewritten in place
        {"a": (120, 3)},  # b deleted: its bytes were still written
    ]
    assert bm.written_bytes(snaps) == 100 + 50 + 120


def test_write_amp_excludes_the_baseline_snapshot():
    base = {"seeded": (1_000, 1)}
    snaps = [base, {**base, "log/0.json": (10, 2), "data/p0": (290, 3)}]
    written = bm.written_bytes(snaps) - bm.written_bytes(snaps[:1])
    assert written == 300
    assert bm.write_amp(written, 100) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        bm.write_amp(written, 0)


# ----------------------------------------------------------- operations
def test_failed_operations_count_batches_and_checks():
    ops = bm.OpCounter()
    for _ in range(5):
        ops.batch(True)
    assert (ops.attempted, ops.failed, ops.correct) == (5, 0, True)
    ops.check(True, "digest")
    ops.check(False, "MV differs")
    ops.batch(False, "batch 5 raised")
    assert (ops.attempted, ops.failed, ops.correct) == (6, 2, False)
    assert ops.failures == ["MV differs", "batch 5 raised"]


def test_no_operations_is_not_correct():
    assert bm.OpCounter().correct is False


def test_result_line_shape():
    ops = bm.OpCounter()
    ops.batch(True)
    line = bm.result_line(ops, {"batch_p50_s": (1.25, "s")})
    assert line == {
        "correct": True,
        "attempted": 1,
        "failed": 0,
        "metrics": {"batch_p50_s": {"value": 1.25, "unit": "s"}},
    }
    with pytest.raises(ValueError):
        bm.result_line(ops, {"x": (math.nan, "s")})


# ------------------------------------------------------------ self times
def _span(sid, parent, start, end):
    return {"id": sid, "name": f"s{sid}", "parent": parent, "start": start, "end": end}


def test_self_times_sum_to_the_root_wall():
    spans = [
        _span(0, None, 0.0, 10.0),  # batch
        _span(1, 0, 0.0, 1.0),  # plan
        _span(2, 0, 2.0, 9.0),  # write
        _span(3, 2, 2.5, 4.0),  # append
        _span(4, 2, 4.0, 8.5),  # refresh
        _span(5, None, 11.0, 12.0),  # another batch: not counted
    ]
    selfs = bm.self_times(spans, 0)
    assert set(selfs) == {0, 1, 2, 3, 4}
    assert selfs[0] == pytest.approx(2.0)  # unattributed remainder
    assert selfs[2] == pytest.approx(1.0)
    assert sum(selfs.values()) == pytest.approx(10.0)


def test_union_seconds_merges_overlaps():
    assert bm.union_seconds([(0, 2), (1, 3), (5, 6), (6, 6)]) == pytest.approx(4.0)
    assert bm.union_seconds([]) == 0.0
