"""Tests for the W1-W5 stateful patterns, iter_new_files, and lock takeover."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from polars_incremental_spark import patterns
from polars_incremental_spark.checkpoints.file import commit_new_files, iter_new_files
from polars_incremental_spark.errors import PipelineLockError
from polars_incremental_spark.pipeline import PipelineLock
from polars_incremental_spark.state import JobState


def ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 12, minute, 0)


@pytest.fixture()
def events(spark):
    rows = [
        (1, ts(0), "a"),
        (2, ts(10), "b"),
        (3, ts(20), "a"),
        (4, ts(17), "b"),  # 3 min late vs max — inside 5-minute lateness
        (5, ts(5), "a"),  # 15 min late — beyond lateness
    ]
    return spark.createDataFrame(rows, ["event_id", "ts", "key"])


def test_w1_drop_late(events):
    kept = {r["event_id"] for r in patterns.drop_late(events, "ts", "5 minutes").collect()}
    assert kept == {3, 4}


def test_w1_watermark_monotonic_across_batches(spark, events, tmp_path):
    state = JobState(str(tmp_path / "state"))
    patterns.save_watermark(events, "ts", state)
    # a later batch containing only old data: stored watermark still applies
    old_batch = spark.createDataFrame([(9, ts(1), "a")], ["event_id", "ts", "key"])
    kept = patterns.drop_late(old_batch, "ts", "5 minutes", state=state).collect()
    assert kept == []


def test_w2_route_late(events):
    on_time, late = patterns.route_late(events, "ts", "5 minutes")
    assert {r["event_id"] for r in on_time.collect()} == {3, 4}
    assert {r["event_id"] for r in late.collect()} == {1, 2, 5}


def test_w3_incremental_aggregate(spark, tmp_path):
    state = JobState(str(tmp_path / "state"))
    b1 = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 5.0)], ["k", "v"])
    out1 = {r["k"]: r for r in patterns.incremental_aggregate(
        b1, ["k"], {"v": "sum"}, state=state).collect()}
    assert out1["a"]["v_sum"] == 3.0 and out1["b"]["v_sum"] == 5.0
    b2 = spark.createDataFrame([("a", 10.0), ("c", 1.0)], ["k", "v"])
    out2 = {r["k"]: r for r in patterns.incremental_aggregate(
        b2, ["k"], {"v": "sum"}, state=state).collect()}
    assert out2["a"]["v_sum"] == 13.0 and out2["b"]["v_sum"] == 5.0 and out2["c"]["v_sum"] == 1.0


def test_w4_cross_batch_dedupe(spark, tmp_path):
    state = JobState(str(tmp_path / "state"))
    b1 = spark.createDataFrame([(1, "x"), (2, "y"), (2, "y2")], ["id", "v"])
    out1 = patterns.cross_batch_dedupe(b1, ["id"], state=state)
    assert {r["id"] for r in out1.collect()} == {1, 2}
    b2 = spark.createDataFrame([(2, "z"), (3, "w")], ["id", "v"])
    out2 = patterns.cross_batch_dedupe(b2, ["id"], state=state)
    assert {r["id"] for r in out2.collect()} == {3}
    # re-collecting after the state swap must not change the answer
    assert {r["id"] for r in out2.collect()} == {3}


# ------------------------------------------- W4 seen-id runs: replay probes


def _ids(spark, ids):
    return spark.createDataFrame([(i, f"v{i}") for i in ids], "id long, v string")


def _seen(spark, state, key="seen_ids"):
    path = os.path.join(state.dir, f"{key}.parquet")
    return sorted(map(tuple, spark.read.parquet(path).select("id", "__batch_id").collect()))


def _dedupe(spark, state, ids, batch_id=None):
    out = patterns.cross_batch_dedupe(_ids(spark, ids), ["id"], state=state, batch_id=batch_id)
    return sorted(r["id"] for r in out.collect())


def _window(b):
    """Batch b's ids: 3b..3b+3, so each batch repeats one id of the one before."""
    return range(3 * b, 3 * b + 4)


@pytest.fixture(scope="module")
def w4_control(spark, tmp_path_factory):
    """Nine uninterrupted batches: outputs of the first three, live-run
    counts, seen rows."""
    from polars_incremental_spark.state import _list_runs

    state = JobState(str(tmp_path_factory.mktemp("w4_control")))
    path = os.path.join(state.dir, "seen_ids.parquet")
    outs, n_runs, seen = [], [], []
    for b in range(9):
        if b < 3:
            outs.append(_dedupe(spark, state, _window(b), b))
        else:
            patterns.cross_batch_dedupe(_ids(spark, _window(b)), ["id"], state=state, batch_id=b)
        n_runs.append(len(_list_runs(path)))
        seen.append(_seen(spark, state) if b in (1, 2, 8) else None)
    return {"outs": outs, "n_runs": n_runs, "seen": seen}


def test_w4_live_runs_follow_a_binary_counter(w4_control):
    assert w4_control["n_runs"] == [bin(n).count("1") for n in range(1, 10)]
    # each id once, stamped with the batch that introduced it
    assert w4_control["seen"][8] == [(i, 0) for i in _window(0)] + [
        (i, b) for b in range(1, 9) for i in list(_window(b))[1:]
    ]


def test_w4_writer_crash_after_state_write_replays_like_control(spark, tmp_path, w4_control):
    state = JobState(str(tmp_path / "state"))
    _dedupe(spark, state, _window(0), 0)
    _dedupe(spark, state, _window(1), 1)  # the writer "crashes" after this call
    # the replay absorbs the run [0,1] that holds batch 1's ids
    assert _dedupe(spark, state, _window(1), 1) == w4_control["outs"][1]
    assert _seen(spark, state) == w4_control["seen"][1]


@pytest.mark.parametrize("then", ["replay", "next_batch"])
def test_w4_crash_between_rename_and_delete_loses_no_id(
    spark, tmp_path, monkeypatch, w4_control, then
):
    from polars_incremental_spark import state as state_mod

    state = JobState(str(tmp_path / "state"))
    _dedupe(spark, state, _window(0), 0)

    def crash(path, runs):
        raise RuntimeError("crash before the folded runs are deleted")

    # batch 1 folds run [0,0] into the new run [0,1]
    monkeypatch.setattr(state_mod, "_retire", crash)
    with pytest.raises(RuntimeError, match="crash before"):
        _dedupe(spark, state, _window(1), 1)
    monkeypatch.undo()
    rows = _seen(spark, state)
    assert {i for i, _ in rows} == {i for i, _ in w4_control["seen"][1]}  # nothing lost
    assert len(rows) > len(set(rows))  # [0,0] and [0,1] both live
    if then == "replay":
        assert _dedupe(spark, state, _window(1), 1) == w4_control["outs"][1]
    assert _dedupe(spark, state, _window(2), 2) == w4_control["outs"][2]
    assert _seen(spark, state) == w4_control["seen"][2]


@pytest.mark.parametrize("with_batch_id", [False, True])
def test_w4_legacy_state_keeps_deduping_and_folds_into_runs(spark, tmp_path, with_batch_id):
    from polars_incremental_spark.state import _list_runs

    state = JobState(str(tmp_path / "state"))
    # the whole-set layout earlier versions wrote, with and without provenance
    if with_batch_id:
        legacy = spark.createDataFrame([(1, 0), (2, 0), (3, 1)], "id long, __batch_id int")
    else:
        legacy = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    state.save_parquet("seen_ids", legacy)
    # batch 1 again: with provenance it is a replay, so id 3 is re-emitted
    assert _dedupe(spark, state, [2, 3, 4], 1) == ([3, 4] if with_batch_id else [4])
    # the first fold rewrote the legacy files (and their _SUCCESS/.crc) into one run
    path = os.path.join(state.dir, "seen_ids.parquet")
    runs = _list_runs(path)
    assert len(runs) == 1 and not runs[0].legacy
    assert sorted(os.listdir(path)) == sorted(map(os.path.basename, runs[0].files))
    old = [(1, 0), (2, 0), (3, 1)] if with_batch_id else [(1, -1), (2, -1), (3, -1)]
    assert _seen(spark, state) == old + [(4, 1)]


def test_w4_calls_without_batch_id_then_with(spark, tmp_path):
    state = JobState(str(tmp_path / "state"))
    assert _dedupe(spark, state, [1, 2]) == [1, 2]
    assert _dedupe(spark, state, [2, 3], 0) == [3]
    assert _dedupe(spark, state, [1, 3, 4], 1) == [4]
    # a replay re-emits only its own batch's ids: ids recorded without a
    # batch id are never excluded from the anti-join
    assert _dedupe(spark, state, [1, 3, 4], 1) == [4]
    assert _dedupe(spark, state, [4, 5]) == [5]
    assert _seen(spark, state) == [(1, -1), (2, -1), (3, 0), (4, 1), (5, -1)]


def test_w5_upsert_latest(spark):
    existing = spark.createDataFrame([(1, ts(0), "old"), (2, ts(0), "keep")], ["k", "ts", "v"])
    batch = spark.createDataFrame(
        [(1, ts(5), "mid"), (1, ts(9), "new"), (3, ts(1), "add")], ["k", "ts", "v"]
    )
    out = {r["k"]: r["v"] for r in patterns.upsert_latest(batch, existing, ["k"], "ts").collect()}
    assert out == {1: "new", 2: "keep", 3: "add"}


# ----------------------------------------------------------- iter_new_files


def test_iter_new_files_offset_written_commit_left_to_caller(spark, tmp_path):
    src = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    spark.range(3).write.mode("overwrite").parquet(str(src / "f1.parquet"))

    first = iter_new_files(str(src), ckpt, pattern="*.parquet", recursive=True)
    assert len(first) > 0
    # offset written but not committed → same pending batch replays
    again = iter_new_files(str(src), ckpt, pattern="*.parquet", recursive=True)
    assert again == first

    assert commit_new_files(ckpt) is True
    assert commit_new_files(ckpt) is False  # nothing pending anymore
    assert iter_new_files(str(src), ckpt, pattern="*.parquet", recursive=True) == []

    spark.range(2).write.mode("overwrite").parquet(str(src / "f2.parquet"))
    new = iter_new_files(str(src), ckpt, pattern="*.parquet", recursive=True)
    assert new and all("f2.parquet" in p for p in new)


# ------------------------------------------------------------- lock takeover


def test_file_lock_stale_pid_takeover(tmp_path):
    ckpt = str(tmp_path)
    lock_path = os.path.join(ckpt, ".pipeline.lock")
    # simulate a SIGKILLed holder: PID that cannot exist
    with open(lock_path, "w") as fh:
        fh.write("pid=999999999\nacquired_at=0\n")
    with PipelineLock(ckpt, timeout_s=2, mode="file", stale_seconds=300):
        with open(lock_path) as fh:
            assert f"pid={os.getpid()}" in fh.read()
    assert not os.path.exists(lock_path)


def test_file_lock_live_holder_blocks(tmp_path):
    ckpt = str(tmp_path)
    with open(os.path.join(ckpt, ".pipeline.lock"), "w") as fh:
        fh.write(f"pid={os.getpid()}\nacquired_at={__import__('time').time()}\n")
    with pytest.raises(PipelineLockError):
        with PipelineLock(ckpt, timeout_s=0.3, mode="file", stale_seconds=300):
            pass


def test_file_lock_age_takeover_without_pid(tmp_path):
    ckpt = str(tmp_path)
    lock_path = os.path.join(ckpt, ".pipeline.lock")
    with open(lock_path, "w") as fh:
        fh.write("acquired_at=1000.0\n")  # ancient
    with PipelineLock(ckpt, timeout_s=2, mode="file", stale_seconds=60):
        pass
    assert not os.path.exists(lock_path)


def test_w4_a_run_is_one_file_per_target_size(spark, tmp_path, monkeypatch):
    """A small batch's run is one file however many partitions fed it, and
    a fold rewrites runs into one file too; a tiny file-size floor splits it."""
    from polars_incremental_spark.functions import layout
    from polars_incremental_spark.state import _list_runs

    state = JobState(str(tmp_path / "state"))
    path = os.path.join(state.dir, "seen_ids.parquet")

    def dedupe(ids, b):
        batch = _ids(spark, ids).repartition(4)
        return patterns.cross_batch_dedupe(batch, ["id"], state=state, batch_id=b)

    dedupe(range(0, 40), 0)
    assert [len(r.files) for r in _list_runs(path)] == [1]
    dedupe(range(30, 70), 1)  # folds run 0 into run 0..1
    assert [(r.lo, r.hi, len(r.files)) for r in _list_runs(path)] == [(0, 1, 1)]
    dedupe(range(60, 100), 2)
    monkeypatch.setattr(layout, "MIN_FILE_BYTES", 64)
    dedupe(range(90, 130), 3)  # folds every run into run 0..3
    [run] = _list_runs(path)
    assert (run.lo, run.hi) == (0, 3) and len(run.files) > 1
    assert sorted(r[0] for r in _seen(spark, state)) == list(range(130))
