"""Checkpoint planning invariants (reference tests/test_checkpoint.py analog):
offset-before-commit, retry reuses the same batch, caps, start offsets,
overwrite re-queueing, max_file_age, index sharding.  The write-ahead-log
behaviours run on both checkpoint kinds (``wal``)."""

import os
import time

import pytest

from polars_incremental_spark.checkpoints.delta import DeltaLog, DeltaTableCheckpoint
from polars_incremental_spark.checkpoints.file import FileStreamCheckpoint, list_files
from polars_incremental_spark.sources.base import DeltaSource


def _touch(path, content=b"x", mtime_s=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(content)
    if mtime_s is not None:
        os.utime(path, (mtime_s, mtime_s))


@pytest.fixture()
def indir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    return str(d)


@pytest.fixture()
def cp(tmp_path):
    return FileStreamCheckpoint(str(tmp_path / "cp"))


@pytest.fixture(params=["file", "delta"])
def wal(request, tmp_path):
    """``(checkpoint, add, plan)`` for either checkpoint kind: ``add()``
    lands new input and returns its file paths, ``plan()`` plans the next
    batch."""
    ckpt = str(tmp_path / "cp")
    if request.param == "file":
        indir = str(tmp_path / "in")
        cp = FileStreamCheckpoint(ckpt)

        def add():
            path = os.path.join(indir, f"f{len(list_files(indir))}.parquet")
            _touch(path)
            return [path]

        return cp, add, lambda: cp.plan_batch(list_files(indir))
    from polars_incremental_spark.sinks.deltalog import write_delta_fallback

    spark = request.getfixturevalue("spark")
    table = str(tmp_path / "t")
    cp = DeltaTableCheckpoint(ckpt, table)

    def add():
        version = write_delta_fallback(spark.range(1).coalesce(1), table)
        log = DeltaLog(table)
        return [log.abs_path(a["add"]["path"]) for a in log.actions(version) if "add" in a]

    return cp, add, lambda: cp.plan_batch(DeltaSource(path=table))


def test_plan_then_commit_then_idle(indir, cp):
    _touch(f"{indir}/a.parquet")
    _touch(f"{indir}/b.parquet")
    batch = cp.plan_batch(list_files(indir))
    assert batch is not None and batch.batch_id == 0
    assert sorted(os.path.basename(f) for f in batch.files) == ["a.parquet", "b.parquet"]
    # offset written before commit
    assert cp.latest_offset_batch_id() == 0
    assert cp.latest_commit_batch_id() is None
    cp.commit_batch(batch, {"rows": 2})
    assert cp.latest_commit_batch_id() == 0
    assert cp.commit_metadata(0)["metadata"] == {"rows": 2}
    # nothing new -> idle
    assert cp.plan_batch(list_files(indir)) is None


def test_retry_reuses_same_batch(wal):
    cp, add, plan = wal
    add()
    first = plan()
    # no commit (simulated sink failure); new input arrives meanwhile
    late = add()
    retry = plan()
    assert retry.batch_id == first.batch_id
    assert retry.files == first.files  # same input set on retry
    cp.commit_batch(retry)
    nxt = plan()
    assert nxt.batch_id == 1
    assert nxt.files == late


def test_max_files_and_bytes_caps(indir, cp):
    now = time.time()
    for i in range(5):
        _touch(f"{indir}/f{i}.parquet", b"x" * 100, mtime_s=now + i)
    b0 = cp.plan_batch(list_files(indir), max_files=2)
    assert len(b0.files) == 2
    cp.commit_batch(b0)
    b1 = cp.plan_batch(list_files(indir), max_bytes=150)
    assert len(b1.files) == 1  # second file would exceed the byte cap
    cp.commit_batch(b1)
    # byte cap never blocks the first (oversized) file
    b2 = cp.plan_batch(list_files(indir), max_bytes=10)
    assert len(b2.files) == 1


def test_start_offset_latest_skips_existing(indir, cp):
    old = time.time() - 100
    _touch(f"{indir}/old.parquet", mtime_s=old)
    assert cp.plan_batch(list_files(indir), start_offset="latest") is None
    _touch(f"{indir}/new.parquet", mtime_s=time.time() + 5)
    batch = cp.plan_batch(list_files(indir), start_offset="latest")
    assert [os.path.basename(f) for f in batch.files] == ["new.parquet"]


def test_start_offset_sticky_across_runs(indir, cp):
    _touch(f"{indir}/a.parquet", mtime_s=time.time() - 50)
    assert cp.plan_batch(list_files(indir), start_offset="latest") is None
    # requesting earliest later is ignored: stored start offset wins
    assert cp.plan_batch(list_files(indir), start_offset="earliest") is None


def test_start_offset_timestamp(indir, cp):
    _touch(f"{indir}/old.parquet", mtime_s=1000.0)
    _touch(f"{indir}/new.parquet", mtime_s=2000.0)
    batch = cp.plan_batch(list_files(indir), start_offset="timestamp:1500")
    assert [os.path.basename(f) for f in batch.files] == ["new.parquet"]


def test_overwrite_detection(indir, cp):
    _touch(f"{indir}/a.parquet", b"v1", mtime_s=1000.0)
    b0 = cp.plan_batch(list_files(indir), allow_overwrites=True)
    cp.commit_batch(b0)
    # same path, new content+mtime -> re-queued only with allow_overwrites
    _touch(f"{indir}/a.parquet", b"v2-longer", mtime_s=2000.0)
    assert cp.plan_batch(list_files(indir), allow_overwrites=False) is None
    b1 = cp.plan_batch(list_files(indir), allow_overwrites=True)
    assert [os.path.basename(f) for f in b1.files] == ["a.parquet"]


def test_max_file_age(indir, cp):
    now = time.time()
    _touch(f"{indir}/ancient.parquet", mtime_s=now - 3600)
    _touch(f"{indir}/fresh.parquet", mtime_s=now)
    batch = cp.plan_batch(list_files(indir), max_file_age_seconds=60)
    assert [os.path.basename(f) for f in batch.files] == ["fresh.parquet"]


def test_index_sharding(indir, cp):
    _touch(f"{indir}/a.parquet")
    batch = cp.plan_batch(list_files(indir))
    cp.commit_batch(batch)
    shards = [n for n in os.listdir(cp.index_dir) if n.endswith(".json")]
    assert len(shards) == 1  # one file -> exactly one touched shard
    index = cp.load_index()
    assert len(index) == 1
    path, stat = next(iter(index.items()))
    assert path.endswith("a.parquet") and stat["size"] > 0


def test_schema_persistence(wal):
    cp = wal[0]
    assert cp.get_schema() is None
    cp.set_schema('{"type":"struct","fields":[]}')
    assert cp.get_schema() == '{"type":"struct","fields":[]}'
