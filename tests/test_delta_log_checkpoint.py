"""Parquet log checkpoints for the jar-less Delta writer/reader.

At scale, snapshot replay must not reread every JSON commit since table
creation: checkpoint_log summarizes the log into one parquet file
(PROTOCOL.md action-per-row layout), expire_log deletes the summarized
commits, and every reader path (snapshot, metadata, append, vacuum) keeps
working from checkpoint + JSON tail alone.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark.checkpoints.delta import DeltaLog
from polars_incremental_spark.errors import PlanningError
from polars_incremental_spark.sinks.deltalog import (
    checkpoint_log,
    expire_log,
    read_delta_fallback,
    vacuum_fallback,
    write_delta_fallback,
)


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).withColumn("v", F.col("id") * 2)
    write_delta_fallback(mk(0, 10), path)          # v0: create
    write_delta_fallback(mk(10, 20), path)         # v1: append
    write_delta_fallback(mk(100, 120), path, mode="overwrite")  # v2: removes
    write_delta_fallback(mk(120, 130), path)       # v3: append
    return path


def test_checkpoint_snapshot_parity_and_expiry(spark, table):
    log = DeltaLog(table)
    before = [a["path"] for a in log.snapshot_files(log.latest_version())]
    rows_before = sorted(r["id"] for r in read_delta_fallback(spark, table).collect())

    cp = checkpoint_log(table)
    assert os.path.exists(cp) and log.checkpoint_version() == 3
    after = [a["path"] for a in log.snapshot_files(log.latest_version())]
    assert after == before  # checkpoint-seeded replay reproduces the snapshot

    expired = expire_log(table)
    assert len(expired) == 4  # v0..v3 JSON commits summarized away
    assert not glob.glob(os.path.join(table, "_delta_log", "*.json"))
    assert log.latest_version() == 3  # known from _last_checkpoint
    rows_after = sorted(r["id"] for r in read_delta_fallback(spark, table).collect())
    assert rows_after == rows_before
    meta = log.table_metadata()
    assert meta and "schemaString" in meta

    # history below the checkpoint floor is gone — clear error, not garbage
    with pytest.raises(PlanningError):
        log.actions(1)


def test_append_after_expiry_continues_version_chain(spark, table):
    checkpoint_log(table)
    expire_log(table)
    write_delta_fallback(
        spark.range(200, 210).withColumn("v", F.col("id") * 2), table
    )  # must become v4, replayed on top of the checkpoint
    log = DeltaLog(table)
    assert log.latest_version() == 4
    rows = sorted(r["id"] for r in read_delta_fallback(spark, table).collect())
    assert rows == list(range(100, 130)) + list(range(200, 210))

    # a second checkpoint supersedes; expiry drops the old checkpoint file
    checkpoint_log(table)
    removed = expire_log(table)
    names = {os.path.basename(p) for p in removed}
    assert any(n.endswith(".checkpoint.parquet") for n in names)
    assert DeltaLog(table).checkpoint_version() == 4
    rows2 = sorted(r["id"] for r in read_delta_fallback(spark, table).collect())
    assert rows2 == rows


def test_checkpoint_carries_tombstones_for_vacuum(spark, table):
    log = DeltaLog(table)
    checkpoint_log(table)
    removes = [
        a["remove"]["path"]
        for a in log.checkpoint_actions(3)
        if "remove" in a
    ]
    assert removes  # the v2 overwrite's tombstones survived into the checkpoint
    expire_log(table)
    # age the removed files and vacuum: they are reclaimable from the
    # checkpoint-backed snapshot alone
    for rel in removes:
        full = os.path.join(table, rel)
        os.utime(full, (1, 1))
    reclaimed = vacuum_fallback(table, retention_hours=0.0001)
    assert {os.path.basename(p) for p in reclaimed} >= {
        os.path.basename(r) for r in removes
    }
    rows = read_delta_fallback(spark, table).count()
    assert rows == 30  # snapshot untouched


def test_last_checkpoint_pointer_shape(table):
    checkpoint_log(table)
    with open(os.path.join(table, "_delta_log", "_last_checkpoint")) as fh:
        info = json.load(fh)
    assert info["version"] == 3 and info["size"] > 0


def test_checkpoint_empty_maps_parse_as_dicts(table):
    """An unpartitioned table's empty maps (partitionValues, configuration)
    read back from the checkpoint as {} — the JSON commits' shape — not as
    the [] pyarrow yields for an empty map."""
    checkpoint_log(table)
    log = DeltaLog(table)
    actions = log.checkpoint_actions(3)
    adds = [a["add"] for a in actions if "add" in a]
    assert adds and all(a["partitionValues"] == {} for a in adds)
    (meta,) = [a["metaData"] for a in actions if "metaData" in a]
    assert meta["configuration"] == {} and meta["format"]["options"] == {}
    assert all(a["partitionValues"] == {} for a in log.snapshot_files(3))


def test_writer_auto_checkpoints_at_interval(spark, tmp_path):
    """write_delta_fallback checkpoints every CHECKPOINT_INTERVAL commits
    on its own (real Delta behavior), so long-lived planned pipelines get
    O(tail) replay without ever calling checkpoint_log."""
    path = str(tmp_path / "auto")
    for i in range(11):  # versions 0..10
        write_delta_fallback(spark.range(i * 5, i * 5 + 5), path)
    log = DeltaLog(path)
    assert log.checkpoint_version() == 10
    assert os.path.exists(
        os.path.join(path, "_delta_log", f"{10:020d}.checkpoint.parquet")
    )
    assert read_delta_fallback(spark, path).count() == 55

    from polars_incremental_spark.maintenance import checkpoint_delta_log

    write_delta_fallback(spark.range(100, 105), path)  # v11
    checkpoint_delta_log(path, expire=True)
    assert DeltaLog(path).checkpoint_version() == 11
    assert not glob.glob(os.path.join(path, "_delta_log", "*.json"))
    assert read_delta_fallback(spark, path).count() == 60


def test_checkpoint_preserves_protocol_feature_lists(spark, tmp_path):
    """(3,7) protocols REQUIRE reader/writerFeatures; a checkpoint that
    drops them both violates PROTOCOL.md and disarms reader-feature gating
    once expire_log removes the JSON commit that carried them."""
    from polars_incremental_spark.sinks.delta import delete_rows, read_table, write_table

    path = str(tmp_path / "dvt")
    write_table(spark.range(10).selectExpr("id AS x").coalesce(1), path)
    delete_rows(spark, path, "x < 3", dv_max_rows_per_file=100)
    checkpoint_log(path)
    expire_log(path)
    log = DeltaLog(path)
    proto = log.protocol()
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in (proto.get("readerFeatures") or [])
    assert "deletionVectors" in (proto.get("writerFeatures") or [])
    # DV still applies after expiry
    assert read_table(spark, path).count() == 7


def test_reader_gate_still_armed_after_expiry(spark, tmp_path):
    """An UNSUPPORTED reader feature must still be refused when its
    protocol action survives only inside the parquet checkpoint."""
    from polars_incremental_spark.sinks.deltalog import _write_commit

    path = str(tmp_path / "future")
    write_delta_fallback(spark.range(5).selectExpr("id AS x"), path)
    _write_commit(
        os.path.join(path, "_delta_log"),
        1,
        [
            {"commitInfo": {"timestamp": 1, "operation": "UPGRADE"}},
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["columnMapping"],
                    "writerFeatures": ["columnMapping"],
                }
            },
        ],
    )
    checkpoint_log(path)
    expire_log(path)
    log = DeltaLog(path)
    with pytest.raises(Exception, match="columnMapping"):
        log.check_reader_supported()



def test_checkpoint_parse_is_cached_and_never_shared(table, monkeypatch):
    """A checkpoint file is parsed once, a replaced one again, and a
    caller that changes the actions it got cannot change what the next
    caller gets."""
    import pyarrow.parquet as pq

    checkpoint_log(table)
    log = DeltaLog(table)
    v = log.checkpoint_version()
    first = log.checkpoint_actions(v)
    n_actions = len(first)
    reads = []
    real = pq.read_table
    monkeypatch.setattr(pq, "read_table", lambda *a, **k: reads.append(a) or real(*a, **k))

    next(a["add"] for a in first if "add" in a)["path"] = "tampered.parquet"
    next(a["metaData"] for a in first if "metaData" in a)["format"]["provider"] = "csv"
    first.clear()
    again = DeltaLog(table).checkpoint_actions(v)
    assert not reads
    assert len(again) == n_actions
    assert all(a["add"]["path"] != "tampered.parquet" for a in again if "add" in a)
    assert next(a["metaData"] for a in again if "metaData" in a)["format"]["provider"] == "parquet"

    checkpoint_log(table, version=v)  # replaces the file
    assert len(log.checkpoint_actions(v)) == n_actions
    assert len(reads) == 1


def test_checkpoint_cache_keeps_one_checkpoint_per_table(spark, table):
    """Reading a newer checkpoint drops the older one's cached parse, so a
    long-running process holds at most one parsed checkpoint per table,
    however many it writes; every part of a multi-part one is in it."""
    from polars_incremental_spark.checkpoints import delta as checkpoints

    log = DeltaLog(table)
    checkpoint_log(table)
    old = log.checkpoint_version()
    log.checkpoint_actions(old)
    write_delta_fallback(spark.range(200, 210).withColumn("v", F.col("id") * 2), table)
    checkpoint_log(table, parts=2)
    new = log.checkpoint_version()
    assert new > old
    assert len(log.checkpoint_actions(new)) > 0

    ident, _ = checkpoints._CHECKPOINT_CACHE[log.log_dir]
    assert [os.path.basename(path) for path, *_ in ident] == [
        f"{new:020d}.checkpoint.{part:010d}.{2:010d}.parquet" for part in (1, 2)
    ]
