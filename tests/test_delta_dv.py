"""Deletion-vector DELETEs on the jar-less Delta path.

Enabled per table via delta.enableDeletionVectors (real Delta's gate):
small deletes become metadata-only commits (inline z85/roaring DVs,
protocol v3 readerFeatures), the snapshot reader applies them on every
read, OPTIMIZE materializes them, and file-backed/foreign DVs stay
fail-closed.  The metadata-only property is proven the hard way: the
data file's bytes are fingerprinted before and after the delete.
"""

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark.checkpoints.delta import DeltaLog
from polars_incremental_spark.errors import PlanningError
from polars_incremental_spark.sinks.delta import delete_rows, read_table, write_table
from polars_incremental_spark.sinks.deltalog import (
    checkpoint_log,
    compact_fallback,
    delete_where,
    expire_log,
    set_table_properties,
)


def _dv_table(spark, path, n=100):
    write_table(
        spark.range(n)
        .select(F.col("id").alias("x"), (F.col("id") % 4).alias("g"))
        .coalesce(1),
        path,
    )
    set_table_properties(path, {"delta.enableDeletionVectors": "true"})


def _file_md5s(path):
    log = DeltaLog(path)
    out = {}
    for a in log.snapshot_files(log.latest_version()):
        with open(log.abs_path(a["path"]), "rb") as h:
            out[a["path"]] = hashlib.md5(h.read()).hexdigest()
    return out


def test_dv_delete_is_metadata_only(spark, tmp_path):
    path = str(tmp_path / "t")
    _dv_table(spark, path)
    before = _file_md5s(path)
    res = delete_rows(spark, path, "g = 1")
    assert res["files_dv"] == 1 and res["files_rewritten"] == 0
    assert res["rows_deleted"] == 25
    after = _file_md5s(path)
    assert before == after  # SAME file bytes: the delete wrote only metadata
    out = read_table(spark, path)
    assert out.count() == 75
    assert out.filter("g = 1").count() == 0
    # the add action carries an inline DV with the right cardinality
    log = DeltaLog(path)
    dv = log.snapshot_files(log.latest_version())[0]["deletionVector"]
    assert dv["storageType"] == "i" and dv["cardinality"] == 25


def test_second_dv_delete_merges_positions(spark, tmp_path):
    path = str(tmp_path / "t")
    _dv_table(spark, path)
    delete_rows(spark, path, "g = 1")
    res2 = delete_rows(spark, path, "g = 2")
    assert res2["files_dv"] == 1 and res2["rows_deleted"] == 25
    out = read_table(spark, path)
    assert out.count() == 50
    assert out.filter("g in (1, 2)").count() == 0
    log = DeltaLog(path)
    dv = log.snapshot_files(log.latest_version())[0]["deletionVector"]
    assert dv["cardinality"] == 50  # union of both deletes


def test_dv_requires_table_property(spark, tmp_path):
    path = str(tmp_path / "t")
    write_table(spark.range(100).select(F.col("id").alias("x")).coalesce(1), path)
    before = _file_md5s(path)
    res = delete_rows(spark, path, "x < 10")  # property NOT set
    assert res["files_dv"] == 0 and res["files_rewritten"] == 1
    assert _file_md5s(path) != before  # copy-on-write as before


def test_large_delete_falls_back_to_rewrite(spark, tmp_path):
    path = str(tmp_path / "t")
    _dv_table(spark, path, n=100)
    res = delete_rows(spark, path, "x < 90", dv_max_rows_per_file=10)
    assert res["files_dv"] == 0 and res["files_rewritten"] == 1
    assert read_table(spark, path).count() == 10


def test_dv_protocol_upgrade_written_once(spark, tmp_path):
    path = str(tmp_path / "t")
    _dv_table(spark, path)
    delete_rows(spark, path, "g = 1")
    log = DeltaLog(path)
    proto = log.protocol()
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]
    v_after_first = log.latest_version()
    delete_rows(spark, path, "g = 2")
    protos = [
        a for a in log.actions(v_after_first + 1) if "protocol" in a
    ]
    assert protos == []  # already upgraded: no repeat protocol action

    # every other feature-adding commit follows the same rule: no protocol
    # action when the protocol already supports the feature
    from polars_incremental_spark.sinks.deltalog import (
        add_check_constraint,
        enable_column_mapping,
        enable_in_commit_timestamps,
        enable_row_tracking,
    )

    def protocol_written(version):
        return any("protocol" in a for a in log.actions(version))

    add_check_constraint(spark, path, "a", "x >= 0")
    assert protocol_written(log.latest_version())
    add_check_constraint(spark, path, "b", "x < 1000")
    assert not protocol_written(log.latest_version())
    # a protocol that already lists columnMapping (as another engine may
    # leave it) while the mode is still off
    proto = log.protocol()
    v = log.latest_version() + 1
    with open(os.path.join(path, "_delta_log", f"{v:020d}.json"), "w") as h:
        h.write(json.dumps({"protocol": {
            **proto,
            "readerFeatures": proto["readerFeatures"] + ["columnMapping"],
            "writerFeatures": proto["writerFeatures"] + ["columnMapping"],
        }}) + "\n")
    assert not protocol_written(enable_column_mapping(path))
    for enable, key in (
        (enable_in_commit_timestamps, "delta.enableInCommitTimestamps"),
        (enable_row_tracking, "delta.enableRowTracking"),
    ):
        assert protocol_written(enable(path))
        set_table_properties(path, {key: "false"})
        assert not protocol_written(enable(path))
    final = log.protocol()
    assert final["minReaderVersion"] == 3 and final["minWriterVersion"] == 7
    assert {"deletionVectors", "columnMapping"} <= set(final["readerFeatures"])
    assert {
        "deletionVectors", "checkConstraints", "inCommitTimestamp",
        "rowTracking", "domainMetadata", "columnMapping",
    } <= set(final["writerFeatures"])


def test_dv_survives_log_checkpoint(spark, tmp_path):
    path = str(tmp_path / "t")
    _dv_table(spark, path)
    delete_rows(spark, path, "g = 3")
    checkpoint_log(path)
    expire_log(path)
    # checkpoint-seeded replay must still apply the DV
    out = read_table(spark, path)
    assert out.count() == 75 and out.filter("g = 3").count() == 0


def test_optimize_materializes_dv(spark, tmp_path):
    path = str(tmp_path / "t")
    _dv_table(spark, path)
    delete_rows(spark, path, "g = 0")
    compact_fallback(spark, path, target_partitions=1)
    log = DeltaLog(path)
    adds = log.snapshot_files(log.latest_version())
    assert all(not a.get("deletionVector") for a in adds)
    out = read_table(spark, path)
    assert out.count() == 75 and out.filter("g = 0").count() == 0


def test_dv_with_cdf_streams_precise_deletes(spark, tmp_path):
    from polars_incremental_spark.cdc import apply_cdc
    from polars_incremental_spark.sources.base import DeltaSource

    path, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    _dv_table(spark, path, n=20)
    src = DeltaSource(
        path=path, read_change_feed=True, start_offset="earliest"
    ).with_checkpoint(ckpt)
    downstream = None
    while (b := src.plan_batch()) is not None:
        downstream = apply_cdc(src.read_batch(spark, b), downstream, keys=["x"])
        src.commit_batch(b)
    delete_rows(spark, path, "x < 5", write_cdf=True)
    while (b := src.plan_batch()) is not None:
        downstream = apply_cdc(src.read_batch(spark, b), downstream, keys=["x"])
        src.commit_batch(b)
    got = sorted(r["x"] for r in downstream.collect())
    want = sorted(r["x"] for r in read_table(spark, path).collect())
    assert got == want == list(range(5, 20))


def test_streaming_tailer_without_cdf_gates_dv_tables(spark, tmp_path):
    from polars_incremental_spark.checkpoints.delta import DeltaTableCheckpoint
    from polars_incremental_spark.sources.base import DeltaSource

    path, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    _dv_table(spark, path)
    delete_rows(spark, path, "g = 1")
    cp = DeltaTableCheckpoint(ckpt, path)
    # the non-CDF tailer reads commit file-lists directly and cannot apply
    # DVs — it must refuse, not resurrect the deleted rows
    with pytest.raises(PlanningError, match="deletion"):
        cp.plan_batch(DeltaSource(path=path, ignore_changes=True))


def test_foreign_file_backed_dv_still_gated(spark, tmp_path):
    path = str(tmp_path / "t")
    _dv_table(spark, path)
    log = DeltaLog(path)
    add = dict(log.snapshot_files(log.latest_version())[0])
    add.pop("commit_version", None)
    add["deletionVector"] = {
        "storageType": "u",
        "pathOrInlineDv": "ab^cd",
        "offset": 1,
        "sizeInBytes": 40,
        "cardinality": 3,
    }
    v = log.latest_version() + 1
    with open(os.path.join(path, "_delta_log", f"{v:020d}.json"), "w") as h:
        h.write(json.dumps({"add": add}) + "\n")
    with pytest.raises(PlanningError, match="file-backed"):
        read_table(spark, path)


def test_update_and_time_travel_respect_dv(spark, tmp_path):
    from polars_incremental_spark.sinks.delta import update_rows

    path = str(tmp_path / "t")
    _dv_table(spark, path)
    v0 = DeltaLog(path).latest_version()
    delete_rows(spark, path, "g = 1")
    # UPDATE after a DV delete reads through the DV: deleted rows can't
    # resurrect in the rewrite
    update_rows(spark, path, "g = 2", {"x": "x + 1000"})
    out = read_table(spark, path)
    assert out.count() == 75
    assert out.filter("g = 1").count() == 0
    assert out.filter("x >= 1000").count() == 25
    # time travel to before the delete sees all rows
    assert read_table(spark, path, version=v0).count() == 100


def test_dv_global_budget_demotes_to_rewrite(spark, tmp_path):
    """Per-file counts below the threshold but above the GLOBAL budget:
    the overflow files rewrite instead of accumulating unbounded driver
    positions."""
    from polars_incremental_spark.sinks import deltalog as dl

    path = str(tmp_path / "t")
    write_table(
        spark.range(300)
        .select(F.col("id").alias("x"))
        .repartitionByRange(3, "x"),
        path,
    )
    set_table_properties(path, {"delta.enableDeletionVectors": "true"})
    orig = dl.DV_GLOBAL_POSITION_BUDGET
    dl.DV_GLOBAL_POSITION_BUDGET = 150  # fits ~1-2 files of 100 hits each
    try:
        res = delete_rows(spark, path, "pmod(x, 1) = 0")  # all 300 rows hit
    finally:
        dl.DV_GLOBAL_POSITION_BUDGET = orig
    assert res["files_dv"] == 1  # only one 100-hit file fits the budget
    assert res["files_rewritten"] == 2
    assert read_table(spark, path).count() == 0


def test_optimize_applies_and_clears_dv(spark, tmp_path):
    """Compaction must APPLY deletion vectors (deleted rows stay dead) and
    clear the descriptors on the compacted files."""
    from polars_incremental_spark.maintenance import optimize_delta_table

    path = str(tmp_path / "t")
    write_table(
        spark.range(100).select(F.col("id").alias("x")).repartition(4), path
    )
    delete_rows(spark, path, "x % 10 = 0", dv_max_rows_per_file=100)
    assert read_table(spark, path).count() == 90
    optimize_delta_table(spark, path, target_partitions=1)
    log = DeltaLog(path)
    snap = log.snapshot_files(log.latest_version())
    assert len(snap) == 1 and not snap[0].get("deletionVector")
    rows = sorted(r["x"] for r in read_table(spark, path).collect())
    assert len(rows) == 90 and all(x % 10 != 0 for x in rows)


def test_update_over_dv_file_keeps_rows_dead(spark, tmp_path):
    from polars_incremental_spark.sinks.delta import update_rows

    path = str(tmp_path / "t")
    write_table(
        spark.range(10)
        .select(F.col("id").alias("x"), F.lit(0).cast("long").alias("v"))
        .coalesce(1),
        path,
    )
    delete_rows(spark, path, "x < 3", dv_max_rows_per_file=100)
    update_rows(spark, path, "x >= 8", {"v": "1"})
    rows = sorted((r["x"], r["v"]) for r in read_table(spark, path).collect())
    assert [x for x, _ in rows] == list(range(3, 10)), "UPDATE resurrected DV rows"
    assert all(v == (1 if x >= 8 else 0) for x, v in rows)


def test_merge_over_dv_file_treats_dead_rows_as_unmatched(spark, tmp_path):
    """A DV-deleted key is GONE: a source row for it must take the
    not-matched insert clause, not match the tombstoned physical row."""
    from polars_incremental_spark.sinks.deltalog import merge_into

    path = str(tmp_path / "t")
    write_table(
        spark.range(10)
        .select(F.col("id").alias("x"), F.lit(0).cast("long").alias("v"))
        .coalesce(1),
        path,
    )
    delete_rows(spark, path, "x < 3", dv_max_rows_per_file=100)
    src = spark.createDataFrame([(1, 5), (9, 7)], "x long, v long")
    merge_into(
        spark, path, src, keys=["x"],
        when_matched_update={"v": "src.v"}, when_not_matched_insert=True,
    )
    rows = sorted((r["x"], r["v"]) for r in read_table(spark, path).collect())
    assert (1, 5) in rows and (9, 7) in rows
    assert (0, 0) not in rows and (2, 0) not in rows


def test_shallow_clone_of_dv_table(spark, tmp_path):
    from polars_incremental_spark.sinks.deltalog import clone_table

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    write_table(
        spark.range(10).select(F.col("id").alias("x")).coalesce(1), src
    )
    delete_rows(spark, src, "x < 3", dv_max_rows_per_file=100)
    clone_table(src, dst)
    assert read_table(spark, dst).count() == 7
