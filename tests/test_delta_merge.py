"""MERGE INTO on the jar-less path: the general three-clause merge,
file-selective (only files a delete or update clause acts on rewrite),
with Delta's multiple-match guard, constraint/generated-column
enforcement, and full CDF emission.  MERGE and UPDATE commit through
write_delta_fallback's file-selective overwrite, so they share its
operation record, conflict check and periodic log checkpoint."""

import json
import os

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark.checkpoints.delta import DeltaLog
from polars_incremental_spark.errors import ConstraintViolationError
from polars_incremental_spark.sinks import deltalog
from polars_incremental_spark.sinks.delta import read_table, write_table
from polars_incremental_spark.sinks.deltalog import (
    CHECKPOINT_INTERVAL,
    CommitConflictError,
    add_check_constraint,
    delete_where,
    merge_into,
    set_table_properties,
    table_history,
    update_where,
    write_delta_fallback,
)


@pytest.fixture()
def target(spark, tmp_path):
    path = str(tmp_path / "t")
    write_table(
        spark.range(100)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(4, "k"),
        path,
    )
    return path


def test_merge_upsert_rewrites_only_hit_files(spark, target):
    log = DeltaLog(target)
    before = {a["path"] for a in log.snapshot_files(log.latest_version())}
    source = spark.createDataFrame(
        [(5, 500.0), (7, 700.0), (1000, 1.0)], "k long, v double"
    )
    res = merge_into(
        spark, target, source, keys=["k"],
        when_matched_update={"v": "src.v"},
    )
    assert res["rows_updated"] == 2 and res["rows_inserted"] == 1
    after = {a["path"] for a in log.snapshot_files(log.latest_version())}
    # keys 5 and 7 live in the SAME range file -> exactly one file rewrote
    # (plus one new insert file)
    assert len(before & after) == len(before) - 1
    rows = {r["k"]: r["v"] for r in read_table(spark, target).collect()}
    assert rows[5] == 500.0 and rows[7] == 700.0 and rows[1000] == 1.0
    assert rows[6] == 6.0  # untouched neighbor carried byte-equal
    assert len(rows) == 101


def test_merge_matched_delete_clause_order(spark, target):
    # WHEN MATCHED AND cond THEN DELETE evaluates before the update clause
    source = spark.createDataFrame(
        [(1, -1.0), (2, 20.0)], "k long, v double"
    )
    res = merge_into(
        spark, target, source, keys=["k"],
        when_matched_delete="src.v < 0",
        when_matched_update={"v": "src.v"},
        when_not_matched_insert=False,
    )
    assert res["rows_deleted"] == 1 and res["rows_updated"] == 1
    assert res["rows_inserted"] == 0
    rows = {r["k"]: r["v"] for r in read_table(spark, target).collect()}
    assert 1 not in rows and rows[2] == 20.0 and len(rows) == 99


def test_merge_multiple_match_aborts(spark, target):
    source = spark.createDataFrame(
        [(5, 1.0), (5, 2.0)], "k long, v double"
    )
    v = DeltaLog(target).latest_version()
    with pytest.raises(ValueError, match="multiple source rows"):
        merge_into(
            spark, target, source, keys=["k"],
            when_matched_update={"v": "src.v"},
        )
    assert DeltaLog(target).latest_version() == v  # nothing committed


def test_merge_insert_only_and_noop(spark, target):
    source = spark.createDataFrame([(200, 2.0)], "k long, v double")
    res = merge_into(spark, target, source, keys=["k"])
    assert res["rows_inserted"] == 1 and res["rows_updated"] == 0
    # a source that changes nothing commits nothing
    res2 = merge_into(
        spark, target,
        spark.createDataFrame([], "k long, v double"),
        keys=["k"],
    )
    assert res2["version"] is None


def test_merge_update_expression_mixes_target_and_source(spark, target):
    source = spark.createDataFrame([(3, 100.0)], "k long, v double")
    merge_into(
        spark, target, source, keys=["k"],
        when_matched_update={"v": "v + src.v"},  # target v + source v
        when_not_matched_insert=False,
    )
    rows = {r["k"]: r["v"] for r in read_table(spark, target).collect()}
    assert rows[3] == 103.0


def test_merge_respects_constraints_on_both_paths(spark, target):
    add_check_constraint(spark, target, "v_pos", "v >= 0")
    with pytest.raises(ConstraintViolationError):
        merge_into(
            spark, target,
            spark.createDataFrame([(5, -5.0)], "k long, v double"),
            keys=["k"], when_matched_update={"v": "src.v"},
        )
    with pytest.raises(ConstraintViolationError):
        merge_into(
            spark, target,
            spark.createDataFrame([(999, -1.0)], "k long, v double"),
            keys=["k"],
        )
    assert read_table(spark, target).count() == 100  # both aborted clean


def test_merge_insert_computes_generated_columns(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(
        spark.createDataFrame([(1, 10.0)], "k long, v double").withColumn(
            "v2", F.col("v") * 2
        ),
        path,
        generated_columns={"v2": "v * 2"},
    )
    merge_into(
        spark, path,
        spark.createDataFrame([(2, 20.0)], "k long, v double"),
        keys=["k"],
    )
    rows = {r["k"]: r["v2"] for r in read_table(spark, path).collect()}
    assert rows[2] == 40.0


def test_merge_insert_rejects_wrong_provided_generated_value(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(
        spark.createDataFrame([(1, 10.0, 20.0)], "k long, v double, v2 double"),
        path,
        generated_columns={"v2": "v * 2"},
    )
    src = spark.createDataFrame([(1, 5.0, 0.0), (2, 20.0, 41.0)], "k long, v double, v2 double")
    with pytest.raises(ConstraintViolationError, match="v2"):
        merge_into(spark, path, src, keys=["k"], when_matched_update={"v": "src.v"})
    assert DeltaLog(path).latest_version() == 0
    # a right provided value inserts; a matched row's provided one is unused
    ok = spark.createDataFrame([(1, 5.0, 0.0), (3, 1.0, 2.0)], "k long, v double, v2 double")
    merge_into(spark, path, ok, keys=["k"], when_matched_update={"v": "src.v"})
    rows = {r["k"]: (r["v"], r["v2"]) for r in read_table(spark, path).collect()}
    assert rows == {1: (5.0, 10.0), 3: (1.0, 2.0)}


def test_merge_cdf_emits_full_change_set(spark, target):
    source = spark.createDataFrame(
        [(1, -1.0), (2, 22.0), (500, 5.0)], "k long, v double"
    )
    merge_into(
        spark, target, source, keys=["k"],
        when_matched_delete="src.v < 0",
        when_matched_update={"v": "src.v"},
        write_cdf=True,
    )
    log = DeltaLog(target)
    types = []
    for action in log.actions(log.latest_version()):
        if "cdc" in action:
            for r in spark.read.parquet(
                log.abs_path(action["cdc"]["path"])
            ).collect():
                types.append((r["k"], r["_change_type"]))
    assert (1, "delete") in types
    assert (2, "update_preimage") in types and (2, "update_postimage") in types
    assert (500, "insert") in types


@pytest.mark.parametrize("seed", [3, 17, 41])
def test_merge_upsert_equals_apply_cdc(spark, tmp_path, seed):
    """Coherence: merge_into(update+insert) on random batches must land
    the same final table as the independent apply_cdc merge semantics —
    two implementations of upsert, one answer."""
    import random

    from polars_incremental_spark.cdc import apply_cdc

    rnd = random.Random(seed)
    base = [(k, rnd.randint(0, 99)) for k in rnd.sample(range(50), 30)]
    batch = [(k, rnd.randint(100, 199)) for k in rnd.sample(range(70), 25)]
    path = str(tmp_path / f"t{seed}")
    write_table(spark.createDataFrame(base, "k long, v long"), path)
    merge_into(
        spark, path,
        spark.createDataFrame(batch, "k long, v long"),
        keys=["k"], when_matched_update={"v": "src.v"},
    )
    got = {r["k"]: r["v"] for r in read_table(spark, path).collect()}
    expected_df = apply_cdc(
        spark.createDataFrame(
            [(k, v, "update_postimage") for k, v in batch],
            "k long, v long, _change_type string",
        ),
        spark.createDataFrame(base, "k long, v long"),
        keys=["k"],
    )
    want = {r["k"]: r["v"] for r in expected_df.collect()}
    assert got == want


def test_merge_acting_on_nothing_commits_nothing(spark, target):
    # key 5 matches, but its delete condition is false and there is no
    # update clause; key 1000 matches nothing and inserts are off
    v = DeltaLog(target).latest_version()
    res = merge_into(
        spark, target,
        spark.createDataFrame([(5, 1.0), (1000, 1.0)], "k long, v double"),
        keys=["k"],
        when_matched_delete="src.v < 0",
        when_not_matched_insert=False,
    )
    assert res == {
        "rows_updated": 0, "rows_deleted": 0, "rows_inserted": 0, "version": None
    }
    assert DeltaLog(target).latest_version() == v


def test_dml_history_records_operation_and_parameters(spark, target):
    update_where(spark, target, "k = 3", {"v": "v + 1"})
    merge_into(
        spark, target,
        spark.createDataFrame([(4, 0.5)], "k long, v double"),
        keys=["k"],
        when_matched_update={"v": "src.v"},
        user_metadata="batch-7",
    )
    merge_entry, update_entry = table_history(target)[:2]
    assert update_entry["operation"] == "UPDATE"
    assert update_entry["operation_parameters"] == {"predicate": "k = 3"}
    assert merge_entry["operation"] == "MERGE"
    assert merge_entry["operation_parameters"] == {"keys": json.dumps(["k"])}
    log = DeltaLog(target)
    (info,) = [
        a["commitInfo"] for a in log.actions(merge_entry["version"]) if "commitInfo" in a
    ]
    assert info["userMetadata"] == "batch-7"


def _table_files(path):
    return {
        os.path.relpath(os.path.join(root, name), path)
        for root, _dirs, names in os.walk(path)
        if "_delta_log" not in root
        for name in names
    }


@pytest.mark.parametrize("op", ["merge", "update"])
def test_dml_on_moved_table_conflicts_before_staging(spark, target, monkeypatch, op):
    real = deltalog.write_delta_fallback

    def after_concurrent_commit(*args, **kwargs):
        # another writer commits between the DML's read and its write
        set_table_properties(target, {"owner": "someone-else"})
        return real(*args, **kwargs)

    monkeypatch.setattr(deltalog, "write_delta_fallback", after_concurrent_commit)
    before = _table_files(target)
    with pytest.raises(CommitConflictError):
        if op == "merge":
            merge_into(
                spark, target,
                spark.createDataFrame([(5, 9.0)], "k long, v double"),
                keys=["k"], when_matched_update={"v": "src.v"},
            )
        else:
            update_where(spark, target, "k = 5", {"v": "9.0"})
    assert _table_files(target) == before
    rows = {r["k"]: r["v"] for r in read_table(spark, target).collect()}
    assert rows[5] == 5.0


def test_dml_commit_on_checkpoint_interval_writes_checkpoint(spark, target):
    log = DeltaLog(target)
    while log.latest_version() < CHECKPOINT_INTERVAL - 1:
        set_table_properties(target, {"n": str(log.latest_version())})
    assert update_where(spark, target, "k = 1", {"v": "-1.0"})["version"] == CHECKPOINT_INTERVAL
    assert log.checkpoint_version() == CHECKPOINT_INTERVAL
    while log.latest_version() < 2 * CHECKPOINT_INTERVAL - 1:
        set_table_properties(target, {"n": str(log.latest_version())})
    res = merge_into(
        spark, target,
        spark.createDataFrame([(2, -2.0)], "k long, v double"),
        keys=["k"], when_matched_update={"v": "src.v"},
    )
    assert res["version"] == 2 * CHECKPOINT_INTERVAL
    assert log.checkpoint_version() == 2 * CHECKPOINT_INTERVAL
    rows = {r["k"]: r["v"] for r in read_table(spark, target).collect()}
    assert (rows[1], rows[2], len(rows)) == (-1.0, -2.0, 100)


def test_dml_on_path_spark_url_encodes(spark, tmp_path):
    # Spark reports `_metadata.file_path` percent-encoded (a space as %20,
    # `%` as %25); the DML hit lookup and the deletion-vector join must
    # match those URIs to the log's plain paths
    path = str(tmp_path / "my table %41#1")
    write_table(
        spark.range(100)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(4, "k"),
        path,
    )
    res = merge_into(
        spark, path,
        spark.createDataFrame([(5, 9.0), (1000, 1.0)], "k long, v double"),
        keys=["k"],
    )
    assert (res["rows_inserted"], res["rows_updated"]) == (1, 0)
    res = merge_into(
        spark, path,
        spark.createDataFrame([(6, 60.0), (1001, 2.0)], "k long, v double"),
        keys=["k"], when_matched_update={"v": "src.v"},
    )
    assert (res["rows_inserted"], res["rows_updated"]) == (1, 1)
    assert update_where(spark, path, "k = 7", {"v": "70.0"})["rows_updated"] == 1
    assert delete_where(spark, path, "k = 8", dv_max_rows_per_file=10)["files_dv"] == 1
    rows = {r["k"]: r["v"] for r in read_table(spark, path).collect()}
    assert len(rows) == 101 and 8 not in rows
    assert (rows[5], rows[6], rows[7], rows[1000], rows[1001]) == (
        5.0, 60.0, 70.0, 1.0, 2.0
    )
