"""DELETE / UPDATE on the jar-less Delta path: copy-on-write with
stats-pruned candidate files, per-file hit confirmation, CHECK-constraint
re-validation, and CDF emission.

Untouched-file guarantee is proven the corruption way: files the stats
prove irrelevant are corrupted before the DML and must survive it.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark.checkpoints.delta import DeltaLog
from polars_incremental_spark.errors import ConstraintViolationError
from polars_incremental_spark.sinks.delta import (
    delete_rows,
    read_table,
    update_rows,
    write_table,
)
from polars_incremental_spark.sinks.deltalog import add_check_constraint


def _ranged(spark, path, n=400, files=4):
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("x"),
            (F.col("id") % 5).cast("int").alias("g"),
            (F.col("id") * 1.5).alias("v"),
        )
        .repartitionByRange(files, "x")
    )
    write_table(df, path)


def test_delete_where_rewrites_only_hit_files(spark, tmp_path):
    path = str(tmp_path / "t")
    _ranged(spark, path)
    log = DeltaLog(path)
    before = {a["path"] for a in log.snapshot_files(log.latest_version())}
    res = delete_rows(spark, path, "x >= 350")
    assert res["rows_deleted"] == 50
    # stats pruning: only the top-range file(s) were candidates
    assert res["files_matched"] < len(before)
    assert res["files_rewritten"] >= 1
    after = {a["path"] for a in log.snapshot_files(log.latest_version())}
    # untouched files keep their identity (no rewrite, no re-add)
    assert len(before & after) == len(before) - res["files_rewritten"]
    rows = read_table(spark, path)
    assert rows.count() == 350
    assert rows.agg(F.max("x")).first()[0] == 349


def test_delete_pruning_proven_by_corruption(spark, tmp_path):
    path = str(tmp_path / "t")
    _ranged(spark, path)
    log = DeltaLog(path)
    # corrupt every file whose range is disjoint from the delete predicate:
    # a DML that opened them would die
    for a in log.snapshot_files(log.latest_version()):
        stats = json.loads(a["stats"])
        if stats["maxValues"]["x"] < 300:
            with open(log.abs_path(a["path"]), "wb") as h:
                h.write(b"junk")
    res = delete_rows(spark, path, "x >= 300")
    assert res["rows_deleted"] == 100
    surviving = read_table(spark, path, where="x >= 0 and x < 300")
    # corrupted files are still referenced (we never touched them) — the
    # stats-skipped read above avoids them; counting them would fail
    with pytest.raises(Exception):
        read_table(spark, path).count()
    assert surviving is not None


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    path = str(tmp_path / "t")
    write_table(
        spark.createDataFrame(
            [(1, 10.0), (2, None), (3, -3.0)], "id long, v double"
        ),
        path,
    )
    res = delete_rows(spark, path, "v < 0")
    assert res["rows_deleted"] == 1
    ids = sorted(r["id"] for r in read_table(spark, path).collect())
    assert ids == [1, 2]  # NULL predicate row survives (SQL DELETE)


def test_delete_no_match_no_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    _ranged(spark, path)
    log = DeltaLog(path)
    v = log.latest_version()
    res = delete_rows(spark, path, "x > 100000")
    assert res["rows_deleted"] == 0 and res["version"] is None
    assert DeltaLog(path).latest_version() == v


def test_delete_entire_file_leaves_remove_only(spark, tmp_path):
    path = str(tmp_path / "t")
    _ranged(spark, path)
    total_before = read_table(spark, path).count()
    res = delete_rows(spark, path, "x >= 0")  # everything
    assert res["rows_deleted"] == total_before
    assert read_table(spark, path).count() == 0


def test_update_where_pre_update_semantics(spark, tmp_path):
    path = str(tmp_path / "t")
    write_table(
        spark.createDataFrame([(1, 10.0, 1.0), (2, 20.0, 2.0)], "id long, a double, b double"),
        path,
    )
    # swap: both assignments must see PRE-update values
    res = update_rows(spark, path, "id = 1", {"a": "b", "b": "a"})
    assert res["rows_updated"] == 1
    rows = {r["id"]: r for r in read_table(spark, path).collect()}
    assert rows[1]["a"] == 1.0 and rows[1]["b"] == 10.0
    assert rows[2]["a"] == 20.0 and rows[2]["b"] == 2.0


def test_update_keeps_schema_and_nonmatching_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    _ranged(spark, path)
    res = update_rows(spark, path, "g = 3", {"v": "v * 2"})
    assert res["rows_updated"] == 80
    out = read_table(spark, path)
    assert dict(out.dtypes)["v"] == "double"
    check = out.withColumn(
        "ok",
        F.when(F.col("g") == 3, F.col("v") == F.col("x") * 3.0).otherwise(
            F.col("v") == F.col("x") * 1.5
        ),
    )
    assert check.filter(~F.col("ok")).count() == 0


def test_update_rechecks_constraints(spark, tmp_path):
    path = str(tmp_path / "t")
    write_table(
        spark.createDataFrame([(1, 5.0)], "id long, v double"), path
    )
    add_check_constraint(spark, path, "v_pos", "v > 0")
    with pytest.raises(ConstraintViolationError):
        update_rows(spark, path, "id = 1", {"v": "-1.0"})
    # aborted update left the table at the pre-update state
    assert read_table(spark, path).first()["v"] == 5.0
    update_rows(spark, path, "id = 1", {"v": "7.5"})
    assert read_table(spark, path).first()["v"] == 7.5


def test_update_unknown_column_rejected(spark, tmp_path):
    path = str(tmp_path / "t")
    write_table(spark.createDataFrame([(1,)], "id long"), path)
    with pytest.raises(ValueError, match="unknown columns"):
        update_rows(spark, path, "id = 1", {"nope": "1"})


def test_delete_update_cdf_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    write_table(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, s string"
        ),
        path,
    )
    delete_rows(spark, path, "id = 2", write_cdf=True)
    update_rows(spark, path, "id = 3", {"s": "'C'"}, write_cdf=True)
    log = DeltaLog(path)
    cdc_types = []
    for v in log.versions():
        for action in log.actions(v):
            if "cdc" in action:
                pdf = spark.read.parquet(
                    log.abs_path(action["cdc"]["path"])
                ).collect()
                cdc_types.extend((r["id"], r["_change_type"]) for r in pdf)
    assert (2, "delete") in cdc_types
    assert (3, "update_preimage") in cdc_types
    assert (3, "update_postimage") in cdc_types


def test_dml_on_partitioned_table_repartitions_moved_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, bucket int"
    )
    write_table(df, path, partition_by=["bucket"])
    # move every bucket-2 row into bucket 0: rewritten files must land in
    # the bucket=0 hive dir with correct partitionValues
    res = update_rows(spark, path, "bucket = 2", {"bucket": "0"})
    assert res["rows_updated"] == 10
    log = DeltaLog(path)
    for a in log.snapshot_files(log.latest_version()):
        assert a["partitionValues"]["bucket"] in ("0", "1")
    out = read_table(spark, path)
    assert out.filter("bucket = 2").count() == 0
    assert out.filter("bucket = 0").count() == 20
    assert out.count() == 30


def test_time_travel_sees_pre_dml_snapshot(spark, tmp_path):
    path = str(tmp_path / "t")
    _ranged(spark, path, n=100, files=2)
    v0 = DeltaLog(path).latest_version()
    delete_rows(spark, path, "x < 50")
    assert read_table(spark, path).count() == 50
    assert read_table(spark, path, version=v0).count() == 100


def test_dml_cdf_streams_to_incremental_consumer(spark, tmp_path):
    """The full retraction loop: DELETE/UPDATE with write_cdf on the
    published table, then a DeltaSource(read_change_feed=True) consumer
    applies the feed and converges to the post-DML table — the
    delete-without-CDF guard never fires because DML emitted precise
    change rows."""
    from polars_incremental_spark.cdc import apply_cdc
    from polars_incremental_spark.sources.base import DeltaSource

    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_table(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, s string"
        ),
        t,
    )
    src = DeltaSource(
        path=t, read_change_feed=True, start_offset="earliest"
    ).with_checkpoint(ckpt)
    downstream = None
    while (b := src.plan_batch()) is not None:
        downstream = apply_cdc(src.read_batch(spark, b), downstream, keys=["id"])
        src.commit_batch(b)
    assert downstream.count() == 4

    delete_rows(spark, t, "id = 2", write_cdf=True)
    update_rows(spark, t, "id = 4", {"s": "'D'"}, write_cdf=True)
    while (b := src.plan_batch()) is not None:
        downstream = apply_cdc(src.read_batch(spark, b), downstream, keys=["id"])
        src.commit_batch(b)
    got = {r["id"]: r["s"] for r in downstream.collect()}
    want = {r["id"]: r["s"] for r in read_table(spark, t).collect()}
    assert got == want == {1: "a", 3: "c", 4: "D"}


def test_writes_that_keep_the_schema_log_no_metadata(spark, tmp_path):
    """An append or UPDATE that changes no column leaves the logged
    schemaString as it is: a commit carrying a re-serialized one reads as
    a schema change, which CDF reconstruction of a CDF-less UPDATE
    refuses."""
    from polars_incremental_spark.sinks.deltalog import read_change_feed

    path = str(tmp_path / "t")
    _ranged(spark, path, n=40, files=2)
    log = DeltaLog(path)
    write_table(spark.range(40, 45).selectExpr(
        "id AS x", "CAST(id % 5 AS INT) AS g", "CAST(id * 1.5 AS DOUBLE) AS v"
    ), path)
    v = update_rows(spark, path, "x = 3", {"v": "-1.0"})["version"]
    for version in (1, v):
        assert not any("metaData" in a for a in log.actions(version))
    changes = read_change_feed(
        spark, path, starting_version=v, ending_version=v,
        reconstruct_removes=True, keys=["x"],
    )
    assert sorted((r["x"], r["_change_type"]) for r in changes.collect()) == [
        (3, "update_postimage"), (3, "update_preimage")
    ]


def test_delete_and_optimize_write_the_periodic_log_checkpoint(spark, tmp_path):
    from polars_incremental_spark.sinks.deltalog import (
        CHECKPOINT_INTERVAL,
        compact_fallback,
        write_delta_fallback,
    )

    path = str(tmp_path / "t")
    for i in range(CHECKPOINT_INTERVAL):
        write_delta_fallback(spark.range(i * 10, i * 10 + 10).coalesce(1), path)
    log = DeltaLog(path)
    assert log.checkpoint_version() is None
    res = delete_rows(spark, path, "id = 3", dv_max_rows_per_file=100)
    assert res["files_dv"] == 1 and res["version"] == CHECKPOINT_INTERVAL
    assert log.checkpoint_version() == CHECKPOINT_INTERVAL
    for i in range(CHECKPOINT_INTERVAL - 1):
        write_delta_fallback(spark.range(1000 + i, 1001 + i), path)
    compact_fallback(spark, path)
    assert log.latest_version() == 2 * CHECKPOINT_INTERVAL
    assert log.checkpoint_version() == 2 * CHECKPOINT_INTERVAL
    assert read_table(spark, path).count() == 10 * CHECKPOINT_INTERVAL - 1 + 9


@pytest.mark.parametrize("op", ["delete", "optimize"])
def test_rewrite_conflict_leaves_no_file_behind(spark, tmp_path, monkeypatch, op):
    """The table moves while DELETE / OPTIMIZE reads it: the commit is
    refused before anything is staged, so every data file on disk is
    still a live one."""
    from polars_incremental_spark.sinks import deltalog as dl

    path = str(tmp_path / "t")
    write_table(spark.range(20).repartition(2), path)
    real_load, raced = dl._load_snapshot_df, []

    def load_then_race(*args, **kwargs):
        out = real_load(*args, **kwargs)
        if not raced:
            raced.append(dl.write_delta_fallback(spark.range(100, 101), path))
        return out

    monkeypatch.setattr(dl, "_load_snapshot_df", load_then_race)
    with pytest.raises(dl.CommitConflictError):
        if op == "delete":
            dl.delete_where(spark, path, "id < 5")
        else:
            dl.compact_fallback(spark, path)
    log = DeltaLog(path)
    live = {a["path"] for a in log.snapshot_files(log.latest_version())}
    on_disk = {
        os.path.relpath(os.path.join(root, f), path)
        for root, _dirs, files in os.walk(path)
        if "_delta_log" not in root
        for f in files
        if f.endswith(".parquet")
    }
    assert on_disk == live
    assert read_table(spark, path).count() == 21


def test_history_names_delete_and_optimize(spark, tmp_path):
    from polars_incremental_spark.sinks.deltalog import compact_fallback, table_history

    path = str(tmp_path / "t")
    _ranged(spark, path, n=40)
    delete_rows(spark, path, "x < 3")
    compact_fallback(spark, path, z_order_by=["x", "g"])
    optimize, delete = table_history(path)[:2]
    assert delete["operation"] == "DELETE"
    assert delete["operation_parameters"] == {"predicate": "x < 3"}
    assert optimize["operation"] == "OPTIMIZE"
    assert optimize["operation_parameters"] == {"zOrderBy": ["x", "g"]}
    # OPTIMIZE changes no data: streams skip its removes and adds
    log = DeltaLog(path)
    files = [
        a.get("add") or a.get("remove")
        for a in log.actions(optimize["version"])
        if "add" in a or "remove" in a
    ]
    assert files and all(f["dataChange"] is False for f in files)
    assert read_table(spark, path).count() == 37


def test_rewrites_keep_a_nested_non_nullable_schema(spark, tmp_path):
    """Spark reads struct fields back as nullable; a rewrite of the stored
    rows is no type change, so neither UPDATE nor DELETE refuses it or
    changes the logged schema."""
    from polars_incremental_spark.sinks.deltalog import write_delta_fallback

    path = str(tmp_path / "t")
    write_delta_fallback(
        spark.sql(
            "SELECT k, named_struct('tag', tag) AS meta FROM VALUES "
            "(1L, 'a'), (2L, 'b'), (3L, 'c') AS t(k, tag)"
        ).coalesce(1),
        path,
    )
    log = DeltaLog(path)
    schema = log.table_metadata()["schemaString"]
    assert '"nullable":false' in schema
    update_rows(spark, path, "k = 1", {"k": "10"})
    delete_rows(spark, path, "k = 2")
    assert DeltaLog(path).table_metadata()["schemaString"] == schema
    rows = sorted((r["k"], r["meta"]["tag"]) for r in read_table(spark, path).collect())
    assert rows == [(3, "c"), (10, "a")]
