"""Row tracking (PROTOCOL.md writerFeatures "rowTracking" +
"domainMetadata") on the jar-less Delta path.

Fresh row ids = baseRowId + physical row index; the allocation watermark
lives in the ``delta.rowTracking`` domain metadata and commits atomically
with the adds.  Ids are STABLE for the row's lifetime: appends never touch
them, DV deletes preserve survivors' positions, and every rewrite path
(CoW DELETE / UPDATE / MERGE / OPTIMIZE) preserves them by materializing
ids into the spec's hidden columns, which readers coalesce before
``baseRowId + row_index``.  Checkpoint + log expiry must carry both the
per-add baseRowId fields and the domain watermark.
"""

import json
from unittest import mock

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark.checkpoints.delta import DeltaLog
from polars_incremental_spark.sinks import deltalog
from polars_incremental_spark.sinks.deltalog import (
    CommitConflictError,
    checkpoint_log,
    clone_table,
    compact_fallback,
    delete_where,
    enable_row_tracking,
    expire_log,
    merge_into,
    read_delta_fallback,
    set_table_properties,
    update_where,
    write_delta_fallback,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("name")
    )


def _ids(spark, path):
    return {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_delta_fallback(spark, path, row_ids=True).collect()
    }


def _hwm(path):
    raw = DeltaLog(path).domain_metadata()["delta.rowTracking"]
    return json.loads(raw)["rowIdHighWaterMark"]


def test_create_with_row_tracking_assigns_fresh_ids(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 0, 10), path, row_tracking=True)
    ids = _ids(spark, path)
    assert len(ids) == 10
    rid_values = sorted(r for r, _ in ids.values())
    assert rid_values == list(range(10))  # contiguous from 0 (hwm starts -1)
    assert all(v == 0 for _, v in ids.values())  # created at version 0
    assert _hwm(path) == 9
    proto = DeltaLog(path).protocol()
    assert proto["minWriterVersion"] == 7
    assert {"rowTracking", "domainMetadata"} <= set(proto["writerFeatures"])


def test_append_preserves_existing_ids_and_extends(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 0, 10), path, row_tracking=True)
    before = _ids(spark, path)
    write_delta_fallback(_df(spark, 10, 15), path, mode="append")
    after = _ids(spark, path)
    for k, pair in before.items():
        assert after[k] == pair  # old rows keep their ids verbatim
    new = {k: after[k] for k in after if k not in before}
    assert len(new) == 5
    assert min(r for r, _ in new.values()) == 10  # past the old watermark
    assert all(v == 1 for _, v in new.values())  # stamped with commit 1
    assert len({r for r, _ in after.values()}) == 15  # globally unique
    assert _hwm(path) == 14


def test_enable_on_existing_table_backfills(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 0, 6), path)
    write_delta_fallback(_df(spark, 6, 9), path, mode="append")
    with pytest.raises(ValueError, match="row tracking"):
        read_delta_fallback(spark, path, row_ids=True)
    v = enable_row_tracking(path)
    ids = _ids(spark, path)
    assert len(ids) == 9
    assert sorted(r for r, _ in ids.values()) == list(range(9))
    assert all(cv == v for _, cv in ids.values())  # backfill commit version
    assert _hwm(path) == 8
    # enable is idempotent
    assert enable_row_tracking(path) == DeltaLog(path).latest_version()
    # later appends keep allocating
    write_delta_fallback(_df(spark, 9, 12), path, mode="append")
    assert len({r for r, _ in _ids(spark, path).values()}) == 12


def test_row_tracking_is_create_time_only_kwarg(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 0, 3), path)
    with pytest.raises(ValueError, match="enable_row_tracking"):
        write_delta_fallback(_df(spark, 3, 6), path, mode="append", row_tracking=True)


def test_dv_delete_preserves_surviving_ids(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 0, 20), path, row_tracking=True)
    before = _ids(spark, path)
    set_table_properties(path, {"delta.enableDeletionVectors": "true"})
    res = delete_where(spark, path, "k in (3, 7, 11)")
    assert res["files_dv"] > 0 and res["files_rewritten"] == 0
    after = _ids(spark, path)
    assert set(after) == set(before) - {3, 7, 11}
    for k in after:
        assert after[k] == before[k]  # survivors keep position-derived ids


def test_cow_delete_preserves_ids(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 0, 20).repartition(3), path, row_tracking=True)
    before = _ids(spark, path)
    # DVs off -> the rewrite route; survivors' ids materialize into the
    # new files
    res = delete_where(spark, path, "k in (4, 11)")
    assert res["files_rewritten"] > 0 and res["files_dv"] == 0
    after = _ids(spark, path)
    assert after == {k: v for k, v in before.items() if k not in (4, 11)}
    # fresh appends never reuse deleted rows' ids
    write_delta_fallback(_df(spark, 20, 24), path, mode="append")
    ids = _ids(spark, path)
    assert len({r for r, _ in ids.values()}) == len(ids) == 22


def test_update_preserves_ids_and_advances_commit_version(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 0, 20).repartition(3), path, row_tracking=True)
    before = _ids(spark, path)
    res = update_where(spark, path, "k in (3, 8)", {"name": "'upd'"}, write_cdf=True)
    assert res["rows_updated"] == 2
    v = res["version"]
    after = _ids(spark, path)
    assert set(after) == set(before)  # same row-id universe
    for k, (rid, rcv) in after.items():
        assert rid == before[k][0], f"row id of k={k} changed"
        # commit version advances ONLY for the updated rows
        assert rcv == (v if k in (3, 8) else before[k][1])
    # CDF carries no internal id columns
    from polars_incremental_spark.sinks.deltalog import read_change_feed

    cdf = read_change_feed(spark, path, starting_version=v, ending_version=v)
    assert "_row_id" not in cdf.columns
    assert sorted(r["_change_type"] for r in cdf.collect()) == [
        "update_postimage", "update_postimage",
        "update_preimage", "update_preimage",
    ]


def test_merge_preserves_updated_ids_and_allocates_for_inserts(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 0, 10).repartition(2), path, row_tracking=True)
    before = _ids(spark, path)
    hwm_before = max(r for r, _ in before.values())
    src = spark.createDataFrame(
        [(3, "upd"), (7, "DEL"), (50, "new")], "k long, name string"
    )
    res = merge_into(
        spark,
        path,
        src,
        keys=["k"],
        when_matched_update={"name": "src.name"},
        when_matched_delete="src.name = 'DEL'",
        when_not_matched_insert=True,
    )
    assert (res["rows_updated"], res["rows_deleted"], res["rows_inserted"]) == (1, 1, 1)
    v = res["version"]
    after = _ids(spark, path)
    assert 7 not in after  # matched delete dropped the row (and its id)
    for k in after:
        if k == 50:
            assert after[k][0] > hwm_before  # fresh id past the watermark
            assert after[k][1] == v
        else:
            assert after[k][0] == before[k][0]  # rewritten rows keep ids
            # commit version advances only on the UPDATED row
            assert after[k][1] == (v if k == 3 else before[k][1])
    assert len({r for r, _ in after.values()}) == len(after)


def test_optimize_preserves_ids_via_materialization(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 0, 20).repartition(4), path, row_tracking=True)
    set_table_properties(path, {"delta.enableDeletionVectors": "true"})
    delete_where(spark, path, "k in (2, 9)")
    before = _ids(spark, path)
    compact_fallback(spark, path)  # materializes DVs AND row ids
    after = _ids(spark, path)
    assert after == before  # ids preserved through the rewrite
    # hidden materialized columns never leak into normal reads
    assert "_materialized_row_id" not in read_delta_fallback(spark, path).columns
    # appends keep allocating past the (advanced) watermark, no reuse
    write_delta_fallback(_df(spark, 20, 25), path, mode="append")
    ids = _ids(spark, path)
    assert len({r for r, _ in ids.values()}) == len(ids) == 23
    assert min(r for k, (r, _) in ids.items() if k >= 20) > max(
        r for r, _ in before.values()
    )
    # a SECOND optimize round-trips the already-materialized ids
    compact_fallback(spark, path)
    assert _ids(spark, path) == ids


def test_checkpoint_and_expiry_carry_row_tracking(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 0, 8), path, row_tracking=True)
    write_delta_fallback(_df(spark, 8, 12), path, mode="append")
    before = _ids(spark, path)
    checkpoint_log(path)
    expire_log(path)
    log = DeltaLog(path)
    assert log.versions() == []  # all JSON summarized away
    assert _ids(spark, path) == before  # ids survive via checkpoint fields
    assert _hwm(path) == 11  # domain metadata survives via checkpoint row
    write_delta_fallback(_df(spark, 12, 14), path, mode="append")
    ids = _ids(spark, path)
    assert len({r for r, _ in ids.values()}) == 14  # allocation continues


def test_allocating_append_never_rebases_on_conflict(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 0, 5), path, row_tracking=True)
    with mock.patch.object(
        deltalog,
        "_write_commit",
        side_effect=CommitConflictError("simulated race"),
    ):
        with pytest.raises(CommitConflictError):
            write_delta_fallback(_df(spark, 5, 8), path, mode="append")


def test_shallow_clone_carries_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    write_delta_fallback(_df(spark, 0, 10), src, row_tracking=True)
    clone_table(src, tgt)
    assert _hwm(tgt) == 9
    write_delta_fallback(_df(spark, 10, 13), tgt, mode="append")
    ids = _ids(spark, tgt)
    assert len(ids) == 13
    assert len({r for r, _ in ids.values()}) == 13  # no reuse of clone ids


def test_row_ids_compose_with_where_pushdown(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 0, 10), path, row_tracking=True)
    full = _ids(spark, path)
    rows = read_delta_fallback(spark, path, where="k >= 7", row_ids=True).collect()
    assert {r["k"] for r in rows} == {7, 8, 9}
    for r in rows:
        assert (r["_row_id"], r["_row_commit_version"]) == full[r["k"]]


def test_stream_tail_never_leaks_materialized_columns(spark, tmp_path):
    """A CoW rewrite on a row-tracked table stores hidden materialized
    row-id columns INSIDE the rewritten files; a stream tailing the table
    with ignore_changes must still surface only the logical schema."""
    from polars_incremental_spark.sources.base import DeltaSource
    from polars_incremental_spark.sources.delta import DeltaSourceImpl

    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    write_delta_fallback(_df(spark, 0, 10), path, row_tracking=True)
    src = DeltaSourceImpl(DeltaSource(path=path, ignore_changes=True), ckpt)
    # drain the snapshot
    while True:
        b = src.plan_batch()
        if b is None or not b.files:
            break
        df = src.read_batch(spark, b)
        assert set(df.columns) == {"k", "name"}, df.columns
        src.commit_batch(b)
    # CoW update rewrites files WITH materialized id columns
    update_where(spark, path, "k = 2", {"name": "'upd'"})
    b = src.plan_batch()
    assert b is not None and b.files
    df = src.read_batch(spark, b)
    assert set(df.columns) == {"k", "name"}, df.columns
    # only the HIT file rewrote (file-selective UPDATE); its rows
    # re-deliver with the post-update value and no internal columns
    rows = {(r["k"], r["name"]) for r in df.collect()}
    assert (2, "upd") in rows


def test_materialized_names_avoid_schema_collision_and_are_frozen(spark, tmp_path):
    path = str(tmp_path / "t")
    # a user column literally named like the default materialized column
    df = spark.range(5).selectExpr(
        "id AS k", "CAST(id * 10 AS LONG) AS _materialized_row_id"
    )
    write_delta_fallback(df, path, row_tracking=True)
    conf = (DeltaLog(path).table_metadata() or {}).get("configuration")
    assert conf["delta.rowTracking.materializedRowIdColumnName"] != "_materialized_row_id"
    # reads and rewrites work; the USER column passes through untouched
    got = read_delta_fallback(spark, path, row_ids=True)
    assert {r["_materialized_row_id"] for r in got.collect()} == {0, 10, 20, 30, 40}
    before = {r["k"]: r["_row_id"] for r in got.collect()}
    compact_fallback(spark, path)
    after = {
        r["k"]: r["_row_id"]
        for r in read_delta_fallback(spark, path, row_ids=True).collect()
    }
    assert after == before
    # the names are frozen once enabled: renaming would orphan every
    # already-materialized id
    with pytest.raises(ValueError, match="fixed once row tracking"):
        set_table_properties(
            path, {"delta.rowTracking.materializedRowIdColumnName": "_other"}
        )


def test_cdc_merge_keeps_ids_of_carried_and_updated_rows(spark, tmp_path):
    """apply_cdc_table's file-selective merge replaces whole candidate
    files; Delta's MERGE rule still holds: carried rows keep id and commit
    version, the updated row keeps its id at the new version, the
    inserted row gets a fresh id."""
    from polars_incremental_spark.sinks.delta import apply_cdc_table

    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 0, 6).coalesce(1), path, row_tracking=True)
    before = _ids(spark, path)
    assert sorted(r for r, _ in before.values()) == list(range(6))
    changes = spark.createDataFrame(
        [(2, "upd", "update_postimage"), (5, "new", "insert")],
        "k long, name string, _change_type string",
    )
    # key range [2, 5] overlaps the single file, so all six rows rewrite
    apply_cdc_table(spark, changes, path, keys=["k"])
    v = DeltaLog(path).latest_version()
    after = _ids(spark, path)
    for k in (0, 1, 3, 4):
        assert after[k] == before[k], f"carried row k={k} lost its id"
    assert after[2] == (before[2][0], v)
    assert after[5] == (before[5][0], v)  # upsert onto an existing key
    # a brand-new key allocates past the watermark
    apply_cdc_table(
        spark,
        spark.createDataFrame(
            [(9, "fresh", "insert")], "k long, name string, _change_type string"
        ),
        path,
        keys=["k"],
    )
    latest = _ids(spark, path)
    assert latest[9][0] > max(r for r, _ in after.values())
    assert {k: latest[k] for k in after} == after
    assert len({r for r, _ in latest.values()}) == len(latest)


def test_cdc_merge_without_row_tracking_writes_no_id_columns(spark, tmp_path):
    from polars_incremental_spark.sinks.delta import apply_cdc_table

    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 0, 6).coalesce(1), path)
    changes = spark.createDataFrame(
        [(2, "upd", "update_postimage")], "k long, name string, _change_type string"
    )
    apply_cdc_table(spark, changes, path, keys=["k"])
    import pyarrow.parquet as pq

    for add in DeltaLog(path).snapshot_files(DeltaLog(path).latest_version()):
        assert "baseRowId" not in add
        cols = pq.ParquetFile(f"{path}/{add['path']}").schema_arrow.names
        assert cols == ["k", "name"]


def test_row_tracked_mv_refresh_keeps_group_ids(spark, tmp_path):
    from polars_incremental_spark.mv import create_agg_mv, refresh_agg_mv

    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    rows = "g string, x long"
    write_delta_fallback(
        spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], rows), base
    )
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    enable_row_tracking(mv)

    def group_ids():
        return {
            r["g"]: (r["_row_id"], r["_row_commit_version"], r["cnt"])
            for r in read_delta_fallback(spark, mv, row_ids=True).collect()
        }

    before = group_ids()
    write_delta_fallback(
        spark.createDataFrame([("b", 5), ("bb", 1)], rows), base, mode="append"
    )
    refresh_agg_mv(spark, base, mv)
    v = DeltaLog(mv).latest_version()
    after = group_ids()
    for g in ("a", "c"):  # untouched groups in rewritten candidate files
        assert after[g] == before[g]
    assert after["b"] == (before["b"][0], v, 2)  # folded: same id, new version
    assert after["bb"][0] > max(i for i, _, _ in before.values())
    assert after["bb"][1:] == (v, 1)
