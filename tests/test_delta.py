"""Delta-log tailer + fallback writer tests (C10-C16, S9/S10, M7/M8, X6/X7).

All jar-less: the fallback writer produces spec-compliant logs that the
planned-mode tailer (and real delta readers) consume.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark.checkpoints.delta import DeltaLog, DeltaTableCheckpoint
from polars_incremental_spark.errors import ChangeDataFeedError, PlanningError
from polars_incremental_spark.maintenance import optimize_delta_table, vacuum_delta_table
from polars_incremental_spark.pipeline import Pipeline
from polars_incremental_spark.sinks.delta import apply_cdc_table, read_table, write_table
from polars_incremental_spark.sinks.deltalog import (
    read_delta_fallback,
    write_delta_fallback,
)
from polars_incremental_spark.sources.base import DeltaSource


def _ids(df):
    return sorted(r["id"] for r in df.collect())


# ------------------------------------------------------------ writer/reader


def test_write_read_roundtrip(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta_fallback(spark.range(3), t, mode="append")
    assert _ids(read_delta_fallback(spark, t)) == [0, 1, 2]
    log = DeltaLog(t)
    assert log.latest_version() == 0
    assert log.table_id() is not None
    # protocol + metaData + commitInfo + adds present in v0
    kinds = {next(iter(a)) for a in log.actions(0)}
    assert {"protocol", "metaData", "commitInfo", "add"} <= kinds


def test_append_and_overwrite(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta_fallback(spark.range(2), t)
    write_delta_fallback(spark.range(2, 4), t, mode="append")
    assert _ids(read_delta_fallback(spark, t)) == [0, 1, 2, 3]
    write_delta_fallback(spark.range(9, 10), t, mode="overwrite")
    assert _ids(read_delta_fallback(spark, t)) == [9]
    # overwrite logged removes; old data files still on disk until vacuum
    log = DeltaLog(t)
    assert any("remove" in a for a in log.actions(2))


def test_write_table_routes_to_fallback(spark, tmp_path):
    t = str(tmp_path / "t")
    write_table(spark.range(3), t, mode="overwrite")
    assert os.path.isdir(os.path.join(t, "_delta_log"))
    assert _ids(read_table(spark, t)) == [0, 1, 2]


# --------------------------------------------------------- snapshot batching


def test_snapshot_then_tail(spark, tmp_path):
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_delta_fallback(spark.range(4).repartition(2), t)
    spec = DeltaSource(path=t)
    cp = DeltaTableCheckpoint(ckpt, t)

    b0 = cp.plan_batch(spec)
    assert b0.metadata["is_initial_snapshot"] is True
    assert len(b0.files) >= 1
    assert _ids(spark.read.parquet(*b0.files)) == [0, 1, 2, 3]
    cp.commit_batch(b0)
    assert cp.plan_batch(spec) is None  # drained

    write_delta_fallback(spark.range(10, 12), t, mode="append")
    b1 = cp.plan_batch(spec)
    assert b1.metadata["is_initial_snapshot"] is False
    assert _ids(spark.read.parquet(*b1.files)) == [10, 11]
    cp.commit_batch(b1)


def test_snapshot_resumable_by_index(spark, tmp_path):
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    # 3 separate commits → ≥3 files in the snapshot
    write_delta_fallback(spark.range(1).coalesce(1), t)
    write_delta_fallback(spark.range(1, 2).coalesce(1), t, mode="append")
    write_delta_fallback(spark.range(2, 3).coalesce(1), t, mode="append")
    spec = DeltaSource(path=t, max_files_per_trigger=1)
    cp = DeltaTableCheckpoint(ckpt, t)
    seen = []
    while True:
        b = cp.plan_batch(spec)
        if b is None or not b.metadata.get("is_initial_snapshot"):
            break
        assert len(b.files) == 1
        seen.extend(_ids(spark.read.parquet(*b.files)))
        cp.commit_batch(b)
    assert sorted(seen) == [0, 1, 2]


def test_pending_batch_replays_same_files(spark, tmp_path):
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_delta_fallback(spark.range(3), t)
    spec = DeltaSource(path=t)
    cp = DeltaTableCheckpoint(ckpt, t)
    b0 = cp.plan_batch(spec)
    b0_again = cp.plan_batch(spec)  # no commit in between
    assert b0_again.batch_id == b0.batch_id and b0_again.files == b0.files


# ----------------------------------------------------------------- log tail


def test_tail_errors_on_deletes_without_flag(spark, tmp_path):
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_delta_fallback(spark.range(3), t)
    spec = DeltaSource(path=t)
    cp = DeltaTableCheckpoint(ckpt, t)
    cp.commit_batch(cp.plan_batch(spec))
    write_delta_fallback(spark.range(5, 6), t, mode="overwrite")  # removes + adds
    with pytest.raises(PlanningError, match="ignore_changes"):
        cp.plan_batch(spec)
    # with the flag, the new files stream through
    b = cp.plan_batch(DeltaSource(path=t, ignore_changes=True))
    assert _ids(spark.read.parquet(*b.files)) == [5]


def test_tail_skips_compaction_commits(spark, tmp_path):
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_delta_fallback(spark.range(2).coalesce(1), t)
    write_delta_fallback(spark.range(2, 4).coalesce(1), t, mode="append")
    spec = DeltaSource(path=t)
    cp = DeltaTableCheckpoint(ckpt, t)
    cp.commit_batch(cp.plan_batch(spec))  # snapshot
    optimize_delta_table(spark, t)  # dataChange=false commit
    assert cp.plan_batch(spec) is None  # compaction is not new data
    write_delta_fallback(spark.range(7, 8), t, mode="append")
    b = cp.plan_batch(spec)
    assert _ids(spark.read.parquet(*b.files)) == [7]


def test_start_offset_latest_and_version(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta_fallback(spark.range(2), t)  # v0
    write_delta_fallback(spark.range(2, 4), t, mode="append")  # v1
    # latest: nothing until a post-checkpoint commit
    cp = DeltaTableCheckpoint(str(tmp_path / "c1"), t)
    spec_latest = DeltaSource(path=t, start_offset="latest")
    assert cp.plan_batch(spec_latest) is None
    write_delta_fallback(spark.range(9, 10), t, mode="append")  # v2
    b = cp.plan_batch(spec_latest)
    assert _ids(spark.read.parquet(*b.files)) == [9]
    # starting_version=1 replays v1 and v2 as tail batches
    cp2 = DeltaTableCheckpoint(str(tmp_path / "c2"), t)
    spec_v = DeltaSource(path=t, starting_version=1)
    got = []
    while (b := cp2.plan_batch(spec_v)) is not None:
        got.extend(_ids(spark.read.parquet(*b.files)))
        cp2.commit_batch(b)
    assert sorted(got) == [2, 3, 9]


def test_start_offset_sticky(spark, tmp_path):
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_delta_fallback(spark.range(2), t)
    cp = DeltaTableCheckpoint(ckpt, t)
    assert cp.plan_batch(DeltaSource(path=t, start_offset="latest")) is None
    # later mismatched request: stored 'latest' decision wins → no snapshot replay
    assert cp.plan_batch(DeltaSource(path=t)) is None


def test_table_id_guard(spark, tmp_path):
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_delta_fallback(spark.range(2), t)
    cp = DeltaTableCheckpoint(ckpt, t)
    cp.commit_batch(cp.plan_batch(DeltaSource(path=t)))
    # replace the table wholesale → new table id
    import shutil

    shutil.rmtree(t)
    write_delta_fallback(spark.range(5), t)
    with pytest.raises(PlanningError, match="table id changed"):
        DeltaTableCheckpoint(ckpt, t).plan_batch(DeltaSource(path=t))


# ---------------------------------------------------------------------- CDF


def _append_cdc_commit(spark, table_path: str, rows, change_type_col=True):
    """Hand-craft a cdc commit: write a parquet under _change_data + log it."""
    log = DeltaLog(table_path)
    version = log.latest_version() + 1
    cdc_dir = os.path.join(table_path, "_change_data")
    os.makedirs(cdc_dir, exist_ok=True)
    df = spark.createDataFrame(rows, ["id", "_change_type"])
    staging = os.path.join(table_path, ".cdc_staging")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(n for n in os.listdir(staging) if n.endswith(".parquet"))
    rel = f"_change_data/cdc-{version}.parquet"
    os.replace(os.path.join(staging, part), os.path.join(table_path, rel))
    import shutil as _sh
    import time as _t

    _sh.rmtree(staging, ignore_errors=True)
    actions = [
        {"commitInfo": {"timestamp": int(_t.time() * 1000), "operation": "MERGE"}},
        {"cdc": {"path": rel, "partitionValues": {}, "size": 1, "dataChange": False}},
        # the merge also removes+adds data files; dataChange=true removes would
        # normally accompany — cdc actions take precedence in the planner
    ]
    path = os.path.join(table_path, "_delta_log", f"{version:020d}.json")
    with open(path, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def test_cdf_insert_fallback_and_cdc_actions(spark, tmp_path):
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_delta_fallback(spark.range(2), t)  # v0: plain adds
    spec = DeltaSource(path=t, read_change_feed=True, start_offset="earliest")
    src = spec.with_checkpoint(ckpt)

    b0 = src.plan_batch()
    df0 = src.read_batch(spark, b0)
    rows = {(r["id"], r["_change_type"], r["_commit_version"]) for r in df0.collect()}
    assert rows == {(0, "insert", 0), (1, "insert", 0)}  # add-only fallback
    src.commit_batch(b0)

    _append_cdc_commit(
        spark, t, [(1, "update_postimage"), (1, "update_preimage"), (2, "insert")]
    )
    b1 = src.plan_batch()
    df1 = src.read_batch(spark, b1)
    got = {(r["id"], r["_change_type"]) for r in df1.collect()}
    assert got == {(1, "update_postimage"), (1, "update_preimage"), (2, "insert")}
    assert df1.select("_commit_version").distinct().collect()[0][0] == 1

    # partitioned table: the planned batches and the batch read_change_feed
    # read the same change files into the same rows (partition column kept)
    from polars_incremental_spark.sinks.deltalog import delete_where, read_change_feed

    p = str(tmp_path / "p")
    rows = [(1, "en"), (2, "de"), (3, "en")]
    for i, lang in rows:
        write_delta_fallback(
            spark.createDataFrame([(i, lang)], "id long, lang string"), p, partition_by=["lang"]
        )
    delete_where(spark, p, "id = 3", write_cdf=True)  # a commit with cdc files
    psrc = DeltaSource(path=p, read_change_feed=True, start_offset="earliest").with_checkpoint(
        str(tmp_path / "pckpt")
    )
    planned = []
    while (b := psrc.plan_batch()) is not None:
        planned.extend(psrc.read_batch(spark, b).collect())
        psrc.commit_batch(b)
    batch_read = read_change_feed(spark, p, starting_version=0).collect()
    assert sorted(planned) == sorted(batch_read)
    assert sorted((r["id"], r["lang"], r["_change_type"]) for r in planned) == [
        (1, "en", "insert"), (2, "de", "insert"), (3, "en", "delete"), (3, "en", "insert")
    ]


def test_cdf_delete_without_change_files_raises(spark, tmp_path):
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_delta_fallback(spark.range(3), t)
    spec = DeltaSource(path=t, read_change_feed=True, start_offset="earliest")
    src = spec.with_checkpoint(ckpt)
    src.commit_batch(src.plan_batch())
    write_delta_fallback(spark.range(1), t, mode="overwrite")  # removes, no cdc
    with pytest.raises(ChangeDataFeedError):
        src.plan_batch()


# --------------------------------------------------------- pipeline + sinks


def test_pipeline_end_to_end_delta_source(spark, tmp_path):
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_delta_fallback(spark.range(5), t)
    seen: list[int] = []

    def writer(df, batch_id):
        seen.extend(r["id"] for r in df.collect())
        return {"rows": df.count()}

    pipe = Pipeline(source=DeltaSource(path=t), checkpoint_dir=ckpt, writer=writer)
    result = pipe.run(spark)
    assert result.batches == 1 and sorted(seen) == [0, 1, 2, 3, 4]
    # incremental: append → only the new rows
    write_delta_fallback(spark.range(10, 12), t, mode="append")
    seen.clear()
    assert pipe.run(spark).batches == 1
    assert sorted(seen) == [10, 11]


def test_apply_cdc_table_on_delta_fallback(spark, tmp_path):
    t = str(tmp_path / "t")
    ch1 = spark.createDataFrame(
        [(1, "a", "insert", 1), (2, "b", "insert", 1)],
        ["k", "v", "_change_type", "_commit_version"],
    )
    res1 = apply_cdc_table(spark, ch1, t, keys=["k"])
    assert res1["action"] == "merge" and res1["rows_out"] == 2
    assert os.path.isdir(os.path.join(t, "_delta_log"))
    ch2 = spark.createDataFrame(
        [(1, None, "delete", 2), (3, "c", "insert", 2)],
        ["k", "v", "_change_type", "_commit_version"],
    )
    res2 = apply_cdc_table(spark, ch2, t, keys=["k"])
    assert res2["rows_out"] == 2
    assert {r["k"]: r["v"] for r in read_table(spark, t).collect()} == {2: "b", 3: "c"}


def test_vacuum_fallback_removes_unreferenced(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta_fallback(spark.range(2), t)
    write_delta_fallback(spark.range(5, 6), t, mode="overwrite")
    n_parquet = lambda: sum(1 for n in os.listdir(t) if n.endswith(".parquet"))
    before = n_parquet()
    removed = vacuum_delta_table(spark, t, retention_hours=0.0)
    assert removed and n_parquet() < before
    assert _ids(read_delta_fallback(spark, t)) == [5]  # snapshot intact


def test_optimize_fallback_compacts(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta_fallback(spark.range(2).repartition(4), t)
    log = DeltaLog(t)
    assert len(log.snapshot_files(log.latest_version())) > 1
    optimize_delta_table(spark, t)
    log = DeltaLog(t)
    assert len(log.snapshot_files(log.latest_version())) == 1
    assert _ids(read_delta_fallback(spark, t)) == [0, 1]


def test_cdf_write_read_roundtrip(spark, tmp_path):
    """Full CDC loop: merges write change-data files; a downstream CDF
    consumer applies the feed and reconstructs the upstream table."""
    from polars_incremental_spark.cdc import apply_cdc

    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    cols = ["k", "v", "_change_type", "_commit_version"]
    apply_cdc_table(
        spark,
        spark.createDataFrame([(1, "a", "insert", 1), (2, "b", "insert", 1)], cols),
        t, keys=["k"], write_change_feed=True,
    )
    apply_cdc_table(
        spark,
        spark.createDataFrame([(1, "a2", "update_postimage", 2), (2, None, "delete", 2)], cols),
        t, keys=["k"], write_change_feed=True,
    )

    src = DeltaSource(path=t, read_change_feed=True, start_offset="earliest").with_checkpoint(ckpt)
    downstream = None
    while (b := src.plan_batch()) is not None:
        changes = src.read_batch(spark, b)
        downstream = apply_cdc(changes, downstream, keys=["k"])
        src.commit_batch(b)
    got = {r["k"]: r["v"] for r in downstream.collect()}
    want = {r["k"]: r["v"] for r in read_table(spark, t).collect()}
    assert got == want == {1: "a2"}


def test_snapshot_max_bytes_cap(spark, tmp_path):
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_delta_fallback(spark.range(1).coalesce(1), t)
    write_delta_fallback(spark.range(1, 2).coalesce(1), t, mode="append")
    spec = DeltaSource(path=t, max_bytes_per_trigger=1)  # < any file → 1 file/batch
    cp = DeltaTableCheckpoint(ckpt, t)
    b = cp.plan_batch(spec)
    assert len(b.files) == 1  # byte cap still guarantees progress (≥1 file)
    cp.commit_batch(b)
    b2 = cp.plan_batch(spec)
    assert len(b2.files) == 1 and b2.files != b.files


def test_schema_evolution_on_append(spark, tmp_path):
    """mergeSchema semantics: an append with a new column updates the logged
    schema; pre-evolution files surface the column as null."""
    t = str(tmp_path / "t")
    write_delta_fallback(spark.createDataFrame([(1, "a")], ["id", "v"]), t)
    write_delta_fallback(
        spark.createDataFrame([(2, "b", 9.5)], ["id", "v", "score"]), t, mode="append"
    )
    out = {r["id"]: (r["v"], r["score"]) for r in read_delta_fallback(spark, t).collect()}
    assert out == {1: ("a", None), 2: ("b", 9.5)}
    meta = DeltaLog(t).table_metadata()
    names = [f["name"] for f in json.loads(meta["schemaString"])["fields"]]
    assert names == ["id", "v", "score"]


def test_cdf_snapshot_start_marks_inserts(spark, tmp_path):
    """Default snapshot start under read_change_feed: snapshot rows carry
    _change_type='insert' (delta-spark's starting-snapshot contract)."""
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_delta_fallback(spark.range(2), t)
    src = DeltaSource(path=t, read_change_feed=True).with_checkpoint(ckpt)
    b = src.plan_batch()
    assert b.metadata["is_initial_snapshot"] is True
    rows = {(r["id"], r["_change_type"]) for r in src.read_batch(spark, b).collect()}
    assert rows == {(0, "insert"), (1, "insert")}


def test_appends_during_snapshot_arrive_in_tail(spark, tmp_path):
    """Data appended while a capped snapshot is draining shows up afterward."""
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_delta_fallback(spark.range(1).coalesce(1), t)
    write_delta_fallback(spark.range(1, 2).coalesce(1), t, mode="append")
    spec = DeltaSource(path=t, max_files_per_trigger=1)
    src = spec.with_checkpoint(ckpt)
    b0 = src.plan_batch()
    src.commit_batch(b0)  # half the snapshot consumed
    write_delta_fallback(spark.range(50, 51).coalesce(1), t, mode="append")  # mid-snapshot append
    got = _ids(spark.read.parquet(*b0.files))
    while (b := src.plan_batch()) is not None:
        got.extend(_ids(spark.read.parquet(*b.files)))
        src.commit_batch(b)
    assert sorted(got) == [0, 1, 50]


def test_pipeline_auto_detects_delta_path(spark, tmp_path):
    """A bare string source pointing at a _delta_log directory routes to the
    planned-mode Delta source automatically (AutoSource sniffing)."""
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_delta_fallback(spark.range(3), t)
    seen = []
    Pipeline(
        source=t, checkpoint_dir=ckpt,
        writer=lambda df: seen.extend(r["id"] for r in df.collect()),
    ).run(spark)
    assert sorted(seen) == [0, 1, 2]


# ------------------------------------------------------------- time travel


def test_read_table_version_as_of(spark, tmp_path):
    t = str(tmp_path / "tt")
    write_table(spark.range(0, 3), t, mode="overwrite")      # v0: 0..2
    write_table(spark.range(3, 5), t, mode="append")         # v1: +3,4
    write_table(spark.range(5, 6), t, mode="append")         # v2: +5
    assert _ids(read_table(spark, t)) == [0, 1, 2, 3, 4, 5]
    assert _ids(read_table(spark, t, version=0)) == [0, 1, 2]
    assert _ids(read_table(spark, t, version=1)) == [0, 1, 2, 3, 4]
    assert _ids(read_table(spark, t, version=2)) == [0, 1, 2, 3, 4, 5]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="out of range"):
        read_table(spark, t, version=9)
    with _pytest.raises(ValueError, match="not both"):
        read_table(spark, t, version=1, timestamp_ms=123)


def test_read_table_timestamp_as_of(spark, tmp_path):
    from polars_incremental_spark.checkpoints.delta import DeltaLog

    t = str(tmp_path / "tt_ts")
    write_table(spark.range(0, 2), t, mode="overwrite")
    write_table(spark.range(2, 4), t, mode="append")
    log = DeltaLog(t)
    ts0 = log.commit_timestamp_ms(0)
    ts1 = log.commit_timestamp_ms(1)
    # at exactly v0's commit time -> v0; at/after v1's -> v1
    assert _ids(read_table(spark, t, timestamp_ms=ts0)) == [0, 1]
    assert _ids(read_table(spark, t, timestamp_ms=ts1 + 1)) == [0, 1, 2, 3]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="precedes"):
        read_table(spark, t, timestamp_ms=ts0 - 10_000)


def test_read_table_version_sees_schema_as_of_then(spark, tmp_path):
    from pyspark.sql import functions as F

    t = str(tmp_path / "tt_schema")
    write_table(spark.range(0, 2).select("id"), t, mode="overwrite")
    write_table(
        spark.range(2, 3).select("id", F.lit("x").alias("extra")),
        t, mode="append", merge_schema=True,
    )
    # AS OF v0 the extra column must NOT exist
    assert read_table(spark, t, version=0).columns == ["id"]
    assert "extra" in read_table(spark, t).columns


def test_read_table_expired_version_raises(spark, tmp_path):
    from polars_incremental_spark.sinks.deltalog import checkpoint_log, expire_log

    t = str(tmp_path / "tt_exp")
    write_table(spark.range(0, 2), t, mode="overwrite")   # v0
    write_table(spark.range(2, 4), t, mode="append")      # v1
    write_table(spark.range(4, 6), t, mode="append")      # v2
    checkpoint_log(t, version=2)
    expired = expire_log(t)
    assert expired  # v0/v1 JSON commits gone
    import pytest as _pytest

    with _pytest.raises(ValueError, match="expired"):
        read_table(spark, t, version=0)
    # the checkpointed version itself still reads
    assert _ids(read_table(spark, t, version=2)) == [0, 1, 2, 3, 4, 5]


# -------------------------------------------------------- history / restore


def test_table_history_lists_commits_newest_first(spark, tmp_path):
    from polars_incremental_spark.sinks.delta import table_history

    t = str(tmp_path / "hist")
    write_table(spark.range(0, 2), t, mode="overwrite")
    write_table(spark.range(2, 4), t, mode="append")
    h = table_history(t)
    assert [e["version"] for e in h] == [1, 0]
    assert all(e["operation"] == "WRITE" for e in h)
    assert h[0]["operation_parameters"] == {"mode": "APPEND"}
    assert h[0]["n_files_added"] >= 1 and h[0]["n_files_removed"] == 0
    assert h[0]["timestamp_ms"] >= h[1]["timestamp_ms"]


def test_restore_table_roundtrip(spark, tmp_path):
    from polars_incremental_spark.sinks.delta import restore_table, table_history

    t = str(tmp_path / "restore")
    write_table(spark.range(0, 3), t, mode="overwrite")   # v0
    write_table(spark.range(3, 6), t, mode="append")      # v1
    write_table(spark.range(0, 2), t, mode="overwrite")   # v2: 0,1
    assert _ids(read_table(spark, t)) == [0, 1]

    res = restore_table(t, version=1)
    assert res["restored_to"] == 1 and res["new_version"] == 3
    assert _ids(read_table(spark, t)) == [0, 1, 2, 3, 4, 5]
    # history shows the restore as its own commit; time travel still works
    h = table_history(t)
    assert h[0]["operation"] == "RESTORE"
    assert _ids(read_table(spark, t, version=2)) == [0, 1]
    # and the table stays writable after a restore
    write_table(spark.range(6, 7), t, mode="append")
    assert _ids(read_table(spark, t)) == [0, 1, 2, 3, 4, 5, 6]


def test_restore_table_restores_schema_as_of_version(spark, tmp_path):
    from pyspark.sql import functions as F

    from polars_incremental_spark.sinks.delta import restore_table

    t = str(tmp_path / "restore_schema")
    write_table(spark.range(0, 2).select("id"), t, mode="overwrite")
    write_table(
        spark.range(2, 3).select("id", F.lit("x").alias("extra")),
        t, mode="append", merge_schema=True,
    )
    assert "extra" in read_table(spark, t).columns
    restore_table(t, version=0)
    assert read_table(spark, t).columns == ["id"]


def test_restore_table_raises_on_vacuumed_files(spark, tmp_path):
    import pytest as _pytest

    from polars_incremental_spark.maintenance import vacuum_delta_table
    from polars_incremental_spark.sinks.delta import restore_table

    t = str(tmp_path / "restore_vac")
    write_table(spark.range(0, 2), t, mode="overwrite")   # v0
    write_table(spark.range(2, 4), t, mode="overwrite")   # v1 removes v0 files
    vacuum_delta_table(spark, t, retention_hours=0.0)     # deletes v0 data files
    with _pytest.raises(FileNotFoundError, match="vacuumed"):
        restore_table(t, version=0)


# --------------------------------------------------------- partitioned tables


def test_partitioned_fallback_roundtrip_and_pruning(spark, tmp_path):
    import glob as _glob

    t = str(tmp_path / "ptable")
    df = spark.createDataFrame(
        [(1, "en", 10.0), (2, "en", 20.0), (3, "de", 30.0), (4, "fr", 40.0)],
        "doc_id long, lang string, score double",
    )
    write_table(df, t, mode="overwrite", partition_by=["lang"])
    # data landed in hive dirs, log records partitionValues
    assert _glob.glob(f"{t}/lang=en/*.parquet")
    from polars_incremental_spark.checkpoints.delta import DeltaLog

    log = DeltaLog(t)
    adds = log.snapshot_files(log.latest_version())
    assert all(a["partitionValues"].get("lang") for a in adds)
    assert (log.table_metadata() or {}).get("partitionColumns") == ["lang"]

    back = read_table(spark, t)
    assert sorted(back.columns) == ["doc_id", "lang", "score"]
    got = {(r["doc_id"], r["lang"], r["score"]) for r in back.collect()}
    assert got == {(1, "en", 10.0), (2, "en", 20.0), (3, "de", 30.0), (4, "fr", 40.0)}

    # pruning proof: corrupt every non-matching partition's files — the
    # lang='de' filter must still answer (a full scan would crash)
    for f in _glob.glob(f"{t}/lang=en/*.parquet") + _glob.glob(f"{t}/lang=fr/*.parquet"):
        with open(f, "wb") as fh:
            fh.write(b"corrupt")
    de = read_table(spark, t).filter("lang = 'de'")
    assert [r["doc_id"] for r in de.collect()] == [3]


def test_partitioned_fallback_append_inherits_and_validates(spark, tmp_path):
    import pytest as _pytest

    t = str(tmp_path / "pappend")
    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    write_table(df, t, mode="overwrite", partition_by=["lang"])
    # append WITHOUT partition_by inherits the table layout
    write_table(spark.createDataFrame([(2, "de")], "doc_id long, lang string"), t)
    import glob as _glob

    assert _glob.glob(f"{t}/lang=de/*.parquet")
    assert read_table(spark, t).count() == 2
    # conflicting explicit partitioning is refused
    with _pytest.raises(ValueError, match="does not match"):
        write_table(
            spark.createDataFrame([(3, "fr")], "doc_id long, lang string"),
            t, partition_by=["doc_id"],
        )


def test_partitioned_fallback_streams_partition_column(spark, tmp_path):
    from polars_incremental_spark import DeltaSource, Pipeline

    t = str(tmp_path / "pstream")
    write_table(
        spark.createDataFrame([(1, "en"), (2, "de")], "doc_id long, lang string"),
        t, mode="overwrite", partition_by=["lang"],
    )
    seen = []
    Pipeline(
        source=DeltaSource(path=t),
        checkpoint_dir=str(tmp_path / "ckpt"),
        writer=lambda df: seen.extend((r["doc_id"], r["lang"]) for r in df.collect()),
    ).run(spark)
    assert sorted(seen) == [(1, "en"), (2, "de")]


def test_partitioned_fallback_vacuum_and_compact(spark, tmp_path):
    import glob as _glob

    from polars_incremental_spark.maintenance import vacuum_delta_table
    from polars_incremental_spark.sinks.deltalog import compact_fallback

    t = str(tmp_path / "pmaint")
    write_table(
        spark.createDataFrame([(1, "en"), (2, "de")], "doc_id long, lang string"),
        t, mode="overwrite", partition_by=["lang"],
    )
    write_table(
        spark.createDataFrame([(3, "en"), (4, "de")], "doc_id long, lang string"),
        t, mode="overwrite",
    )
    removed = vacuum_delta_table(spark, t, retention_hours=0.0)
    assert removed  # v0's nested partition files reclaimed
    assert read_table(spark, t).count() == 2
    compact_fallback(spark, t)
    # compaction preserved the hive layout and the answer
    assert _glob.glob(f"{t}/lang=en/*.parquet")
    assert {r["doc_id"] for r in read_table(spark, t).collect()} == {3, 4}


def test_compact_partition_scoped(spark, tmp_path):
    """OPTIMIZE ... WHERE: only the filtered partition's files rewrite."""
    import glob as _glob

    from polars_incremental_spark.checkpoints.delta import DeltaLog
    from polars_incremental_spark.sinks.deltalog import compact_fallback

    t = str(tmp_path / "popt")
    for i in range(3):  # 3 commits -> 3 small files per partition
        write_table(
            spark.createDataFrame(
                [(10 * i + 1, "en"), (10 * i + 2, "de")], "doc_id long, lang string"
            ).coalesce(1),
            t, mode="append" if i else "overwrite", partition_by=["lang"],
        )
    log = DeltaLog(t)
    before = log.snapshot_files(log.latest_version())
    en_before = [a for a in before if a["partitionValues"]["lang"] == "en"]
    de_before = [a for a in before if a["partitionValues"]["lang"] == "de"]
    assert len(en_before) == 3 and len(de_before) == 3

    compact_fallback(spark, t, partition_filter={"lang": "en"})
    after = log.snapshot_files(log.latest_version())
    en_after = [a for a in after if a["partitionValues"]["lang"] == "en"]
    de_after = [a for a in after if a["partitionValues"]["lang"] == "de"]
    assert len(en_after) == 1                      # compacted
    assert {a["path"] for a in de_after} == {a["path"] for a in de_before}  # untouched
    assert read_table(spark, t).count() == 6       # answer unchanged

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not partition columns"):
        compact_fallback(spark, t, partition_filter={"doc_id": "1"})


def test_optimize_zorder_fallback_clusters_files(spark, tmp_path):
    """OPTIMIZE ZORDER BY without the jar: the dataChange=false rewrite
    leaves files with small per-file bounding boxes on BOTH columns."""
    import glob as _glob

    import pyarrow.parquet as pq

    t = str(tmp_path / "zopt")
    n, grid = 8000, 89
    df = spark.createDataFrame(
        [(i, (i * 7919) % grid, (i * 104729) % grid) for i in range(n)],
        "rid long, x long, y long",
    )
    write_table(df.repartition(8), t, mode="overwrite")

    optimize_delta_table(spark, t, z_order_by=["x", "y"], target_partitions=8)

    from polars_incremental_spark.checkpoints.delta import DeltaLog

    log = DeltaLog(t)
    active = [log.abs_path(a["path"]) for a in log.snapshot_files(log.latest_version())]
    spans = []
    for f in active:
        tbl = pq.read_table(f, columns=["x", "y"])
        xs, ys = tbl.column("x").to_pylist(), tbl.column("y").to_pylist()
        spans.append((max(xs) - min(xs)) * (max(ys) - min(ys)))
    assert sum(spans) / len(spans) < (grid * grid) / 4
    # answer unchanged; the rewrite is dataChange=false (streams skip it)
    assert read_table(spark, t).count() == n
    last = [a for a in log.actions(log.latest_version()) if "add" in a]
    assert all(a["add"]["dataChange"] is False for a in last)
