"""Identity columns (PROTOCOL.md writer v6) and in-commit timestamps
(writerFeatures "inCommitTimestamp") on the jar-less Delta path.

Identity: generation past the high watermark, start/step congruence,
GENERATED ALWAYS vs BY DEFAULT, watermark advance from staged-file stats,
no-blind-rebase on conflicts.  ICT: monotone stamping at the commit choke
point, timestamp time travel resolving by ICT, chain survival across log
checkpoint + expiry.
"""

import json
import os
from unittest import mock

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark.checkpoints.delta import DeltaLog
from polars_incremental_spark.sinks import deltalog
from polars_incremental_spark.sinks.delta import read_table
from polars_incremental_spark.sinks.deltalog import (
    CommitConflictError,
    enable_in_commit_timestamps,
    expire_log,
    merge_into,
    write_delta_fallback,
)


def _schema_field_md(path, name):
    meta = DeltaLog(path).table_metadata()
    for f in json.loads(meta["schemaString"])["fields"]:
        if f["name"] == name:
            return f.get("metadata") or {}
    raise AssertionError(f"no field {name}")


def _df(spark, n, tag):
    return spark.range(n).select(
        F.concat(F.lit(tag), F.col("id").cast("string")).alias("name")
    )


# ----------------------------------------------------------- identity


def test_identity_create_and_append(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(
        _df(spark, 10, "a"), path,
        identity_columns={"rid": {"start": 100, "step": 5}},
    )
    log = DeltaLog(path)
    assert log.protocol()["minWriterVersion"] == 6
    md = _schema_field_md(path, "rid")
    assert md["delta.identity.start"] == 100
    assert md["delta.identity.step"] == 5
    hwm0 = md["delta.identity.highWaterMark"]
    first = read_table(spark, path).select("rid").collect()
    ids = [r["rid"] for r in first]
    assert len(set(ids)) == 10
    assert all((i - 100) % 5 == 0 and i >= 100 for i in ids)
    assert hwm0 >= max(ids)

    write_delta_fallback(_df(spark, 10, "b"), path)
    md2 = _schema_field_md(path, "rid")
    all_ids = [r["rid"] for r in read_table(spark, path).select("rid").collect()]
    assert len(set(all_ids)) == 20
    new_ids = set(all_ids) - set(ids)
    # every second-batch id is strictly past the first batch's watermark
    assert min(new_ids) > hwm0
    assert all((i - 100) % 5 == 0 for i in new_ids)
    assert md2["delta.identity.highWaterMark"] >= max(all_ids)


def test_identity_negative_step(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(
        _df(spark, 5, "a"), path,
        identity_columns={"rid": {"start": 0, "step": -2}},
    )
    ids = [r["rid"] for r in read_table(spark, path).select("rid").collect()]
    assert all(i <= 0 and i % 2 == 0 for i in ids)
    hwm = _schema_field_md(path, "rid")["delta.identity.highWaterMark"]
    assert hwm <= min(ids)
    write_delta_fallback(_df(spark, 5, "b"), path)
    ids2 = [r["rid"] for r in read_table(spark, path).select("rid").collect()]
    assert len(set(ids2)) == 10
    assert min(set(ids2) - set(ids)) < hwm  # moved further down


def test_identity_generated_always_rejects_explicit(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(
        _df(spark, 3, "a"), path, identity_columns={"rid": {}}
    )
    explicit = spark.range(3).select(
        F.col("id").alias("rid"), F.lit("x").alias("name")
    )
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        write_delta_fallback(explicit, path)


def test_identity_by_default_accepts_and_bumps_watermark(spark, tmp_path):
    path = str(tmp_path / "t")
    # single partition -> ids are gap-free from start, so the explicit
    # values below are guaranteed to land past the first watermark
    write_delta_fallback(
        _df(spark, 3, "a").coalesce(1), path,
        identity_columns={"rid": {"allow_explicit_insert": True}},
    )
    hwm0 = _schema_field_md(path, "rid")["delta.identity.highWaterMark"]
    assert hwm0 == 3  # start=1, step=1, 3 rows, one partition
    explicit = spark.createDataFrame(
        [(10_000, "x"), (10_001, "y")], "rid long, name string"
    )
    write_delta_fallback(explicit, path)
    hwm1 = _schema_field_md(path, "rid")["delta.identity.highWaterMark"]
    assert hwm1 >= 10_001 > hwm0
    # generation resumes PAST the explicit values — no collision
    write_delta_fallback(_df(spark, 3, "b"), path)
    ids = [r["rid"] for r in read_table(spark, path).select("rid").collect()]
    assert len(ids) == len(set(ids)) == 8
    assert max(ids) > 10_001


def test_identity_create_time_only(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 3, "a"), path)
    with pytest.raises(ValueError, match="create-time only"):
        write_delta_fallback(
            _df(spark, 3, "b"), path, identity_columns={"rid": {}}
        )


def test_identity_conflict_never_rebases(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 3, "a"), path, identity_columns={"rid": {}})
    real = deltalog._write_commit
    with mock.patch.object(
        deltalog, "_write_commit",
        side_effect=CommitConflictError("simulated race"),
    ):
        with pytest.raises(CommitConflictError):
            write_delta_fallback(_df(spark, 3, "b"), path)
    # a plain (non-identity) append DOES rebase through the same race
    path2 = str(tmp_path / "t2")
    write_delta_fallback(_df(spark, 3, "a"), path2)
    calls = {"n": 0}

    def flaky(log_dir, version, actions):
        calls["n"] += 1
        if calls["n"] == 1:
            real(log_dir, version, [{"commitInfo": {"timestamp": 1}}])
            raise CommitConflictError("simulated race")
        return real(log_dir, version, actions)

    with mock.patch.object(deltalog, "_write_commit", side_effect=flaky):
        write_delta_fallback(_df(spark, 3, "b"), path2)
    assert read_table(spark, path2).count() == 6


def test_identity_merge_insert_guard(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 3, "a"), path, identity_columns={"rid": {}})
    src = spark.createDataFrame([("a0", 9.0)], "name string, v double")
    with pytest.raises(ValueError, match="identity"):
        merge_into(spark, path, src, keys=["name"])
    # insert disabled -> merge proceeds
    merge_into(
        spark, path, src, keys=["name"],
        when_matched_update={"name": "src.name"},
        when_not_matched_insert=False,
    )


def test_identity_survives_file_selective_rewrite(spark, tmp_path):
    """A remove_paths rewrite (apply_cdc_table's merge) keeps the identity
    values it carries and generates only the rows it inserts, past the
    old high watermark; GENERATED ALWAYS still rejects ids the caller's
    changes provide."""
    from polars_incremental_spark.sinks.delta import apply_cdc_table

    path = str(tmp_path / "t")
    write_delta_fallback(
        spark.createDataFrame(
            [(f"a{i}", float(i)) for i in range(4)], "name string, v double"
        ).coalesce(1),
        path,
        identity_columns={"rid": {}},
    )
    before = {r["name"]: r["rid"] for r in read_table(spark, path).collect()}
    hwm = int(_schema_field_md(path, "rid")["delta.identity.highWaterMark"])
    changes = spark.createDataFrame(
        [("a1", 10.0, "update_postimage"), ("new", 1.0, "insert")],
        "name string, v double, _change_type string",
    )
    apply_cdc_table(spark, changes, path, keys=["name"])
    after = {r["name"]: (r["rid"], r["v"]) for r in read_table(spark, path).collect()}
    # carried rows and the updated one keep their ids
    assert {k: after[k][0] for k in before} == before
    assert after["a1"][1] == 10.0
    assert after["new"][0] > hwm
    assert len({rid for rid, _ in after.values()}) == 5
    v = DeltaLog(path).latest_version()
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        apply_cdc_table(
            spark, changes.withColumn("rid", F.lit(7).cast("long")), path, keys=["name"]
        )
    assert DeltaLog(path).latest_version() == v


# ----------------------------------------------------------- ICT


def _commit_info(path, version):
    with open(os.path.join(path, "_delta_log", f"{version:020d}.json")) as fh:
        for line in fh:
            a = json.loads(line)
            if "commitInfo" in a:
                return a["commitInfo"]
    return None


def test_ict_enable_and_monotone_stamping(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 3, "a"), path)
    v = enable_in_commit_timestamps(path)
    log = DeltaLog(path)
    proto = log.protocol()
    assert proto["minWriterVersion"] == 7
    assert "inCommitTimestamp" in proto["writerFeatures"]
    conf = log.table_metadata()["configuration"]
    assert conf["delta.enableInCommitTimestamps"] == "true"
    assert conf["delta.inCommitTimestampEnablementVersion"] == str(v)

    write_delta_fallback(_df(spark, 3, "b"), path)
    write_delta_fallback(_df(spark, 3, "c"), path)
    icts = [
        _commit_info(path, ver)["inCommitTimestamp"] for ver in (v, v + 1, v + 2)
    ]
    assert icts[0] < icts[1] < icts[2]
    # enablement is idempotent
    assert enable_in_commit_timestamps(path) == log.latest_version()


def test_ict_stamps_dml_and_timestamp_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(
        spark.range(10).select(F.col("id").alias("x")), path
    )
    enable_in_commit_timestamps(path)
    deltalog.delete_where(spark, path, "x >= 5")
    log = DeltaLog(path)
    latest = log.latest_version()
    info = _commit_info(path, latest)
    assert info["operation"] == "DELETE" and "inCommitTimestamp" in info
    # timestamp time travel resolves against the ICT, not file mtimes
    ict = info["inCommitTimestamp"]
    assert read_table(spark, path, timestamp_ms=ict).count() == 5
    assert read_table(spark, path, timestamp_ms=ict - 1).count() == 10


def test_ict_chain_survives_checkpoint_expiry(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(_df(spark, 2, "a"), path, checkpoint_interval=None)
    enable_in_commit_timestamps(path)
    for i in range(9):
        write_delta_fallback(_df(spark, 1, f"b{i}"), path, checkpoint_interval=None)
    log = DeltaLog(path)
    last = log.latest_version()
    last_ict = _commit_info(path, last)["inCommitTimestamp"]
    deltalog.checkpoint_log(path)
    expire_log(path)
    # the pre-checkpoint JSON tail is gone, but the next commit still
    # stamps monotonically (sidecar carries the chain)
    write_delta_fallback(_df(spark, 1, "z"), path, checkpoint_interval=None)
    new_ict = _commit_info(path, last + 1)["inCommitTimestamp"]
    assert new_ict > last_ict
    # ICT-based commit_timestamp_ms stays monotone across the expiry seam
    assert DeltaLog(path).commit_timestamp_ms(last + 1) == new_ict
