"""Generated columns on the jar-less Delta path: stored as
``delta.generationExpression`` field metadata (protocol writer v4),
computed on absent, validated on provided, and usable as partition
columns (the canonical partition-by-derived-date pattern)."""

import json

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark.checkpoints.delta import DeltaLog
from polars_incremental_spark.errors import ConstraintViolationError
from polars_incremental_spark.sinks.delta import read_table
from polars_incremental_spark.sinks.deltalog import write_delta_fallback


def _events(spark, ids):
    return spark.createDataFrame(
        [(i, f"2024-01-{(i % 3) + 1:02d} 10:00:00") for i in ids],
        "id long, ts_s string",
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))


def test_generated_column_computed_and_logged(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(
        _events(spark, range(6)),
        path,
        generated_columns={"d": "CAST(ts AS DATE)"},
    )
    meta = DeltaLog(path).table_metadata()
    fields = {f["name"]: f for f in json.loads(meta["schemaString"])["fields"]}
    assert (
        fields["d"]["metadata"]["delta.generationExpression"]
        == "CAST(ts AS DATE)"
    )
    rows = read_table(spark, path).collect()
    assert all(r["d"] == r["ts"].date() for r in rows)
    # protocol bumped to writer v4 for the feature
    proto = [
        a["protocol"]
        for a in DeltaLog(path).actions(0)
        if "protocol" in a
    ][0]
    assert proto["minWriterVersion"] >= 4


def test_append_autocomputes_without_redeclaring(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(
        _events(spark, range(3)), path, generated_columns={"d": "CAST(ts AS DATE)"}
    )
    # append does NOT pass generated_columns — the logged schema drives it
    write_delta_fallback(_events(spark, range(3, 6)), path, mode="append")
    rows = read_table(spark, path).collect()
    assert len(rows) == 6 and all(r["d"] == r["ts"].date() for r in rows)
    # redeclaring on an existing table is an error
    with pytest.raises(ValueError, match="create-time only"):
        write_delta_fallback(
            _events(spark, [9]), path, generated_columns={"d": "CAST(ts AS DATE)"}
        )


def test_provided_value_validated(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(
        _events(spark, range(3)), path, generated_columns={"d": "CAST(ts AS DATE)"}
    )
    good = _events(spark, [7]).withColumn("d", F.col("ts").cast("date"))
    write_delta_fallback(good, path, mode="append")
    bad = _events(spark, [8]).withColumn("d", F.lit("1999-12-31").cast("date"))
    with pytest.raises(ConstraintViolationError, match="generated column d"):
        write_delta_fallback(bad, path, mode="append")
    assert read_table(spark, path).count() == 4


def test_generated_partition_column_prunes(spark, tmp_path):
    """Partition by the generated date: appends land in the right hive
    dirs automatically, and a `where` on the generated column prunes
    (proven by corrupting non-matching partitions)."""
    path = str(tmp_path / "t")
    write_delta_fallback(
        _events(spark, range(12)),
        path,
        generated_columns={"d": "CAST(ts AS DATE)"},
        partition_by=["d"],
    )
    write_delta_fallback(_events(spark, range(12, 18)), path, mode="append")
    log = DeltaLog(path)
    adds = log.snapshot_files(log.latest_version())
    assert {a["partitionValues"]["d"] for a in adds} == {
        "2024-01-01",
        "2024-01-02",
        "2024-01-03",
    }
    for a in adds:
        if a["partitionValues"]["d"] != "2024-01-02":
            with open(log.abs_path(a["path"]), "wb") as h:
                h.write(b"junk")
    rows = read_table(spark, path, where="d = '2024-01-02'").collect()
    assert sorted(r["id"] for r in rows) == [i for i in range(18) if i % 3 == 1]


def test_update_recomputes_generated_column(spark, tmp_path):
    """UPDATE that changes a generation SOURCE column must recompute the
    generated column (and re-bucket partitioned rows) — a stale derived
    value silently corrupts partition pruning."""
    from polars_incremental_spark.sinks.deltalog import update_where

    path = str(tmp_path / "t")
    write_delta_fallback(
        _events(spark, range(6)),
        path,
        generated_columns={"d": "CAST(ts AS DATE)"},
        partition_by=["d"],
    )
    update_where(
        spark, path, "id = 0", {"ts": "timestamp'2024-02-20 09:00:00'"}
    )
    rows = {r["id"]: r for r in read_table(spark, path).collect()}
    assert str(rows[0]["d"]) == "2024-02-20"  # recomputed, not stale
    log = DeltaLog(path)
    parts = {
        a["partitionValues"]["d"]
        for a in log.snapshot_files(log.latest_version())
    }
    assert "2024-02-20" in parts  # row moved to the new hive dir
    # every row still satisfies the generation invariant
    assert all(r["d"] == r["ts"].date() for r in rows.values())


def test_update_rejects_direct_generated_assignment(spark, tmp_path):
    from polars_incremental_spark.sinks.deltalog import update_where

    path = str(tmp_path / "t")
    write_delta_fallback(
        _events(spark, range(3)), path, generated_columns={"d": "CAST(ts AS DATE)"}
    )
    with pytest.raises(ValueError, match="generated"):
        update_where(spark, path, "id = 1", {"d": "DATE'1999-01-01'"})


def test_merge_update_recomputes_generated_column(spark, tmp_path):
    from polars_incremental_spark.sinks.deltalog import merge_into

    path = str(tmp_path / "t")
    write_delta_fallback(
        _events(spark, range(4)), path, generated_columns={"d": "CAST(ts AS DATE)"}
    )
    source = spark.createDataFrame(
        [(2, "2024-03-03 08:00:00")], "id long, ts_s string"
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    merge_into(
        spark, path, source, keys=["id"],
        when_matched_update={"ts": "src.ts"},
        when_not_matched_insert=False,
    )
    rows = {r["id"]: r for r in read_table(spark, path).collect()}
    assert str(rows[2]["d"]) == "2024-03-03"
    assert all(r["d"] == r["ts"].date() for r in rows.values())


def test_rewrites_keep_stored_generated_values(spark, tmp_path):
    """A generated value that depends on a session setting stays as
    stored on every row a rewrite carries: written under UTC, every
    rewrite below runs under UTC+14, where CAST(ts AS DATE) of a noon
    timestamp is the next day.  Rows a clause changes recompute; a
    change batch that provides a wrong value is still refused."""
    import datetime

    from polars_incremental_spark.sinks.delta import apply_cdc_table
    from polars_incremental_spark.sinks.deltalog import (
        compact_fallback,
        delete_where,
        merge_into,
        set_table_properties,
        update_where,
    )

    stored, shifted = datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)
    path = str(tmp_path / "t")

    def rows(ids):
        return spark.createDataFrame(
            [(i, "2024-01-01 12:00:00Z", 0) for i in ids], "id long, ts_s string, v long"
        ).select("id", F.col("ts_s").cast("timestamp").alias("ts"), "v")

    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    write_delta_fallback(
        rows(range(10)).coalesce(1), path, generated_columns={"d": "CAST(ts AS DATE)"}
    )
    changed: set[int] = set()

    def check():
        got = {r["id"]: r["d"] for r in read_table(spark, path).collect()}
        for i, d in got.items():
            assert d == (shifted if i in changed else stored), (i, d)

    try:
        spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
        update_where(spark, path, "id = 0", {"v": "1"})
        changed.add(0)
        check()
        merge_into(
            spark, path, spark.createDataFrame([(1, 5)], "id long, v long"),
            keys=["id"], when_matched_update={"v": "src.v"},
            when_not_matched_insert=False,
        )
        changed.add(1)
        check()
        upsert = rows([2]).withColumn("_change_type", F.lit("update_postimage"))
        apply_cdc_table(spark, upsert, path, keys=["id"])
        changed.add(2)
        check()
        delete_where(spark, path, "id = 3", dv_max_rows_per_file=0)
        set_table_properties(path, {"delta.enableDeletionVectors": "true"})
        res = delete_where(spark, path, "id = 4")
        assert res["files_dv"] == 1
        check()
        compact_fallback(spark, path)
        check()
        bad = upsert.withColumn("d", F.lit("1999-12-31").cast("date"))
        with pytest.raises(ConstraintViolationError, match="generated column d"):
            apply_cdc_table(spark, bad, path, keys=["id"])
        check()
        assert sorted(r["id"] for r in read_table(spark, path).collect()) == [
            0, 1, 2, 5, 6, 7, 8, 9
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
