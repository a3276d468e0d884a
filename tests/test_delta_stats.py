"""Data-skipping stats in the jar-less Delta log.

Write side: every staged file's add action carries PROTOCOL.md per-file
statistics (numRecords/minValues/maxValues/nullCount) read from the
parquet footer.  Read side: ``read_table(..., where=...)`` prunes files
the stats prove irrelevant BEFORE opening them — proven here the same way
the partition/zorder tests prove pruning: corrupt the files that should
be skipped and require the query to still answer exactly.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark.checkpoints.delta import DeltaLog
from polars_incremental_spark.sinks.delta import read_table, write_table
from polars_incremental_spark.sinks.deltalog import (
    _file_may_match,
    _skipping_conjuncts,
    checkpoint_log,
    expire_log,
)


def _ranged_table(spark, path, n=400, files=4):
    df = (
        spark.range(n)
        .select(
            F.col("id").cast("long").alias("x"),
            F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"), 4, "0")).alias(
                "k"
            ),
            F.when(F.col("id") % 10 == 0, None)
            .otherwise(F.col("id").cast("double"))
            .alias("v"),
        )
        .repartitionByRange(files, "x")
        .sortWithinPartitions("x")
    )
    write_table(df, path)
    return df


def _corrupt(path):
    with open(path, "wb") as h:
        h.write(b"not parquet at all")


def test_add_actions_carry_footer_stats(spark, tmp_path):
    path = str(tmp_path / "t")
    _ranged_table(spark, path)
    log = DeltaLog(path)
    adds = log.snapshot_files(log.latest_version())
    assert len(adds) == 4
    total = 0
    for add in adds:
        stats = json.loads(add["stats"])
        total += stats["numRecords"]
        # min/max must match the file's actual content exactly
        actual = (
            spark.read.parquet(log.abs_path(add["path"]))
            .agg(
                F.min("x"), F.max("x"), F.min("k"), F.max("k"),
                F.sum(F.col("v").isNull().cast("long")),
            )
            .first()
        )
        assert stats["minValues"]["x"] == actual[0]
        assert stats["maxValues"]["x"] == actual[1]
        assert stats["minValues"]["k"] == actual[2]
        assert stats["maxValues"]["k"] == actual[3]
        assert stats["nullCount"]["v"] == actual[4]
    assert total == 400


def test_where_prunes_files_proven_by_corruption(spark, tmp_path):
    path = str(tmp_path / "t")
    _ranged_table(spark, path)
    log = DeltaLog(path)
    adds = log.snapshot_files(log.latest_version())
    # corrupt every file whose x-range ends below 300: a scan that opens
    # them dies, so a correct answer PROVES they were skipped
    skipped = 0
    for add in adds:
        stats = json.loads(add["stats"])
        if stats["maxValues"]["x"] < 300:
            _corrupt(log.abs_path(add["path"]))
            skipped += 1
    assert skipped >= 2
    rows = read_table(spark, path, where="x >= 300").orderBy("x").collect()
    assert [r["x"] for r in rows] == list(range(300, 400))
    # sanity: without the predicate the corrupted files ARE read -> failure
    with pytest.raises(Exception):
        read_table(spark, path).count()


def test_string_and_equality_pruning(spark, tmp_path):
    path = str(tmp_path / "t")
    _ranged_table(spark, path)
    log = DeltaLog(path)
    adds = log.snapshot_files(log.latest_version())
    for add in adds:
        stats = json.loads(add["stats"])
        if not (stats["minValues"]["k"] <= "k0042" <= stats["maxValues"]["k"]):
            _corrupt(log.abs_path(add["path"]))
    rows = read_table(spark, path, where="k = 'k0042'").collect()
    assert len(rows) == 1 and rows[0]["x"] == 42


def test_residual_filter_keeps_semantics_exact(spark, tmp_path):
    path = str(tmp_path / "t")
    _ranged_table(spark, path)
    # a predicate only partially pushdown-able: x range + a non-simple term
    rows = read_table(
        spark, path, where="x >= 390 and pmod(x, 2) = 0"
    ).collect()
    assert sorted(r["x"] for r in rows) == [390, 392, 394, 396, 398]


def test_or_predicate_disables_pruning_but_stays_exact(spark, tmp_path):
    path = str(tmp_path / "t")
    _ranged_table(spark, path)
    rows = read_table(spark, path, where="x < 2 or x >= 398").collect()
    assert sorted(r["x"] for r in rows) == [0, 1, 398, 399]


def test_all_null_file_pruned_for_equality(spark, tmp_path):
    path = str(tmp_path / "t")
    a = spark.createDataFrame([(1, None), (2, None)], "id long, w string")
    b = spark.createDataFrame([(3, "hit"), (4, "miss")], "id long, w string")
    write_table(a.coalesce(1), path)
    write_table(b.coalesce(1), path)
    log = DeltaLog(path)
    for add in log.snapshot_files(log.latest_version()):
        stats = json.loads(add["stats"])
        if stats["nullCount"].get("w") == stats["numRecords"]:
            _corrupt(log.abs_path(add["path"]))
    rows = read_table(spark, path, where="w = 'hit'").collect()
    assert [r["id"] for r in rows] == [3]


def test_partition_values_prune_without_stats(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, bucket int"
    )
    write_table(df, path, partition_by=["bucket"])
    log = DeltaLog(path)
    for add in log.snapshot_files(log.latest_version()):
        if add["partitionValues"]["bucket"] != "1":
            _corrupt(log.abs_path(add["path"]))
    rows = read_table(spark, path, where="bucket = 1").collect()
    assert sorted(r["id"] for r in rows) == [i for i in range(30) if i % 3 == 1]


def test_stats_survive_log_checkpoint_and_expiry(spark, tmp_path):
    path = str(tmp_path / "t")
    _ranged_table(spark, path)
    write_table(
        spark.createDataFrame([(1000, "zz", 1.0)], "x long, k string, v double"),
        path,
    )
    checkpoint_log(path)
    expire_log(path)
    log = DeltaLog(path)
    adds = log.snapshot_files(log.latest_version())
    # replay is now checkpoint-seeded; stats must have round-tripped
    assert all(json.loads(a["stats"])["numRecords"] > 0 for a in adds)
    for add in adds:
        if json.loads(add["stats"])["maxValues"]["x"] < 1000:
            _corrupt(log.abs_path(add["path"]))
    rows = read_table(spark, path, where="x >= 1000").collect()
    assert len(rows) == 1 and rows[0]["k"] == "zz"


def test_conjunct_parser_subset_rules():
    assert _skipping_conjuncts("x >= 3 AND k = 'a''b' and y < 2.5") == [
        ("x", ">=", 3),
        ("k", "=", "a'b"),
        ("y", "<", 2.5),
    ]
    # OR anywhere bails entirely (precedence makes conjuncts non-necessary)
    assert _skipping_conjuncts("x = 1 or y = 2 and z = 3") == []
    # unparseable conjuncts are skipped, parseable ones kept
    assert _skipping_conjuncts("pmod(x, 2) = 0 and x > 7") == [("x", ">", 7)]


def test_file_matcher_fails_open_without_stats():
    add = {"path": "p", "partitionValues": {}}
    assert _file_may_match(add, [("x", "=", 5)], set(), {"x": "long"})
    # unknown / temporal column types never prune
    add2 = {"path": "p", "stats": json.dumps({"numRecords": 1, "minValues": {"ts": "2024-01-02T00:00:00"}, "maxValues": {"ts": "2024-01-02T00:00:00"}, "nullCount": {}})}
    assert _file_may_match(add2, [("ts", "<", "2024-01-01")], set(), {"ts": "timestamp"})


def test_analyze_backfills_stats_on_statless_table(spark, tmp_path):
    """Simulate a pre-stats writer by stripping stats from the log, then
    prove analyze_table restores skipping (corruption check)."""
    import re as _re

    from polars_incremental_spark.sinks.deltalog import analyze_table

    path = str(tmp_path / "t")
    _ranged_table(spark, path)
    log_dir = os.path.join(path, "_delta_log")
    for name in os.listdir(log_dir):
        if not name.endswith(".json"):
            continue
        full = os.path.join(log_dir, name)
        lines = []
        for line in open(full):
            a = json.loads(line)
            if "add" in a:
                a["add"].pop("stats", None)
            lines.append(json.dumps(a, separators=(",", ":")))
        with open(full, "w") as h:
            h.write("\n".join(lines) + "\n")
    log = DeltaLog(path)
    assert all("stats" not in a for a in log.snapshot_files(log.latest_version()))
    res = analyze_table(path)
    assert res["files_analyzed"] == 4
    # idempotent: second run finds nothing missing, commits nothing
    assert analyze_table(path) == {"files_analyzed": 0, "version": None}
    adds = log.snapshot_files(log.latest_version())
    assert all(json.loads(a["stats"])["numRecords"] > 0 for a in adds)
    for add in adds:
        if json.loads(add["stats"])["maxValues"]["x"] < 300:
            _corrupt(log.abs_path(add["path"]))
    rows = read_table(spark, path, where="x >= 300").orderBy("x").collect()
    assert [r["x"] for r in rows] == list(range(300, 400))


# ------------------------------------------- reader protocol enforcement


def _append_action(path, action):
    log = DeltaLog(path)
    v = log.latest_version() + 1
    with open(
        os.path.join(path, "_delta_log", f"{v:020d}.json"), "w"
    ) as h:
        h.write(json.dumps(action) + "\n")


def test_reader_refuses_unsupported_reader_features(spark, tmp_path):
    from polars_incremental_spark.errors import PlanningError

    path = str(tmp_path / "t")
    _ranged_table(spark, path)
    _append_action(
        path,
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["v2Checkpoint"]}},
    )
    with pytest.raises(PlanningError, match="v2Checkpoint"):
        read_table(spark, path)
    # time travel to BEFORE the protocol upgrade still reads fine
    assert read_table(spark, path, version=0).count() == 400


def test_reader_refuses_deletion_vector_files(spark, tmp_path):
    from polars_incremental_spark.errors import PlanningError

    path = str(tmp_path / "t")
    _ranged_table(spark, path)
    _append_action(
        path,
        {"add": {"path": "dv-file.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": {"storageType": "u", "pathOrInlineDv": "x",
                                    "sizeInBytes": 40, "cardinality": 3}}},
    )
    with pytest.raises(PlanningError, match="deletion vector"):
        read_table(spark, path)


def test_reader_column_mapping_contract(spark, tmp_path):
    """Since round 6 the snapshot reader SUPPORTS 'name'-mode column
    mapping (it translates physical names — test_delta_column_mapping
    covers the full lifecycle); raw-file paths (the streaming tailer's
    gate) still refuse, and 'id' mode fails closed everywhere."""
    from polars_incremental_spark.errors import PlanningError

    path = str(tmp_path / "t")
    _ranged_table(spark, path)
    log = DeltaLog(path)
    meta = dict(log.table_metadata())
    meta["configuration"] = {"delta.columnMapping.mode": "name"}
    _append_action(path, {"metaData": meta})
    # batch read path: supported (physicalName defaults to the logical
    # name when absent, so this legacy-shaped table reads as before)
    assert read_table(spark, path).count() == 400
    # raw-file path: still fails closed
    with pytest.raises(PlanningError, match="column mapping"):
        DeltaLog(path).check_reader_supported()
    # id mode: fails closed even for the batch reader
    meta["configuration"] = {"delta.columnMapping.mode": "id"}
    _append_action(path, {"metaData": meta})
    with pytest.raises(PlanningError, match="only 'name'"):
        read_table(spark, path)


def test_reader_accepts_timestamp_ntz_feature(spark, tmp_path):
    path = str(tmp_path / "t")
    _ranged_table(spark, path)
    _append_action(
        path,
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["timestampNtz"]}},
    )
    assert read_table(spark, path).count() == 400


def test_streaming_tailer_refuses_unsupported_features(spark, tmp_path):
    """The deletionVectors FEATURE alone doesn't block the tailer (it
    gates per phase on actual DV'd adds — test_delta_dv covers that);
    a feature nobody implements still refuses at plan time."""
    from polars_incremental_spark.checkpoints.delta import DeltaTableCheckpoint
    from polars_incremental_spark.errors import PlanningError
    from polars_incremental_spark.sources.base import DeltaSource

    path, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    _ranged_table(spark, path)
    _append_action(
        path,
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["v2Checkpoint"]}},
    )
    cp = DeltaTableCheckpoint(ckpt, path)
    with pytest.raises(PlanningError, match="v2Checkpoint"):
        cp.plan_batch(DeltaSource(path=path))


def test_between_and_in_pushdown(spark, tmp_path):
    path = str(tmp_path / "t")
    _ranged_table(spark, path)
    log = DeltaLog(path)
    # BETWEEN: corrupt files disjoint from [150, 250]
    for add in log.snapshot_files(log.latest_version()):
        stats = json.loads(add["stats"])
        if stats["maxValues"]["x"] < 150 or stats["minValues"]["x"] > 250:
            _corrupt(log.abs_path(add["path"]))
    rows = read_table(spark, path, where="x between 150 and 250").collect()
    assert sorted(r["x"] for r in rows) == list(range(150, 251))


def test_in_list_pushdown(spark, tmp_path):
    path = str(tmp_path / "t")
    _ranged_table(spark, path)
    log = DeltaLog(path)
    targets = [5, 7, 42]
    for add in log.snapshot_files(log.latest_version()):
        stats = json.loads(add["stats"])
        lo, hi = stats["minValues"]["x"], stats["maxValues"]["x"]
        if not any(lo <= t <= hi for t in targets):
            _corrupt(log.abs_path(add["path"]))
    rows = read_table(spark, path, where="x in (5, 7, 42)").collect()
    assert sorted(r["x"] for r in rows) == targets


def test_conjunct_parser_between_and_in_rules():
    assert _skipping_conjuncts("x between 3 and 9") == [
        ("x", ">=", 3),
        ("x", "<=", 9),
    ]
    assert _skipping_conjuncts("k in ('a', 'b') and x > 1") == [
        ("x", ">", 1),
        ("k", "in", ["a", "b"]),
    ] or _skipping_conjuncts("k in ('a', 'b') and x > 1") == [
        ("k", "in", ["a", "b"]),
        ("x", ">", 1),
    ]
    # NOT near a BETWEEN bails entirely (the rewrite would invert wrongly)
    assert _skipping_conjuncts("not x between 1 and 5") == []
    # NOT IN is simply not used for pruning; other conjuncts still are
    assert _skipping_conjuncts("x not in (1, 2) and x > 7") == [("x", ">", 7)]


def test_in_matcher_prunes_disjoint_members():
    add = {
        "path": "p",
        "stats": json.dumps(
            {"numRecords": 10, "minValues": {"x": 100}, "maxValues": {"x": 200},
             "nullCount": {"x": 0}}
        ),
    }
    assert not _file_may_match(add, [("x", "in", [1, 2, 300])], set(), {"x": "long"})
    assert _file_may_match(add, [("x", "in", [1, 150])], set(), {"x": "long"})
    # mixed literal types fail open
    assert _file_may_match(add, [("x", "in", [1, "a"])], set(), {"x": "long"})


def test_null_predicate_pruning(spark, tmp_path):
    path = str(tmp_path / "t")
    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, w string")
    b = spark.createDataFrame([(3, None), (4, None)], "id long, w string")
    write_table(a.coalesce(1), path)
    write_table(b.coalesce(1), path)
    log = DeltaLog(path)
    # IS NULL: corrupt the no-nulls file; the query must still answer
    for add in log.snapshot_files(log.latest_version()):
        if json.loads(add["stats"])["nullCount"]["w"] == 0:
            _corrupt(log.abs_path(add["path"]))
    rows = read_table(spark, path, where="w is null").collect()
    assert sorted(r["id"] for r in rows) == [3, 4]


def test_not_null_predicate_pruning(spark, tmp_path):
    path = str(tmp_path / "t")
    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, w string")
    b = spark.createDataFrame([(3, None), (4, None)], "id long, w string")
    write_table(a.coalesce(1), path)
    write_table(b.coalesce(1), path)
    log = DeltaLog(path)
    for add in log.snapshot_files(log.latest_version()):
        st = json.loads(add["stats"])
        if st["nullCount"]["w"] == st["numRecords"]:
            _corrupt(log.abs_path(add["path"]))
    rows = read_table(spark, path, where="w is not null").collect()
    assert sorted(r["id"] for r in rows) == [1, 2]
    assert _skipping_conjuncts("w is not null") == [("w", "notnull", None)]
    assert _skipping_conjuncts("w is null and x > 1") == [
        ("w", "isnull", None),
        ("x", ">", 1),
    ]


def test_int_backed_decimal_columns_write_read_and_merge(spark, tmp_path):
    """Spark stores decimal(p<=18) as INT32/INT64 parquet, whose min/max
    pyarrow cannot decode: the writer must log those columns without
    min/max (nullCount stays) instead of failing the write."""
    from decimal import Decimal

    from polars_incremental_spark.sinks.deltalog import merge_into

    path = str(tmp_path / "t")
    schema = "id long, price decimal(9,2), rate decimal(18,4)"
    rows = [(1, Decimal("1.25"), Decimal("0.0100")), (2, None, Decimal("2.5000"))]
    write_table(spark.createDataFrame(rows, schema).coalesce(1), path)
    (add,) = DeltaLog(path).snapshot_files(0)
    stats = json.loads(add["stats"])
    assert stats["numRecords"] == 2
    assert stats["minValues"] == {"id": 1} and stats["maxValues"] == {"id": 2}
    assert stats["nullCount"] == {"id": 0, "price": 1, "rate": 0}
    assert sorted(tuple(r) for r in read_table(spark, path).collect()) == rows
    src = spark.createDataFrame(
        [(2, Decimal("3.50"), Decimal("2.5000")), (3, Decimal("9.99"), None)], schema
    )
    res = merge_into(
        spark,
        path,
        src,
        keys=["id"],
        when_matched_update={"price": "src.price"},
        when_not_matched_insert=True,
    )
    assert (res["rows_updated"], res["rows_inserted"]) == (1, 1)
    assert sorted(tuple(r) for r in read_table(spark, path, where="id >= 2").collect()) == [
        (2, Decimal("3.50"), Decimal("2.5000")),
        (3, Decimal("9.99"), None),
    ]
