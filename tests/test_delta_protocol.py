"""One protocol rule for every jar-less commit that adds a table feature
(``deltalog._protocol_upgrade``): versions never go down, no feature is
dropped, and a legacy protocol moved to table-features form lists the
features its old versions implied."""

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark.checkpoints.delta import DeltaLog, DeltaTableCheckpoint
from polars_incremental_spark.errors import PlanningError
from polars_incremental_spark.sinks.delta import delete_rows, write_table
from polars_incremental_spark.sinks.deltalog import (
    _protocol_upgrade,
    add_check_constraint,
    set_table_properties,
    write_delta_fallback,
)
from polars_incremental_spark.sources.base import DeltaSource


def _protocol_actions(log, version):
    return [a["protocol"] for a in log.actions(version) if "protocol" in a]


def test_upgrade_keeps_legacy_form_and_never_lowers():
    def legacy(r, w):
        return {"minReaderVersion": r, "minWriterVersion": w}

    assert _protocol_upgrade(legacy(1, 2), {"checkConstraints"}) == legacy(1, 3)
    # writer 4 already implies CHECK constraints: nothing to write
    assert _protocol_upgrade(legacy(1, 4), {"checkConstraints"}) is None
    assert _protocol_upgrade(legacy(1, 6), {"columnMapping"}) == legacy(2, 6)


def test_upgrade_to_table_features_lists_implied_features():
    legacy = {"minReaderVersion": 2, "minWriterVersion": 6}
    got = _protocol_upgrade(legacy, {"deletionVectors"})
    assert got["minReaderVersion"] == 3 and got["minWriterVersion"] == 7
    assert set(got["readerFeatures"]) == {"columnMapping", "deletionVectors"}
    assert set(got["writerFeatures"]) == {
        "appendOnly", "invariants", "checkConstraints", "changeDataFeed",
        "generatedColumns", "columnMapping", "identityColumns", "deletionVectors",
    }
    # a features-form protocol keeps every listed feature, foreign ones too
    foreign = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["timestampNtz"],
        "writerFeatures": ["timestampNtz", "v2Checkpoint"],
    }
    got = _protocol_upgrade(foreign, {"domainMetadata"})
    assert got["readerFeatures"] == ["timestampNtz"]
    assert set(got["writerFeatures"]) == {"timestampNtz", "v2Checkpoint", "domainMetadata"}
    assert _protocol_upgrade(got, {"domainMetadata"}) is None


def test_check_constraint_keeps_deletion_vector_protocol(spark, tmp_path):
    path, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_table(
        spark.range(100).select(F.col("id").alias("x"), (F.col("id") % 4).alias("g")).coalesce(1),
        path,
    )
    set_table_properties(path, {"delta.enableDeletionVectors": "true"})
    delete_rows(spark, path, "g = 1")
    add_check_constraint(spark, path, "nonneg", "x >= 0")
    proto = DeltaLog(path).protocol()
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "deletionVectors" in proto["readerFeatures"]
    assert {"deletionVectors", "checkConstraints"} <= set(proto["writerFeatures"])
    # the CDF-less tailer cannot apply DVs, and must still refuse the table
    with pytest.raises(PlanningError, match="deletion"):
        DeltaTableCheckpoint(ckpt, path).plan_batch(DeltaSource(path=path, ignore_changes=True))


def test_check_constraint_keeps_row_tracking_features(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(spark.range(5), path, row_tracking=True)
    add_check_constraint(spark, path, "nonneg", "id >= 0")
    proto = DeltaLog(path).protocol()
    assert proto["minWriterVersion"] == 7
    assert {"rowTracking", "domainMetadata", "checkConstraints"} <= set(proto["writerFeatures"])


def test_check_constraint_keeps_generated_column_writer_version(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(spark.range(5), path, generated_columns={"y": "id * 2"})
    add_check_constraint(spark, path, "nonneg", "id >= 0")
    log = DeltaLog(path)
    assert log.protocol()["minWriterVersion"] >= 4
    # writer 4 implies CHECK constraints: the commit changes no protocol
    assert _protocol_actions(log, log.latest_version()) == []


def test_domain_metadata_append_lists_implied_features(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_fallback(spark.range(5), path, generated_columns={"y": "id * 2"})
    add_check_constraint(spark, path, "nonneg", "id >= 0")
    write_delta_fallback(
        spark.range(5, 8), path, mode="append", domain_metadata={"app.state": '{"n": 1}'}
    )
    proto = DeltaLog(path).protocol()
    assert proto["minWriterVersion"] == 7
    assert {"checkConstraints", "generatedColumns", "domainMetadata"} <= set(
        proto["writerFeatures"]
    )
