"""Framework coverage: maintenance, state, catalog, observability, sources,
format readers, and native streaming."""

from __future__ import annotations

import json
import logging
import os

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark import maintenance
from polars_incremental_spark.catalog import DatasetSpec, LocalCatalog
from polars_incremental_spark.checkpoints.file import FileStreamCheckpoint
from polars_incremental_spark.checkpoints.types import BatchInfo
from polars_incremental_spark.errors import UnsupportedFormatError
from polars_incremental_spark.observability import LoggingObserver, StageTimer
from polars_incremental_spark.sources.base import AutoSource, FilesSource, infer_source_format
from polars_incremental_spark.sources.file import read_files
from polars_incremental_spark.state import JobState
from polars_incremental_spark.streaming.native import run_native


def _commit_batches(ckpt_dir: str, n: int) -> FileStreamCheckpoint:
    cp = FileStreamCheckpoint(ckpt_dir)
    for i in range(n):
        batch = cp.plan_batch({f"/f{i}": {"mtime_ns": i + 1, "size": 10}})
        cp.commit_batch(batch, {"i": i})
    return cp


# -------------------------------------------------------------- maintenance


def test_cleanup_keep_last_n(tmp_path):
    ckpt = str(tmp_path)
    _commit_batches(ckpt, 4)
    removed = maintenance.cleanup_checkpoint(ckpt, keep_last_n=2)
    assert len(removed) == 4  # 2 offsets + 2 commits dropped
    info = maintenance.inspect_checkpoint(ckpt)
    assert info.n_offsets == 2 and info.n_commits == 2
    assert info.latest_commit_batch_id == 3


def test_cleanup_dry_run(tmp_path):
    ckpt = str(tmp_path)
    _commit_batches(ckpt, 3)
    removed = maintenance.cleanup_checkpoint(ckpt, keep_last_n=1, dry_run=True)
    assert removed and all(os.path.exists(p) for p in removed)


def test_truncate_reprocesses(tmp_path):
    ckpt = str(tmp_path)
    cp = _commit_batches(ckpt, 3)
    maintenance.truncate_checkpoint(ckpt, after_batch_id=0)
    assert cp.latest_commit_batch_id() == 0
    # previously-committed files of batches 1,2 replan (index still has them,
    # but their offsets are gone → they stay consumed via the index)
    info = maintenance.inspect_checkpoint(ckpt)
    assert info.n_offsets == 1 and info.n_commits == 1


def test_reset_start_offset_and_schema(tmp_path):
    ckpt = str(tmp_path)
    cp = FileStreamCheckpoint(ckpt)
    cp.update_metadata(start_offset={"mode": "latest"}, schema="{}")
    maintenance.reset_checkpoint_start_offset(ckpt)
    assert cp.load_metadata().get("start_offset") is None
    maintenance.reset_checkpoint_schema(ckpt)
    assert cp.load_metadata().get("schema") is None


def test_inspect_pending(tmp_path):
    ckpt = str(tmp_path)
    cp = FileStreamCheckpoint(ckpt)
    cp.plan_batch({"/f": {"mtime_ns": 1, "size": 1}})  # offset, no commit
    info = maintenance.inspect_checkpoint(ckpt)
    assert info.pending_batch_id == 0


def test_cleanup_keeps_latest_committed_delta_offset(spark, tmp_path):
    from polars_incremental_spark.checkpoints.delta import DeltaLog, DeltaTableCheckpoint
    from polars_incremental_spark.sinks.deltalog import write_delta_fallback
    from polars_incremental_spark.sources.base import DeltaSource

    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    for i in range(3):
        write_delta_fallback(spark.range(i, i + 1).coalesce(1), t)  # v0..v2
    spec = DeltaSource(path=t, starting_version=0)
    cp = DeltaTableCheckpoint(ckpt, t)
    for _ in range(2):
        cp.commit_batch(cp.plan_batch(spec))
    cp.plan_batch(spec)  # offsets {0,1,2}, commits {0,1}: batch 2 pending
    removed = maintenance.cleanup_checkpoint(ckpt)
    maintenance.truncate_checkpoint(ckpt, after_batch_id=1)
    # the next plan resumes after version 1, not from the table's start
    nxt = cp.plan_batch(spec)
    log = DeltaLog(t)
    assert nxt.batch_id == 2 and nxt.metadata["position"]["version"] == 2
    assert nxt.files == [log.abs_path(a["add"]["path"]) for a in log.actions(2) if "add" in a]
    assert sorted(os.path.relpath(p, ckpt) for p in removed) == [
        os.path.join("commits", "0.json"), os.path.join("offsets", "0.json")
    ]


def test_maintenance_on_delta_checkpoint(spark, tmp_path):
    from polars_incremental_spark.checkpoints.delta import DeltaTableCheckpoint
    from polars_incremental_spark.sinks.deltalog import write_delta_fallback
    from polars_incremental_spark.sources.base import DeltaSource

    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    write_delta_fallback(spark.range(2), t)
    cp = DeltaTableCheckpoint(ckpt, t)
    cp.commit_batch(cp.plan_batch(DeltaSource(path=t)))
    info = maintenance.inspect_checkpoint(ckpt)
    assert info.start_offset == {"mode": "snapshot", "snapshot_version": 0}
    assert (info.n_offsets, info.n_commits, info.pending_batch_id) == (1, 1, None)
    maintenance.reset_checkpoint_start_offset(ckpt)
    assert "delta_start" not in cp.load_metadata()
    assert maintenance.inspect_checkpoint(ckpt).start_offset is None
    assert sorted(os.listdir(ckpt)) == ["commits", "metadata.json", "offsets"]


def test_vacuum_non_delta_dir_is_noop(spark, tmp_path):
    assert maintenance.vacuum_delta_table(spark, str(tmp_path)) == []


def test_optimize_zorder_requires_delta(spark, tmp_path):
    with pytest.raises(Exception):
        maintenance.optimize_delta_table(spark, str(tmp_path), z_order_by=["x"])


# -------------------------------------------------------------------- state


def test_jobstate_json_roundtrip(tmp_path):
    state = JobState(str(tmp_path))
    state.save_json("wm", {"max_ts": "2024-01-01"})
    assert state.load_json("wm") == {"max_ts": "2024-01-01"}
    assert state.load_json("missing", default=42) == 42
    assert state.exists("wm") and not state.exists("missing")
    state.delete("wm")
    assert not state.exists("wm")


def test_jobstate_parquet_roundtrip(spark, tmp_path):
    state = JobState(str(tmp_path))
    state.save_parquet("t", spark.createDataFrame([(1, "a")], ["id", "v"]))
    out = state.load_parquet(spark, "t").collect()
    assert [(r["id"], r["v"]) for r in out] == [(1, "a")]
    assert "t" in state.keys()


# ------------------------------------------------------------------ catalog


def test_catalog_from_file_and_views(spark, tmp_path, sf_dir):
    payload = {
        "ev": {"format": "parquet", "path": f"{sf_dir}/events.parquet"},
    }
    path = tmp_path / "catalog.json"
    path.write_text(json.dumps(payload))
    cat = LocalCatalog.from_file(str(path))
    assert cat.names() == ["ev"]
    assert cat.read(spark, "ev").count() > 0
    cat.register_views(spark)
    assert spark.sql("SELECT count(*) AS n FROM ev").collect()[0]["n"] > 0


def test_catalog_to_source():
    spec = DatasetSpec(name="d", format="csv", path="/tmp/x")
    src = spec.to_source()
    assert isinstance(src, FilesSource) and src.file_format == "csv"


# ------------------------------------------------------------ observability


def test_stage_timer_events():
    events = []

    class Obs(LoggingObserver):
        def on_stage_start(self, stage, batch_id):
            events.append(("start", stage))

        def on_stage_end(self, stage, batch_id, duration_s):
            events.append(("end", stage, duration_s >= 0))

        def on_error(self, stage, batch_id, error):
            events.append(("error", stage, type(error).__name__))

    with StageTimer(Obs(), "read", 1):
        pass
    with pytest.raises(ValueError):
        with StageTimer(Obs(), "write", 1):
            raise ValueError("boom")
    assert events == [
        ("start", "read"),
        ("end", "read", True),
        ("start", "write"),
        ("error", "write", "ValueError"),
    ]


def test_logging_observer_lines(caplog):
    obs = LoggingObserver()
    with caplog.at_level(logging.INFO, logger="polars_incremental_spark.pipeline"):
        obs.on_batch_planned(3, 7)
        obs.on_batch_committed(3, {"rows": 1})
    assert "event=batch_planned batch_id=3 n_files=7" in caplog.text
    assert "event=batch_committed" in caplog.text


# ------------------------------------------------------- sources / formats


def test_infer_source_format(tmp_path):
    assert infer_source_format("/data/x.parquet") == "parquet"
    assert infer_source_format("/data", None, "*.jsonl") == "ndjson"
    assert infer_source_format("/data/y.csv") == "csv"
    d = tmp_path / "dir"
    d.mkdir()
    (d / "a.ndjson").touch()
    assert infer_source_format(str(d)) == "ndjson"
    (d / "_delta_log").mkdir()
    assert infer_source_format(str(d)) == "delta"


def test_autosource_resolves_files(tmp_path):
    src = AutoSource(path=str(tmp_path)).resolve()
    assert isinstance(src, FilesSource)


def test_read_files_csv_ndjson_text(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    csv_dir, nd_dir, txt_dir = (str(tmp_path / s) for s in ("c", "n", "t"))
    df.coalesce(1).write.option("header", "true").csv(csv_dir)
    df.coalesce(1).write.json(nd_dir)
    df.select(F.col("v")).coalesce(1).write.text(txt_dir)

    def files_in(d, ext):
        return [os.path.join(d, f) for f in os.listdir(d) if f.endswith(ext)]

    back_csv = read_files(spark, files_in(csv_dir, ".csv"), "csv")
    assert {tuple(r) for r in back_csv.collect()} == {(1, "a"), (2, "b")}
    back_nd = read_files(spark, files_in(nd_dir, ".json"), "ndjson")
    assert back_nd.count() == 2
    back_txt = read_files(spark, files_in(txt_dir, ".txt"), "text")
    assert {r["value"] for r in back_txt.collect()} == {"a", "b"}


def test_read_files_whole_doc_json(spark, tmp_path):
    path = tmp_path / "doc.json"
    path.write_text(json.dumps([{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]))
    out = read_files(spark, [str(path)], "json")
    assert out.count() == 2


def test_read_files_unsupported(spark):
    with pytest.raises(UnsupportedFormatError):
        read_files(spark, ["/tmp/x.foo"], "foo")


# ------------------------------------------------------------ native stream


def test_run_native_available_now(spark, tmp_path):
    src_dir = str(tmp_path / "in")
    out: list[int] = []
    spark.range(5).select(F.col("id")).write.parquet(src_dir)
    rows: list[int] = []

    def writer(df, batch_id):
        out.append(batch_id)
        rows.extend(r["id"] for r in df.collect())

    run_native(
        spark,
        FilesSource(path=src_dir, file_format="parquet"),
        str(tmp_path / "ckpt"),
        writer,
        transform=lambda df: df.filter(F.col("id") >= 1),
    )
    assert sorted(rows) == [1, 2, 3, 4]
    # second run: Spark's own checkpoint prevents reprocessing
    rows.clear()
    run_native(
        spark,
        FilesSource(path=src_dir, file_format="parquet"),
        str(tmp_path / "ckpt"),
        writer,
        transform=lambda df: df.filter(F.col("id") >= 1),
    )
    assert rows == []


def test_run_native_latest_requires_age(spark, tmp_path):
    with pytest.raises(UnsupportedFormatError, match="latest"):
        run_native(
            spark,
            FilesSource(path=str(tmp_path), file_format="parquet", start_offset="latest"),
            str(tmp_path / "ckpt"),
            lambda df: None,
        )


def test_excel_corrupt_file_raises(spark, tmp_path):
    """S7 excel path: a corrupt xlsx fails loudly through either engine
    (pandas+openpyxl or the stdlib zip fallback)."""
    path = tmp_path / "book.xlsx"
    path.write_bytes(b"PK\x03\x04fake")
    with pytest.raises(Exception):
        read_files(spark, [str(path)], "excel").collect()


def test_read_files_orc_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    orc_dir = str(tmp_path / "o")
    df.coalesce(1).write.orc(orc_dir)
    files = [os.path.join(orc_dir, f) for f in os.listdir(orc_dir) if f.endswith(".orc")]
    back = read_files(spark, files, "orc")
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_streaming_watermarked_window_agg(spark, tmp_path):
    """R11 streaming variant: withWatermark + window in append mode — only
    windows the watermark has closed are emitted, late rows are dropped."""
    import datetime as dt

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def run_once():
        rows = []
        stream = (
            spark.readStream.schema("ts timestamp, k string")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "1 minute").alias("w"), "k")
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "k", "n")
        )
        q = (
            agg.writeStream.foreachBatch(lambda df, _b: rows.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return rows

    spark.createDataFrame(
        [(t0, "a"), (t0 + dt.timedelta(seconds=30), "a")], ["ts", "k"]
    ).write.parquet(src + "/b1.parquet")
    assert run_once() == []  # window still open: watermark hasn't passed it

    # an event 5 minutes later closes the 12:00 window
    spark.createDataFrame(
        [(t0 + dt.timedelta(minutes=5), "a")], ["ts", "k"]
    ).write.parquet(src + "/b2.parquet")
    out = run_once()
    assert [(r["ws"], r["k"], r["n"]) for r in out] == [(t0, "a", 2)]


def test_streaming_listener_bridge(spark, tmp_path):
    """X8: StreamingQueryListener progress events reach the observer protocol."""
    from polars_incremental_spark.observability import BaseObserver, attach_streaming_listener

    committed = []

    class Obs(BaseObserver):
        def on_batch_committed(self, batch_id, metadata):
            committed.append((batch_id, metadata.get("numInputRows")))

    bridge = attach_streaming_listener(spark, Obs())
    try:
        src = str(tmp_path / "src")
        spark.range(4).write.parquet(src)
        q = (
            spark.readStream.schema("id long").parquet(src)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        import time

        for _ in range(40):  # listener delivery is async
            if committed:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(bridge)
    assert committed and committed[0][1] == 4


def test_avro_corrupt_file_raises(spark, tmp_path):
    """S7 avro path: a corrupt container file fails loudly through either
    path (spark-avro jar or the pure-Python fallback)."""
    path = tmp_path / "x.avro"
    path.write_bytes(b"Obj\x01fake")
    with pytest.raises(Exception):
        read_files(spark, [str(path)], "avro").collect()


def test_get_spark_leaves_live_session_conf_alone(spark):
    """A second get_spark (a tool or library caller) returns the live
    session without rewriting its runtime conf."""
    from polars_incremental_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    again = get_spark("another-caller", shuffle_partitions=3, extra_conf={key: "99"})
    assert again is spark
    assert spark.conf.get(key) == before
