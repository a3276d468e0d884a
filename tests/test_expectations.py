"""DLT-style expectations: warn counts, drop filters, quarantine routes,
fail aborts BEFORE the checkpoint commit (batch replays), and metrics ride
the writer's own action via DataFrame.observe — the observed plan is the
written plan, no extra scan for warn/drop/fail.
"""

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark import FilesSource, Pipeline
from polars_incremental_spark.expectations import (
    BatchExpectations,
    ExpectationViolationError,
    expect,
    expect_or_drop,
    expect_or_fail,
    expect_or_quarantine,
)


@pytest.fixture()
def src(spark, tmp_path):
    d = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, 7.0), (4, None), (5, -1.0)],
        "id long, v double",
    ).coalesce(1).write.parquet(f"{d}/part0")
    return d


def _run(spark, src, tmp_path, exps, quarantine_writer=None):
    written = []

    def writer(df, batch_id):
        written.append(df.collect())

    pipe = Pipeline(
        source=FilesSource(path=src),
        checkpoint_dir=str(tmp_path / "cp"),
        writer=writer,
        expectations=exps,
        quarantine_writer=quarantine_writer,
    )
    return pipe, written, pipe.run(spark)


def test_warn_counts_but_passes_rows_through(spark, src, tmp_path):
    meta = {}

    def writer(df, batch_id):
        meta["rows"] = df.count()

    pipe = Pipeline(
        source=FilesSource(path=src),
        checkpoint_dir=str(tmp_path / "cp"),
        writer=writer,
        expectations=[expect("v_positive", "v > 0")],
    )
    committed = {}

    class Obs:
        def on_stage_start(self, *a): ...
        def on_stage_end(self, *a): ...
        def on_batch_planned(self, *a): ...
        def on_error(self, *a): ...
        def on_batch_committed(self, batch_id, metadata):
            committed.update(metadata)

    object.__setattr__(pipe, "observer", Obs())
    assert pipe.run(spark).batches == 1
    assert meta["rows"] == 5  # warn never filters
    exp = committed["expectations"]
    assert exp["rows_observed"] == 5
    # NULL constraint result counts as PASS (SQL CHECK semantics): only the
    # two definite negatives violate
    assert exp["expectations"]["v_positive"] == {
        "violations": 2,
        "action": "warn",
    }


def test_drop_filters_violating_rows(spark, src, tmp_path):
    _, written, res = _run(
        spark, src, tmp_path, [expect_or_drop("v_positive", "v > 0")]
    )
    assert res.batches == 1
    ids = sorted(r["id"] for r in written[0])
    assert ids == [1, 3, 4]  # NULL passes, negatives dropped


def test_quarantine_routes_violations_to_dead_letter(spark, src, tmp_path):
    dead = []

    def quarantine_writer(df, batch_id):
        dead.extend(df.collect())

    _, written, res = _run(
        spark,
        src,
        tmp_path,
        [expect_or_quarantine("v_positive", "v > 0")],
        quarantine_writer,
    )
    assert res.batches == 1
    assert sorted(r["id"] for r in written[0]) == [1, 3, 4]
    assert sorted(r["id"] for r in dead) == [2, 5]


def test_fail_aborts_before_commit_and_replays(spark, src, tmp_path):
    pipe, written, _ = None, None, None
    calls = []

    def writer(df, batch_id):
        calls.append(df.count())

    pipe = Pipeline(
        source=FilesSource(path=src),
        checkpoint_dir=str(tmp_path / "cp"),
        writer=writer,
        expectations=[expect_or_fail("v_positive", "v > 0")],
    )
    with pytest.raises(ExpectationViolationError, match="v_positive: 2 rows"):
        pipe.run(spark)
    # the batch was NOT committed: a rerun replays the SAME batch
    with pytest.raises(ExpectationViolationError):
        pipe.run(spark)
    assert len(calls) == 2  # same batch offered twice

    # relaxing the rule lets the stuck batch through exactly once
    ok = Pipeline(
        source=FilesSource(path=src),
        checkpoint_dir=str(tmp_path / "cp"),
        writer=writer,
        expectations=[expect("v_positive", "v > 0")],
    )
    assert ok.run(spark).batches == 1
    assert ok.run(spark).batches == 0


def test_batch_expectations_unit_and_validation(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "x long")
    be = BatchExpectations(
        [expect_or_drop("small", "x < 3"), expect("odd", "x % 2 = 1")]
    )
    out = be.apply(df)
    rows = sorted(r["x"] for r in out.collect())
    assert rows == [1, 2]
    m = be.enforce()
    assert m["rows_observed"] == 3
    assert m["expectations"]["small"]["violations"] == 1
    assert m["expectations"]["odd"]["violations"] == 1

    with pytest.raises(ValueError, match="duplicate"):
        BatchExpectations([expect("a", "x > 0"), expect("a", "x < 9")])
    with pytest.raises(ValueError, match="action"):
        from polars_incremental_spark.expectations import Expectation

        Expectation("a", "x > 0", "explode")


def test_no_action_writer_does_not_hang(spark, src, tmp_path):
    """A writer that never touches the frame must still yield metrics:
    the non-blocking observation probe falls back to one direct agg."""
    pipe = Pipeline(
        source=FilesSource(path=src),
        checkpoint_dir=str(tmp_path / "cp"),
        writer=lambda df, batch_id: None,  # never runs an action
        expectations=[expect("v_positive", "v > 0")],
    )
    committed = {}

    class Obs:
        def on_stage_start(self, *a): ...
        def on_stage_end(self, *a): ...
        def on_batch_planned(self, *a): ...
        def on_error(self, *a): ...
        def on_batch_committed(self, batch_id, metadata):
            committed.update(metadata)

    object.__setattr__(pipe, "observer", Obs())
    assert pipe.run(spark).batches == 1
    assert committed["expectations"]["expectations"]["v_positive"][
        "violations"
    ] == 2


def test_streaming_expectations_gate_and_fail_replay(spark, tmp_path):
    """Expectations inside foreachBatch: drop gates the written micro-batch;
    a fail violation aborts the epoch so the stream replays it after the
    rule is relaxed (Structured Streaming's own exactly-once retry)."""
    from polars_incremental_spark import FilesSource
    from polars_incremental_spark.streaming.native import run_native

    land = str(tmp_path / "land")
    spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, 9.0)], "id long, v double"
    ).coalesce(1).write.parquet(land)
    spec = FilesSource(path=land, file_format="parquet")
    written = []

    def writer(df, batch_id):
        written.append(sorted(r["id"] for r in df.collect()))

    run_native(
        spark, spec, str(tmp_path / "cp1"), writer,
        expectations=[expect_or_drop("v_pos", "v > 0")],
    )
    assert written == [[1, 3]]

    # fail-rule: the epoch aborts, then a relaxed rerun replays the SAME data
    calls = []

    def writer2(df, batch_id):
        calls.append(df.count())

    cp2 = str(tmp_path / "cp2")
    with pytest.raises(Exception, match="v_pos"):
        run_native(
            spark, FilesSource(path=land, file_format="parquet"), cp2, writer2,
            expectations=[expect_or_fail("v_pos", "v > 0")],
        )
    run_native(
        spark, FilesSource(path=land, file_format="parquet"), cp2, writer2,
        expectations=[expect("v_pos", "v > 0")],
    )
    assert calls == [3, 3]  # same batch offered twice: abort then success


def test_observed_metrics_never_blocks(spark):
    from pyspark.sql import Observation

    from polars_incremental_spark.observability import observed_metrics

    def fallback():
        return {"n": -1}

    obs = Observation()
    df = spark.range(5).observe(obs, F.count(F.lit(1)).alias("n"))
    assert observed_metrics(obs, fallback) == {"n": -1}  # no action yet
    df.collect()
    assert observed_metrics(obs, fallback) == {"n": 5}

    class NoJvmHandle:  # Spark Connect's Observation has no _jo
        @property
        def get(self):
            raise AssertionError("would wait for an action")

    assert observed_metrics(NoJvmHandle(), fallback) == {"n": -1}
