"""Pipeline observer protocol + logging implementation.

Parity: ``PipelineObserver`` / ``LoggingObserver``
(reference: src/polars_incremental/observability.py:7-75).  For native
Structured Streaming queries, ``attach_streaming_listener`` bridges Spark's
``StreamingQueryListener`` progress events into the same observer protocol.
"""

from __future__ import annotations

import logging
import time
from typing import Any, Callable, Protocol, runtime_checkable

logger = logging.getLogger("polars_incremental_spark.pipeline")


@runtime_checkable
class PipelineObserver(Protocol):
    def on_stage_start(self, stage: str, batch_id: int | None) -> None: ...

    def on_stage_end(self, stage: str, batch_id: int | None, duration_s: float) -> None: ...

    def on_batch_planned(self, batch_id: int, n_files: int) -> None: ...

    def on_batch_committed(self, batch_id: int, metadata: dict[str, Any]) -> None: ...

    def on_error(self, stage: str, batch_id: int | None, error: BaseException) -> None: ...


class BaseObserver:
    """No-op base so observers only override what they care about."""

    def on_stage_start(self, stage: str, batch_id: int | None) -> None:
        pass

    def on_stage_end(self, stage: str, batch_id: int | None, duration_s: float) -> None:
        pass

    def on_batch_planned(self, batch_id: int, n_files: int) -> None:
        pass

    def on_batch_committed(self, batch_id: int, metadata: dict[str, Any]) -> None:
        pass

    def on_error(self, stage: str, batch_id: int | None, error: BaseException) -> None:
        pass


class LoggingObserver(BaseObserver):
    """key=value log lines per stage/batch event."""

    def __init__(self, level: int = logging.INFO) -> None:
        self.level = level

    def on_stage_start(self, stage: str, batch_id: int | None) -> None:
        logger.log(self.level, "event=stage_start stage=%s batch_id=%s", stage, batch_id)

    def on_stage_end(self, stage: str, batch_id: int | None, duration_s: float) -> None:
        logger.log(
            self.level,
            "event=stage_end stage=%s batch_id=%s duration_s=%.4f",
            stage,
            batch_id,
            duration_s,
        )

    def on_batch_planned(self, batch_id: int, n_files: int) -> None:
        logger.log(self.level, "event=batch_planned batch_id=%s n_files=%s", batch_id, n_files)

    def on_batch_committed(self, batch_id: int, metadata: dict[str, Any]) -> None:
        logger.log(self.level, "event=batch_committed batch_id=%s metadata=%s", batch_id, metadata)

    def on_error(self, stage: str, batch_id: int | None, error: BaseException) -> None:
        logger.log(
            logging.ERROR, "event=error stage=%s batch_id=%s error=%r", stage, batch_id, error
        )


class StageTimer:
    """Context manager wiring stage start/end/error into an observer."""

    def __init__(self, observer: PipelineObserver | None, stage: str, batch_id: int | None):
        self.observer = observer
        self.stage = stage
        self.batch_id = batch_id
        self.started = 0.0
        self.duration_s = 0.0

    def __enter__(self) -> "StageTimer":
        self.started = time.perf_counter()
        if self.observer:
            self.observer.on_stage_start(self.stage, self.batch_id)
        return self

    def __exit__(self, exc_type, exc, _tb) -> bool:
        self.duration_s = time.perf_counter() - self.started
        if self.observer:
            if exc is not None:
                self.observer.on_error(self.stage, self.batch_id, exc)
            else:
                self.observer.on_stage_end(self.stage, self.batch_id, self.duration_s)
        return False


def observed_action(df, action, *metric_cols) -> dict[str, Any]:
    """Run ``action(df)`` with ``df.observe(...)`` metrics piggybacked on
    the SAME execution — row counts / sums / null rates captured during the
    write itself, with NO second scan (a separate ``df.count()`` after a
    write re-reads the whole batch: at 100 TB that is the difference
    between one corpus pass and two).

    ``metric_cols`` are aggregate Columns (default: ``count(1) AS rows``);
    returns the observed metric dict after the action completes.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if not metric_cols:
        metric_cols = (F.count(F.lit(1)).alias("rows"),)
    obs = Observation()
    action(df.observe(obs, *metric_cols))
    return obs.get


def observed_metrics(obs, fallback: Callable[[], dict[str, Any]]) -> dict[str, Any]:
    """``obs``'s metrics without ever blocking, or ``fallback()`` when they
    are not there.  ``Observation.get`` waits for the observed plan's first
    action, which may never run (a writer that never touches the frame)
    or never report; the JVM side's ``getRowOrEmpty`` does not wait.  The
    handle behind it is private and absent under Spark Connect, so that
    case is gated explicitly: the fallback (usually one more scan) then
    runs on every call."""
    try:
        if not hasattr(obs, "_jo"):
            raise LookupError("Observation._jo unavailable (Spark Connect?)")
        if obs._jo.getRowOrEmpty().isEmpty():  # noqa: SLF001
            raise LookupError("no action observed")
        got = obs.get  # resolved: returns immediately
    except Exception:
        return fallback()
    return got


def attach_streaming_listener(spark, observer: PipelineObserver):
    """Bridge native StreamingQueryListener progress into the observer protocol."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Bridge(StreamingQueryListener):
        def onQueryStarted(self, event):
            observer.on_stage_start("query", None)

        def onQueryProgress(self, event):
            progress = event.progress
            observer.on_batch_committed(
                progress.batchId,
                {"numInputRows": progress.numInputRows, "sink": str(progress.sink)},
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            observer.on_stage_end("query", None, 0.0)

    bridge = _Bridge()
    spark.streams.addListener(bridge)
    return bridge
