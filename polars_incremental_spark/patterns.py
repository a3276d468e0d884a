"""Stateful processing patterns W1-W5 (reference examples/advanced-patterns/*).

The reference ships these as user-code examples built on JobState
(watermarking.py:43-86, late_data_handling.py:45-90,
incremental_aggregations.py:47-77, deduplication_strategies.py:60-125);
here they are first-class helpers.  Batch variants are pure DataFrame ops
(the watermark scalar rides a broadcast join, never a driver collect of
data rows); streaming-native variants use ``withWatermark`` /
``dropDuplicates`` where Spark has the pattern built in.

Scale notes: every helper shuffles only on its key columns; watermark
computation is a single all-reduce (max) + broadcast, O(1) rows moved.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .state import (
    JobState,
    _fold_plan,
    _list_runs,
    _overlapping,
    _write_run,
)

_WM_COL = "__watermark"


def _with_watermark(
    df: DataFrame, ts_col: str, allowed_lateness: str, state: JobState | None, state_key: str
) -> DataFrame:
    """Attach the effective watermark (max event time seen − lateness) as a column.

    With ``state``, the watermark is monotonic across batches: the persisted
    high-water mark participates in the max.  The aggregate moves one row;
    the join is a broadcast.
    """
    wm = df.agg(F.max(ts_col).alias("__max_ts"))
    if state is not None:
        prev = state.load_json(state_key) or {}
        if prev.get("max_ts") is not None:
            wm = wm.select(
                F.greatest(
                    F.col("__max_ts"), F.lit(prev["max_ts"]).cast("timestamp")
                ).alias("__max_ts")
            )
    wm = wm.select(
        (F.col("__max_ts") - F.expr(f"INTERVAL {allowed_lateness}")).alias(_WM_COL)
    )
    return df.join(F.broadcast(wm))


def save_watermark(df: DataFrame, ts_col: str, state: JobState, state_key: str = "watermark") -> None:
    """Persist max(ts) for cross-batch monotonic watermarks (W1 state half)."""
    row = df.agg(F.max(ts_col).alias("m")).collect()[0]
    if row["m"] is not None:
        state.save_json(state_key, {"max_ts": row["m"].isoformat(sep=" ")})


def drop_late(
    df: DataFrame,
    ts_col: str,
    allowed_lateness: str = "5 minutes",
    *,
    state: JobState | None = None,
    state_key: str = "watermark",
) -> DataFrame:
    """W1: keep only rows at/after the watermark (max event time − lateness).

    Reference examples/advanced-patterns/watermarking.py:43-86.  Streaming
    queries get this natively via ``df.withWatermark(ts_col, lateness)``.
    """
    out = _with_watermark(df, ts_col, allowed_lateness, state, state_key)
    return out.filter(F.col(ts_col) >= F.col(_WM_COL)).drop(_WM_COL)


def route_late(
    df: DataFrame,
    ts_col: str,
    allowed_lateness: str = "5 minutes",
    *,
    state: JobState | None = None,
    state_key: str = "watermark",
) -> tuple[DataFrame, DataFrame]:
    """W2: split into (on_time, late) against the same watermark.

    Reference examples/advanced-patterns/late_data_handling.py:45-90.
    """
    tagged = _with_watermark(df, ts_col, allowed_lateness, state, state_key)
    on_time = tagged.filter(F.col(ts_col) >= F.col(_WM_COL)).drop(_WM_COL)
    late = tagged.filter(F.col(ts_col) < F.col(_WM_COL)).drop(_WM_COL)
    return on_time, late


def incremental_aggregate(
    batch: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, str],
    *,
    state: JobState,
    state_key: str = "rolling_agg",
) -> DataFrame:
    """W3: merge this batch's partial aggregate into a persisted rolling one.

    ``aggs`` maps column -> one of sum/count/min/max (mergeable partials).
    Reference examples/advanced-patterns/incremental_aggregations.py:47-77.
    State rides a parquet blob keyed by ``state_key``; the merge is a
    groupBy over (previous ∪ current partials) — no driver-side data loop.
    """
    mergeable = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    exprs = []
    for col, how in aggs.items():
        if how not in mergeable:
            raise ValueError(f"unsupported agg {how!r}; expected {sorted(mergeable)}")
        base = F.count(F.lit(1)) if how == "count" else getattr(F, how)(F.col(col))
        exprs.append(base.cast("double").alias(f"{col}_{how}"))
    partial = batch.groupBy(*keys).agg(*exprs)

    prev = state.load_parquet(batch.sparkSession, state_key)
    if prev is not None:
        merged = prev.unionByName(partial, allowMissingColumns=True)
        partial = merged.groupBy(*keys).agg(
            *[
                mergeable[how](F.col(f"{col}_{how}")).alias(f"{col}_{how}")
                for col, how in aggs.items()
            ]
        )
    state.save_parquet(state_key, partial)
    return state.load_parquet(batch.sparkSession, state_key)


def cross_batch_dedupe(
    batch: DataFrame,
    id_cols: Sequence[str],
    *,
    state: JobState,
    state_key: str = "seen_ids",
    batch_id: int | None = None,
) -> DataFrame:
    """W4: drop rows whose id was seen in any previous batch, then record ids.

    Reference examples/advanced-patterns/deduplication_strategies.py:60-79.
    The batch (deduped on ``id_cols``) is anti-joined against the seen-id
    set.  Streaming-native: ``dropDuplicates(id_cols)`` + ``withWatermark``.

    Layout: the seen set lives in ``<state>/<state_key>.parquet`` as
    append-only runs (see ``state``): one flat directory whose files are
    named after the batch range they cover, each row ``id_cols`` plus
    ``__batch_id``, the batch that introduced it.  A batch writes only its
    new ids, as a new run, in the same write folding in each newest run no
    larger than it (a binary counter), so at most ~log2(batches)+1 runs
    are live.  Runs are disjoint by construction — new ids are anti-joined
    against every prior run — so the fold is a plain union, no shuffle.
    Cost per batch: the anti-join reads the whole set (as before); the
    write is amortized O(new ids x log batches) instead of the whole set.
    Seen sets written whole by earlier versions keep deduping: they join
    in as the oldest run (``__batch_id`` -1 when they lack the column) and
    the first fold rewrites them into runs.

    Replay safety: the state write happens MID-writer, before the pipeline
    commits the batch — so a writer crash after this call leaves the
    batch's own ids recorded, and a naive retry would anti-join the batch
    against itself and emit nothing.  Pass the Pipeline ``batch_id``: a
    replay excludes its own batch's rows from the anti-join and its fold
    absorbs the run holding them, replacing them with the re-recorded ids
    (the same per-batch idempotency contract as ``incremental_lsh_dedup``
    and ``update_bloom_index``).  Without ``batch_id``, ids are stamped -1
    and recorded once — correct only when a batch is never retried after
    a mid-writer failure.

    Crash trade-off: a crash after the new run is renamed into place but
    before the folded runs are deleted leaves both live.  No id is lost;
    the duplicates are harmless to the anti-join (the same trade-off as
    ``compact_lsh_index``), and the next fold absorbs the overlapping runs
    and dedupes them on (``id_cols``, ``__batch_id``).
    """
    spark = batch.sparkSession
    path = state._parquet_path(state_key)  # noqa: SLF001
    runs = _list_runs(path)
    keep = None if batch_id is None else F.col("__batch_id") != int(batch_id)
    # named runs hold exactly these columns: reading them with the schema
    # spares a schema-inference job
    schema = StructType(
        [StructField(c, batch.schema[c].dataType) for c in id_cols]
        + [StructField("__batch_id", LongType())]
    )
    batch = batch.dropDuplicates(list(id_cols))
    prior = _read_runs(spark, runs, id_cols, keep, schema)
    if prior is not None:
        batch = batch.join(prior.select(*id_cols), on=list(id_cols), how="left_anti")
    # materialize BEFORE the state write: the lazy plan reads run files the
    # fold below is about to delete — re-executing it later would fail or
    # anti-join the batch against its own freshly-recorded ids.
    # Chain-owned (round 12): the bare localCheckpoint leaked one RDD per
    # micro-batch until JVM GC; the blocks now free at the release point
    # after the owning batch's (the next micro-batch's scope exit).
    from .functions.iterutils import CheckpointChain, checkpointed_bytes

    _chain = CheckpointChain(spark)
    batch = _chain.next(batch)
    _chain.defer_release(keep=batch)
    at = int(batch_id) if batch_id is not None else max((r.hi for r in runs), default=-1) + 1
    folded, lo, hi = _fold_plan(runs, at)
    run = batch.select(*id_cols).withColumn(
        "__batch_id", F.lit(-1 if batch_id is None else at).cast("long")
    )
    old = _read_runs(spark, folded, id_cols, keep, schema)
    if old is not None:
        run = run.unionByName(old)
        if _overlapping(folded):
            run = run.distinct()
    _write_run(run, path, lo, hi, folded, checkpointed_bytes(batch))
    return batch


def _read_runs(spark, runs, id_cols: Sequence[str], keep, schema) -> DataFrame | None:
    """Rows of ``runs`` as (``id_cols``, ``__batch_id`` long), filtered by
    ``keep``; named runs are read with ``schema``, legacy ones infer it."""
    frames = []
    named = [f for r in runs if not r.legacy for f in r.files]
    if named:
        frames.append(spark.read.schema(schema).parquet(*named))
    for r in runs:
        if r.legacy:
            df = spark.read.parquet(*r.files)
            stamp = F.col("__batch_id") if "__batch_id" in df.columns else F.lit(-1)
            frames.append(df.select(*id_cols, stamp.cast("long").alias("__batch_id")))
    if not frames:
        return None
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df)
    return out if keep is None else out.filter(keep)


def latest_per_key(
    df: DataFrame, keys: Sequence[str], order_col: str, *, tiebreak: Sequence[str] = ()
) -> DataFrame:
    """W5 core: keep the newest row per key (order_col desc, then tiebreaks desc).

    Reference examples/advanced-patterns/deduplication_strategies.py:103-125.
    One shuffle on the keys; at scale feed this into a Delta MERGE for the
    upsert half (sinks.delta.apply_cdc_table).
    """
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in tiebreak]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_latest(
    batch: DataFrame,
    existing: DataFrame | None,
    keys: Sequence[str],
    order_col: str,
    *,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """W5: merge the newest row per key from ``batch`` into ``existing``."""
    newest = latest_per_key(batch, keys, order_col, tiebreak=tiebreak)
    if existing is None:
        return newest
    survivors = existing.join(newest.select(*keys).distinct(), on=list(keys), how="left_anti")
    return survivors.unionByName(newest, allowMissingColumns=True)
