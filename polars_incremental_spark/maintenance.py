"""Checkpoint + table maintenance utilities.

Parity: cleanup/truncate/reset/inspect + Delta VACUUM/OPTIMIZE passthrough
(reference: src/polars_incremental/maintenance.py:43-324).  The checkpoint
utilities serve both planned-mode checkpoint kinds — the file checkpoint
(``checkpoints/file.py``, sticky start under ``start_offset``, plus its
``index/``) and the Delta checkpoint (``checkpoints/delta.py``, sticky
start under ``delta_start``) — through their shared write-ahead log,
``checkpoints.types.CheckpointLog``, which owns the offsets/ commits/
metadata.json layout and the retention rule.  Native Structured Streaming
checkpoints self-retain via ``spark.sql.streaming.minBatchesToRetain``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from .checkpoints.file import FileStreamCheckpoint
from .checkpoints.types import CheckpointLog


@dataclass(frozen=True)
class CheckpointInfo:
    checkpoint_dir: str
    n_offsets: int
    n_commits: int
    latest_offset_batch_id: int | None
    latest_commit_batch_id: int | None
    pending_batch_id: int | None
    start_offset: dict[str, Any] | None
    schema: str | None
    index_entries: int


def cleanup_checkpoint(
    checkpoint_dir: str,
    *,
    keep_last_n: int | None = None,
    older_than_seconds: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Delete old offset/commit JSONs; never removes the latest commit, the
    latest committed batch's offset or a pending offset."""
    return CheckpointLog(checkpoint_dir).cleanup(
        keep_last_n=keep_last_n,
        older_than_seconds=older_than_seconds,
        dry_run=dry_run,
    )


def truncate_checkpoint(checkpoint_dir: str, *, after_batch_id: int) -> list[str]:
    """Drop offsets/commits with batch_id > N so those batches reprocess."""
    return CheckpointLog(checkpoint_dir).truncate(after_batch_id)


def reset_checkpoint_start_offset(checkpoint_dir: str) -> None:
    """Forget the sticky start decision (either kind's key); the next run
    resolves its start offset again."""
    CheckpointLog(checkpoint_dir).drop_metadata(*CheckpointLog.START_KEYS)


def reset_checkpoint_schema(checkpoint_dir: str) -> None:
    CheckpointLog(checkpoint_dir).drop_metadata("schema")


def inspect_checkpoint(checkpoint_dir: str) -> CheckpointInfo:
    """Summary of a planned checkpoint dir of either kind; ``start_offset``
    is the sticky start (``start_offset`` or ``delta_start``) and
    ``index_entries`` counts the file index (0 for a Delta checkpoint)."""
    cp = CheckpointLog(checkpoint_dir)
    return CheckpointInfo(
        checkpoint_dir=checkpoint_dir,
        n_offsets=len(cp.offset_ids()),
        n_commits=len(cp.commit_ids()),
        latest_offset_batch_id=cp.latest_offset_batch_id(),
        latest_commit_batch_id=cp.latest_commit_batch_id(),
        pending_batch_id=cp.pending_batch_id(),
        start_offset=cp.start(),
        schema=cp.get_schema(),
        index_entries=len(FileStreamCheckpoint(checkpoint_dir).load_index()),
    )


def vacuum_delta_table(
    spark, path: str, *, retention_hours: float = 168.0, dry_run: bool = False
) -> list[str]:
    """Delta VACUUM: native passthrough with delta-spark, else the fallback
    vacuum over the log-backed table (unreferenced + out-of-retention files)."""
    from .sources.delta import delta_available

    if delta_available():
        from delta.tables import DeltaTable

        DeltaTable.forPath(spark, path).vacuum(retention_hours)
        return []
    from .sinks.deltalog import vacuum_fallback

    return vacuum_fallback(path, retention_hours=retention_hours, dry_run=dry_run)


def optimize_delta_table(
    spark,
    path: str,
    *,
    z_order_by: list[str] | None = None,
    target_partitions: int | None = None,
) -> None:
    """Delta OPTIMIZE: native passthrough with delta-spark; the fallback
    (``sinks.deltalog.compact_fallback``) compacts the snapshot through the
    shared rewrite commit, ``write_delta_fallback(remove_paths=)`` with an
    ``OPTIMIZE`` operation: a ``dataChange=false`` commit (streams skip
    it) that writes the rows as read (deletion vectors applied, row ids
    kept), raises ``CommitConflictError`` when the table moved meanwhile,
    and writes the periodic log checkpoint.  Z-ORDER without the jar
    rewrites through the Morton-curve clustering in
    ``functions.layout.zorder_by`` (numeric columns)."""
    from .sources.delta import delta_available

    if delta_available():
        from delta.tables import DeltaTable

        optimizer = DeltaTable.forPath(spark, path).optimize()
        if z_order_by:
            optimizer.executeZOrderBy(*z_order_by)
        else:
            optimizer.executeCompaction()
        return
    from .sinks.deltalog import compact_fallback

    compact_fallback(
        spark, path, target_partitions=target_partitions, z_order_by=z_order_by
    )


def checkpoint_delta_log(
    path: str, *, expire: bool = False, parts: int | None = None
) -> str:
    """Write a parquet log checkpoint for a log-backed Delta table (and
    optionally expire the summarized JSON commits).  With delta-spark the
    engine checkpoints automatically; this fallback gives long-lived
    jar-less tables the same O(tail) snapshot replay.  The writer also
    auto-checkpoints every ``deltalog.CHECKPOINT_INTERVAL`` commits.
    ``parts`` > 1 writes the multi-part form (huge tables: bounds the
    single-file size and parallelizes the seed read)."""
    from .sinks.deltalog import checkpoint_log, expire_log

    out = checkpoint_log(path, parts=parts)
    if expire:
        expire_log(path)
    return out
