"""Checkpoint + table maintenance utilities.

Parity: cleanup/truncate/reset/inspect + Delta VACUUM/OPTIMIZE passthrough
(reference: src/polars_incremental/maintenance.py:43-324).  These operate on
the planned-mode checkpoint layout (offsets/ commits/ metadata.json index/);
native Structured Streaming checkpoints self-retain via
``spark.sql.streaming.minBatchesToRetain``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Any

from .checkpoints.file import FileStreamCheckpoint
from .checkpoints.types import read_json
from .sources.delta import require_delta


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


def _batch_files(directory: str) -> dict[int, str]:
    out = {}
    if not os.path.isdir(directory):
        return out
    for name in os.listdir(directory):
        if name.endswith(".json") and name[:-5].isdigit():
            out[int(name[:-5])] = os.path.join(directory, name)
    return out


def cleanup_checkpoint(
    checkpoint_dir: str,
    *,
    keep_last_n: int | None = None,
    older_than_seconds: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Delete old offset/commit JSONs; never removes the latest pair or a pending offset."""
    removed: list[str] = []
    now = time.time()
    for sub in ("offsets", "commits"):
        files = _batch_files(os.path.join(checkpoint_dir, sub))
        if not files:
            continue
        ids = sorted(files)
        keep: set[int] = {ids[-1]}
        if keep_last_n is not None:
            keep.update(ids[-keep_last_n:])
        for batch_id in ids:
            if batch_id in keep:
                continue
            path = files[batch_id]
            if older_than_seconds is not None and now - os.stat(path).st_mtime < older_than_seconds:
                continue
            removed.append(path)
            if not dry_run:
                os.unlink(path)
    return removed


def truncate_checkpoint(checkpoint_dir: str, *, after_batch_id: int) -> list[str]:
    """Drop offsets/commits with batch_id > N so those batches reprocess."""
    removed: list[str] = []
    for sub in ("offsets", "commits"):
        for batch_id, path in _batch_files(os.path.join(checkpoint_dir, sub)).items():
            if batch_id > after_batch_id:
                removed.append(path)
                os.unlink(path)
    return removed


def reset_checkpoint_start_offset(checkpoint_dir: str) -> None:
    cp = FileStreamCheckpoint(checkpoint_dir)
    meta = cp.load_metadata()
    meta.pop("start_offset", None)
    from .checkpoints.types import atomic_write_json

    atomic_write_json(cp.metadata_path, meta)


def reset_checkpoint_schema(checkpoint_dir: str) -> None:
    cp = FileStreamCheckpoint(checkpoint_dir)
    meta = cp.load_metadata()
    meta.pop("schema", None)
    from .checkpoints.types import atomic_write_json

    atomic_write_json(cp.metadata_path, meta)


def inspect_checkpoint(checkpoint_dir: str) -> CheckpointInfo:
    cp = FileStreamCheckpoint(checkpoint_dir)
    offsets = _batch_files(cp.offsets_dir)
    commits = _batch_files(cp.commits_dir)
    latest_offset = max(offsets) if offsets else None
    latest_commit = max(commits) if commits else None
    pending = (
        latest_offset
        if latest_offset is not None and (latest_commit is None or latest_offset > latest_commit)
        else None
    )
    meta = read_json(cp.metadata_path) or {}
    return CheckpointInfo(
        checkpoint_dir=checkpoint_dir,
        n_offsets=len(offsets),
        n_commits=len(commits),
        latest_offset_batch_id=latest_offset,
        latest_commit_batch_id=latest_commit,
        pending_batch_id=pending,
        start_offset=meta.get("start_offset"),
        schema=meta.get("schema"),
        index_entries=len(cp.load_index()),
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
