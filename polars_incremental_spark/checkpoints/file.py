"""Planned-mode file-stream checkpoint: the file index and file planning.

Capability parity with the reference's ``FileStreamCheckpoint``
(reference: src/polars_incremental/checkpoints/file.py:16-554).  The
offsets/ + commits/ + metadata.json write-ahead log is the shared
``types.CheckpointLog`` (a crash between offset and commit replays the
SAME batch id with the SAME file set); this module adds:

- md5-sharded file index (path -> {mtime_ns, size}) so only touched shards
  are rewritten per commit and planning never has to re-read every offset.
- ``allow_overwrites`` re-queues files whose mtime/size changed — a feature
  Spark's built-in FileStreamSource lacks (it keys on path only).
- start offsets: ``earliest`` / ``latest`` / ``timestamp:<iso-or-epoch>``,
  persisted to metadata (``start_offset``) on first run; later mismatches
  warn and the stored value wins.
- ``max_file_age`` pruning and ``max_files``/``max_bytes`` greedy batch caps
  (always at least one file so progress is guaranteed).

Scale note: this planner is only used for features Spark lacks; the common
path is native Structured Streaming (see ``streaming/native.py``) where
offset planning is distributed/compacted by Spark itself.  The shard layout
here keeps per-commit metadata writes O(files-in-batch), not O(all files).
"""

from __future__ import annotations

import fnmatch
import hashlib
import logging
import os
from typing import Any

from ..errors import PlanningError
from .types import BatchInfo, CheckpointLog, atomic_write_json, read_json

logger = logging.getLogger(__name__)

N_INDEX_SHARDS = 256


def _shard_of(path: str) -> str:
    return hashlib.md5(path.encode("utf-8")).hexdigest()[:2]


class FileStreamCheckpoint(CheckpointLog):
    """Planned file micro-batches on the shared offset/commit log: the
    sharded file index and the file planner."""

    def __init__(self, checkpoint_dir: str) -> None:
        super().__init__(checkpoint_dir)
        self.index_dir = os.path.join(checkpoint_dir, "index")

    # ---------------------------------------------------------- file index
    def _shard_path(self, shard: str) -> str:
        return os.path.join(self.index_dir, f"{shard}.json")

    def _shard_paths(self) -> list[str]:
        if not os.path.isdir(self.index_dir):
            return []
        return [
            os.path.join(self.index_dir, name)
            for name in os.listdir(self.index_dir)
            if name.endswith(".json") and not name.startswith(".")
        ]

    def load_index(self) -> dict[str, dict[str, int]]:
        index: dict[str, dict[str, int]] = {}
        for shard_path in self._shard_paths():
            index.update(read_json(shard_path) or {})
        return index

    def _update_index(self, entries: dict[str, dict[str, int]]) -> None:
        by_shard: dict[str, dict[str, dict[str, int]]] = {}
        for path, stat in entries.items():
            by_shard.setdefault(_shard_of(path), {})[path] = stat
        for shard, shard_entries in by_shard.items():
            shard_path = self._shard_path(shard)
            payload = read_json(shard_path) or {}
            payload.update(shard_entries)
            atomic_write_json(shard_path, payload)

    def prune_index(self, keep_if) -> int:
        """Drop index entries failing ``keep_if(path, stat)``; returns #removed."""
        removed = 0
        for shard_path in self._shard_paths():
            payload = read_json(shard_path) or {}
            kept = {p: s for p, s in payload.items() if keep_if(p, s)}
            if len(kept) != len(payload):
                removed += len(payload) - len(kept)
                atomic_write_json(shard_path, kept)
        return removed

    # ------------------------------------------------------------ planning
    def committed_files(self) -> dict[str, dict[str, int]]:
        """Union of the sharded index and every committed offset's file list."""
        files = self.load_index()
        latest_commit = self.latest_commit_batch_id()
        if latest_commit is not None:
            for batch_id in self.offset_ids():
                if batch_id > latest_commit:
                    continue
                batch = self.offset_batch(batch_id)
                if batch:
                    for path in batch.files:
                        files.setdefault(path, {"mtime_ns": 0, "size": 0})
        return files

    def resolve_start_offset(self, requested: str | None, listing: dict[str, dict[str, int]]) -> dict[str, Any]:
        """Persist the start-offset decision on first run; stored value wins later."""
        meta = self.load_metadata()
        stored = meta.get("start_offset")
        requested = requested or "earliest"
        if stored is not None:
            if stored.get("mode") != requested and stored.get("raw") != requested:
                logger.warning(
                    "start_offset %r ignored: checkpoint already started with %r",
                    requested,
                    stored,
                )
            return stored
        mode, _, arg = requested.partition(":")
        resolved: dict[str, Any] = {"mode": mode, "raw": requested}
        if mode == "latest":
            resolved["min_mtime_ns"] = max((s["mtime_ns"] for s in listing.values()), default=0)
        elif mode == "timestamp":
            try:
                ts = float(arg)
            except ValueError:
                import datetime as _dt

                ts = _dt.datetime.fromisoformat(arg).timestamp()
            resolved["min_mtime_ns"] = int(ts * 1e9) - 1
        elif mode != "earliest":
            raise PlanningError(f"unknown start_offset {requested!r}")
        self.update_metadata(start_offset=resolved)
        return resolved

    def plan_batch(
        self,
        listing: dict[str, dict[str, int]],
        *,
        start_offset: str | None = None,
        max_files: int | None = None,
        max_bytes: int | None = None,
        max_file_age_seconds: float | None = None,
        allow_overwrites: bool = False,
    ) -> BatchInfo | None:
        """Plan the next batch from a {path: {mtime_ns, size}} listing.

        Writes the offset JSON before returning (WAL discipline) so a retry
        after a crash replays the identical batch.
        """
        pending = self.pending_batch()
        if pending is not None:
            return pending

        start = self.resolve_start_offset(start_offset, listing)
        min_mtime = start.get("min_mtime_ns")

        committed = self.committed_files()
        candidates: list[tuple[str, dict[str, int]]] = []
        for path, stat in listing.items():
            if min_mtime is not None and stat["mtime_ns"] <= min_mtime:
                continue
            prior = committed.get(path)
            if prior is None:
                candidates.append((path, stat))
            elif allow_overwrites and (
                prior.get("mtime_ns") not in (0, stat["mtime_ns"])
                or prior.get("size") not in (0, stat["size"])
            ):
                candidates.append((path, stat))

        if max_file_age_seconds is not None and listing:
            newest = max(s["mtime_ns"] for s in listing.values())
            cutoff = newest - int(max_file_age_seconds * 1e9)
            candidates = [(p, s) for p, s in candidates if s["mtime_ns"] >= cutoff]
            self.prune_index(lambda p, s: s.get("mtime_ns", 0) >= cutoff or s.get("mtime_ns", 0) == 0)

        if not candidates:
            return None

        candidates.sort(key=lambda item: (item[1]["mtime_ns"], item[0]))
        picked: list[tuple[str, dict[str, int]]] = []
        total_bytes = 0
        for path, stat in candidates:
            if picked:
                if max_files is not None and len(picked) >= max_files:
                    break
                if max_bytes is not None and total_bytes + stat["size"] > max_bytes:
                    break
            picked.append((path, stat))
            total_bytes += stat["size"]

        return self.write_offset(
            [p for p, _ in picked], {"stats": {p: s for p, s in picked}}
        )

    def commit_batch(self, batch: BatchInfo, metadata: dict[str, Any] | None = None) -> None:
        """Index the batch's files, then write the commit JSON (in that order).

        Index-before-commit means a crash in between leaves the batch pending
        (offset > commit) and it is replayed — never silently skipped.
        """
        stats = batch.metadata.get("stats", {})
        entries = {
            path: stats.get(path, {"mtime_ns": 0, "size": 0}) for path in batch.files
        }
        if entries:
            self._update_index(entries)
        super().commit_batch(batch, metadata)


def iter_new_files(
    input_dir: str,
    checkpoint_dir: str,
    *,
    pattern: str | None = None,
    recursive: bool = False,
    start_offset: str | None = None,
    allow_overwrites: bool = False,
    max_files: int | None = None,
    max_bytes: int | None = None,
    max_file_age: float | None = None,
) -> list[str]:
    """Low-level "what's new" helper (reference checkpoints/file.py:557-582).

    Plans the next batch and returns its file list.  The OFFSET is written
    (WAL discipline); the COMMIT is left to the caller via
    ``commit_new_files`` — until then, every call replays the same pending
    batch, so a crashed consumer never skips files.
    """
    checkpoint = FileStreamCheckpoint(checkpoint_dir)
    listing = list_files(input_dir, pattern=pattern, recursive=recursive)
    batch = checkpoint.plan_batch(
        listing,
        start_offset=start_offset,
        max_files=max_files,
        max_bytes=max_bytes,
        max_file_age_seconds=max_file_age,
        allow_overwrites=allow_overwrites,
    )
    return [] if batch is None else list(batch.files)


def commit_new_files(checkpoint_dir: str, metadata: dict[str, Any] | None = None) -> bool:
    """Commit the pending ``iter_new_files`` batch; returns False when none pending."""
    checkpoint = FileStreamCheckpoint(checkpoint_dir)
    pending = checkpoint.pending_batch()
    if pending is None:
        return False
    checkpoint.commit_batch(pending, metadata)
    return True


def list_files(
    path: str,
    *,
    pattern: str | None = None,
    recursive: bool = True,
) -> dict[str, dict[str, int]]:
    """List local files under ``path`` as {abspath: {mtime_ns, size}}.

    Driver-side listing is only used by planned mode; object-store deployments
    should prefer native Structured Streaming where listing is Spark's job.
    """
    out: dict[str, dict[str, int]] = {}
    if os.path.isfile(path):
        st = os.stat(path)
        return {os.path.abspath(path): {"mtime_ns": st.st_mtime_ns, "size": st.st_size}}
    if not os.path.isdir(path):
        return out
    if recursive:
        walker = os.walk(path)
    else:
        walker = [(path, [], [n for n in os.listdir(path) if os.path.isfile(os.path.join(path, n))])]
    for root, _dirs, names in walker:
        if "_delta_log" in root.split(os.sep):
            continue
        for name in names:
            if name.startswith((".", "_")):
                continue
            if pattern and not fnmatch.fnmatch(name, pattern):
                continue
            full = os.path.join(root, name)
            try:
                st = os.stat(full)
            except FileNotFoundError:
                continue
            out[os.path.abspath(full)] = {"mtime_ns": st.st_mtime_ns, "size": st.st_size}
    return out
