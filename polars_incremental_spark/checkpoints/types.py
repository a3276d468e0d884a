"""Checkpoint primitives: batch descriptors, atomic JSON persistence and
the write-ahead log every planned checkpoint shares.

Shape parity with the reference's checkpoint types
(reference: src/polars_incremental/checkpoints/types.py:10-63) — the
offset/commit JSON layout is deliberately Spark-shaped (offsets/ and
commits/ sequence files under a checkpoint dir).  ``CheckpointLog`` is the
one owner of that layout: batch ids, the pending batch, offset and commit
writes, ``metadata.json`` and the retention rule of cleanup/truncate.  The
file checkpoint (``checkpoints/file.py``) and the Delta checkpoint
(``checkpoints/delta.py``) subclass it and add only their planning.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from dataclasses import dataclass, field
from typing import Any


@dataclass(frozen=True)
class BatchInfo:
    """A planned file micro-batch: which files constitute batch ``batch_id``."""

    batch_id: int
    files: list[str]
    created_at: float = 0.0
    # extra planner metadata (e.g. file sizes, mtimes) — not part of identity
    metadata: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> dict[str, Any]:
        return {
            "batch_id": self.batch_id,
            "files": list(self.files),
            "created_at": self.created_at,
            "metadata": self.metadata,
        }

    @classmethod
    def from_json(cls, payload: dict[str, Any]) -> "BatchInfo":
        return cls(
            batch_id=int(payload["batch_id"]),
            files=list(payload.get("files", [])),
            created_at=float(payload.get("created_at", 0.0)),
            metadata=dict(payload.get("metadata", {})),
        )


def atomic_write_json(path: str, payload: dict[str, Any]) -> None:
    """Write JSON atomically: tmpfile in the same dir + fsync + rename + dir fsync.

    Guarantees a reader never observes a torn offset/commit file, which is the
    crash-consistency contract the whole checkpoint protocol relies on.
    """
    directory = os.path.dirname(path)
    os.makedirs(directory, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=directory, prefix=".tmp_", suffix=".json")
    try:
        with os.fdopen(fd, "w") as handle:
            json.dump(payload, handle, separators=(",", ":"), default=str)
            handle.flush()
            os.fsync(handle.fileno())
        os.replace(tmp, path)
        dir_fd = os.open(directory, os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def read_json(path: str) -> dict[str, Any] | None:
    if not os.path.exists(path):
        return None
    with open(path) as handle:
        return json.load(handle)


class CheckpointLog:
    """The offsets/ + commits/ + metadata.json write-ahead log of a planned
    checkpoint dir.

    A batch's offset is written at plan time and its commit after the sink
    succeeds, so a crash between the two leaves the batch pending: the next
    plan returns the SAME batch id with the SAME offset (at-least-once;
    exactly-once with idempotent ``batch_{id}`` sinks).  Batch ids follow
    the latest commit.  Nothing is created until something is written, so
    inspecting a dir leaves it as it was.
    """

    # metadata.json key of the sticky start decision: ``start_offset`` in a
    # file checkpoint, ``delta_start`` in a Delta checkpoint
    START_KEYS = ("start_offset", "delta_start")

    def __init__(self, checkpoint_dir: str) -> None:
        self.dir = checkpoint_dir
        self.offsets_dir = os.path.join(checkpoint_dir, "offsets")
        self.commits_dir = os.path.join(checkpoint_dir, "commits")
        self.metadata_path = os.path.join(checkpoint_dir, "metadata.json")

    # ------------------------------------------------------------------ ids
    @staticmethod
    def _ids_in(directory: str) -> list[int]:
        try:
            names = os.listdir(directory)
        except FileNotFoundError:
            return []
        return sorted(
            int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()
        )

    def offset_ids(self) -> list[int]:
        return self._ids_in(self.offsets_dir)

    def commit_ids(self) -> list[int]:
        return self._ids_in(self.commits_dir)

    def latest_offset_batch_id(self) -> int | None:
        ids = self.offset_ids()
        return ids[-1] if ids else None

    def latest_commit_batch_id(self) -> int | None:
        ids = self.commit_ids()
        return ids[-1] if ids else None

    def _offset_path(self, batch_id: int) -> str:
        return os.path.join(self.offsets_dir, f"{batch_id}.json")

    def offset_batch(self, batch_id: int) -> BatchInfo | None:
        payload = read_json(self._offset_path(batch_id))
        return BatchInfo.from_json(payload) if payload else None

    def commit_metadata(self, batch_id: int) -> dict[str, Any] | None:
        return read_json(os.path.join(self.commits_dir, f"{batch_id}.json"))

    def pending_batch_id(self) -> int | None:
        """Id of the offset written but not committed (the batch to retry)."""
        latest_offset = self.latest_offset_batch_id()
        latest_commit = self.latest_commit_batch_id()
        if latest_offset is None or (
            latest_commit is not None and latest_offset <= latest_commit
        ):
            return None
        return latest_offset

    def pending_batch(self) -> BatchInfo | None:
        batch_id = self.pending_batch_id()
        return None if batch_id is None else self.offset_batch(batch_id)

    # -------------------------------------------------------------- writes
    def write_offset(self, files: list[str], metadata: dict[str, Any]) -> BatchInfo:
        """Write the next batch's offset before it is read (WAL discipline)."""
        latest_commit = self.latest_commit_batch_id()
        batch = BatchInfo(
            batch_id=0 if latest_commit is None else latest_commit + 1,
            files=files,
            created_at=time.time(),
            metadata=metadata,
        )
        atomic_write_json(self._offset_path(batch.batch_id), batch.to_json())
        return batch

    def commit_batch(self, batch: BatchInfo, metadata: dict[str, Any] | None = None) -> None:
        payload = {
            "batch_id": batch.batch_id,
            "committed_at": time.time(),
            "metadata": metadata or {},
        }
        atomic_write_json(
            os.path.join(self.commits_dir, f"{batch.batch_id}.json"), payload
        )

    # ------------------------------------------------------------- metadata
    def load_metadata(self) -> dict[str, Any]:
        return read_json(self.metadata_path) or {}

    def update_metadata(self, **kwargs: Any) -> dict[str, Any]:
        meta = self.load_metadata()
        meta.update(kwargs)
        atomic_write_json(self.metadata_path, meta)
        return meta

    def drop_metadata(self, *keys: str) -> None:
        meta = self.load_metadata()
        if any(k in meta for k in keys):
            atomic_write_json(
                self.metadata_path, {k: v for k, v in meta.items() if k not in keys}
            )

    def start(self) -> dict[str, Any] | None:
        """The sticky start decision, whichever kind of checkpoint this is."""
        meta = self.load_metadata()
        return next((meta[k] for k in self.START_KEYS if k in meta), None)

    def get_schema(self) -> str | None:
        """Persisted Spark schema as a JSON string (StructType.json())."""
        return self.load_metadata().get("schema")

    def set_schema(self, schema_json: str) -> None:
        self.update_metadata(schema=schema_json)

    # ------------------------------------------------------------ retention
    def _remove(self, doomed, dry_run: bool = False) -> list[str]:
        """Delete the offset/commit files ``doomed(path, batch_id, ids)``
        selects (``ids``: the sorted ids of the file's dir)."""
        removed = []
        for directory in (self.offsets_dir, self.commits_dir):
            ids = self._ids_in(directory)
            for batch_id in ids:
                path = os.path.join(directory, f"{batch_id}.json")
                if doomed(path, batch_id, ids):
                    removed.append(path)
                    if not dry_run:
                        os.unlink(path)
        return removed

    def cleanup(
        self,
        *,
        keep_last_n: int | None = None,
        older_than_seconds: float | None = None,
        dry_run: bool = False,
    ) -> list[str]:
        """Delete old offset/commit files.  Keeps the last ``keep_last_n``
        (at least one) of each, and never deletes the latest commit, the
        offset of the latest committed batch (a Delta checkpoint resumes
        from the position it records) or an offset past it (pending)."""
        last_commit = self.latest_commit_batch_id()
        floor = -1 if last_commit is None else last_commit
        keep_n = max(keep_last_n or 1, 1)
        now = time.time()
        return self._remove(
            lambda path, batch_id, ids: batch_id < floor
            and batch_id not in ids[-keep_n:]
            and (
                older_than_seconds is None
                or now - os.stat(path).st_mtime >= older_than_seconds
            ),
            dry_run,
        )

    def truncate(self, after_batch_id: int) -> list[str]:
        """Delete the offsets/commits of batches after ``after_batch_id``, so
        those batches plan again.  Batch ``after_batch_id`` becomes the
        latest committed one; a Delta checkpoint resumes from its offset,
        which ``cleanup`` keeps only while it is the latest committed."""
        return self._remove(lambda _p, batch_id, _ids: batch_id > after_batch_id)
