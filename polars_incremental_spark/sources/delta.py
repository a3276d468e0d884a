"""Delta-table source: planned-mode log tailer + native option mapping.

Parity: ``DeltaSource`` planning/reading/CDF
(reference: src/polars_incremental/sources/delta.py:14-73,
checkpoints/delta.py:32-1040).  Two paths:

- **planned mode** (always available): ``DeltaSourceImpl`` plans batches
  through the jar-less log tailer in ``checkpoints/delta.py`` (snapshot /
  log-tail / CDF, start offsets, table-id guard) and keeps only that
  planning: it reads plain batches through the snapshot reader
  (``sinks.deltalog._load_snapshot_df``) and CDF batches through
  ``sinks.deltalog.read_change_files``, the change-file reader of the
  batch ``read_change_feed``, so the stream and the batch read return the
  same rows.
- **native mode** (delta-spark on the classpath): ``read_stream`` /
  ``build_delta_stream_reader`` map the spec onto the delta-spark streaming
  source, which implements the same contract natively.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from ..errors import MissingOptionError, UnsupportedFormatError

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession
    from pyspark.sql.streaming import DataStreamReader

    from .base import DeltaSource


def delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def require_delta() -> None:
    if not delta_available():
        raise UnsupportedFormatError(
            "Delta Lake support requires the delta-spark package on the classpath; "
            "it is not installed in this environment"
        )


class DeltaSourceImpl:
    """A ``DeltaSource`` spec bound to a planned-mode Delta checkpoint.

    Planning/commit ride the jar-less log tailer
    (``checkpoints/delta.DeltaTableCheckpoint``); reading is one multi-file
    parquet scan per batch (per commit and change type for CDF), so
    Catalyst scans the batch in parallel.  CDF batches carry
    ``_change_type`` / ``_commit_version`` / ``_commit_timestamp`` exactly
    as delta-spark's ``readChangeFeed`` does (reference
    sources/delta.py:14-32).
    """

    def __init__(self, spec: "DeltaSource", checkpoint_dir: str) -> None:
        from ..checkpoints.delta import DeltaTableCheckpoint

        self.spec = spec
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint = DeltaTableCheckpoint(checkpoint_dir, spec.path)

    # ------------------------------------------------------------ planned API
    def plan_batch(self):
        return self.checkpoint.plan_batch(self.spec)

    def read_batch(self, spark: "SparkSession", batch):
        from ..sinks.deltalog import _load_snapshot_df, read_change_files

        log = self.checkpoint.log
        # ONE log replay per batch serves both the mapping and the scan
        # schema (table_metadata is an O(commits) walk — a long-lived
        # stream must not pay it twice per micro-batch)
        meta = log.table_metadata() or {}
        entries = batch.metadata.get("entries")
        if self.spec.read_change_feed and entries:
            return read_change_files(spark, log, meta, entries)
        # plain batch: the snapshot reader pins the logged schema (hidden
        # row-id columns of rewritten files stay out), keeps partition
        # columns and renames mapped physical columns to the CURRENT
        # logical names (delta-spark streaming with schema tracking: a
        # mid-stream rename surfaces from the next batch on).  The offset's
        # paths are absolute, so they stand as the adds' paths.
        return _load_snapshot_df(spark, log, meta, [{"path": p} for p in batch.files])[0]

    def commit_batch(self, batch, metadata=None) -> None:
        self.checkpoint.commit_batch(batch, metadata)

    # ------------------------------------------------------------ native API
    def read_stream(self, spark: "SparkSession"):
        """Native Structured Streaming path — requires the delta-spark jar."""
        require_delta()
        return build_delta_stream_reader(spark, self.spec).load(self.spec.path)


def build_delta_stream_reader(spark: "SparkSession", spec: "DeltaSource") -> "DataStreamReader":
    """Map the declarative spec onto delta-spark streaming-source options."""
    require_delta()
    reader = spark.readStream.format("delta")
    if spec.max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", spec.max_files_per_trigger)
    if spec.max_bytes_per_trigger is not None:
        reader = reader.option("maxBytesPerTrigger", spec.max_bytes_per_trigger)
    if spec.ignore_deletes:
        reader = reader.option("ignoreDeletes", "true")
    if spec.ignore_changes:
        reader = reader.option("ignoreChanges", "true")
    if spec.read_change_feed:
        reader = reader.option("readChangeFeed", "true")
    if spec.starting_version is not None and spec.starting_timestamp is not None:
        raise MissingOptionError("set only one of starting_version / starting_timestamp")
    if spec.starting_version is not None:
        reader = reader.option("startingVersion", spec.starting_version)
    elif spec.starting_timestamp is not None:
        reader = reader.option("startingTimestamp", spec.starting_timestamp)
    elif spec.start_offset == "earliest":
        reader = reader.option("startingVersion", 0)
    elif spec.start_offset == "latest":
        reader = reader.option("startingVersion", "latest")
    # default ("snapshot") = delta-spark's initial-snapshot behavior
    return reader
