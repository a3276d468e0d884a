"""Cross-batch job state under ``<checkpoint>/state``.

Parity: ``JobState`` (reference: src/polars_incremental/state.py:14-92).
Three shapes, each keyed by name:

- JSON blobs (``<key>.json``) hold small scalars (watermarks, counters),
  swapped atomically.
- Parquet blobs (``<key>.parquet``) hold tabular state that is rewritten
  whole each batch (rolling aggregates): a staging write, then a rename
  over the old directory.
- Append-only runs (also ``<key>.parquet``) hold state that only grows
  (``patterns.cross_batch_dedupe``'s seen ids).  The directory is flat:
  each file is named ``r<lo>_<hi>-<tag>-<i>.parquet`` after the batch
  range its run covers, so ``spark.read.parquet(<key>.parquet)`` still
  reads the whole set.  A batch writes only its own rows as a new run and
  folds older runs in binary-counter style (the logarithmic method behind
  LSM trees), so at most ~log2(batches)+1 runs are live and each row is
  rewritten O(log batches) times over a job.  ``_fold_plan`` and
  ``_write_run`` below are the layout; the caller owns the columns.

Parquet state is written by Spark so it stays distributed — the driver
never materializes it.

For high-cardinality streaming state prefer the native path
(``withWatermark`` + ``dropDuplicates`` / ``applyInPandasWithState``); this
store is for planned-mode pipelines and small job-level facts.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .checkpoints.types import atomic_write_json, read_json
from .functions.layout import coalesce_to_size


class JobState:
    def __init__(self, state_dir: str) -> None:
        self.dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    def _json_path(self, key: str) -> str:
        return os.path.join(self.dir, f"{key}.json")

    def _parquet_path(self, key: str) -> str:
        return os.path.join(self.dir, f"{key}.parquet")

    # ---------------------------------------------------------------- json
    def save_json(self, key: str, value: Any) -> None:
        atomic_write_json(self._json_path(key), {"value": value})

    def load_json(self, key: str, default: Any = None) -> Any:
        payload = read_json(self._json_path(key))
        return default if payload is None else payload.get("value", default)

    # ------------------------------------------------------------- parquet
    def save_parquet(self, key: str, df: DataFrame) -> None:
        """Atomic swap: write to a staging dir, then rename over the old one."""
        final = self._parquet_path(key)
        staging = final + ".staging"
        if os.path.exists(staging):
            shutil.rmtree(staging)
        df.write.mode("overwrite").parquet(staging)
        backup = final + ".old"
        if os.path.exists(final):
            os.replace(final, backup) if os.path.isfile(final) else shutil.move(final, backup)
        os.replace(staging, final)
        if os.path.exists(backup):
            shutil.rmtree(backup, ignore_errors=True)

    def load_parquet(self, spark: SparkSession, key: str) -> DataFrame | None:
        path = self._parquet_path(key)
        if not os.path.exists(path):
            return None
        return spark.read.parquet(path)

    # ---------------------------------------------------------------- misc
    def exists(self, key: str) -> bool:
        return os.path.exists(self._json_path(key)) or os.path.exists(self._parquet_path(key))

    def delete(self, key: str) -> None:
        for path in (self._json_path(key), self._parquet_path(key)):
            if os.path.isfile(path):
                os.unlink(path)
            elif os.path.isdir(path):
                shutil.rmtree(path)

    def keys(self) -> list[str]:
        out = set()
        for name in os.listdir(self.dir):
            stem, ext = os.path.splitext(name)
            if ext in (".json", ".parquet"):
                out.add(stem)
        return sorted(out)


# ------------------------------------------------------ append-only runs
_RUN_FILE = re.compile(r"^r(-?\d+)_(-?\d+)-([0-9a-f]+)-\d+\.parquet$")
_STAGING = ".staging-"


@dataclass(frozen=True)
class _Run:
    """One run: the files one write produced, covering batches lo..hi.

    A legacy run is a directory written whole by ``save_parquet``; it
    sorts older than every named run and spans one batch, so the first
    fold after it reaches it and rewrites it into the run layout."""

    lo: int
    hi: int
    files: tuple[str, ...]
    legacy: bool = False

    @property
    def span(self) -> int:
        return self.hi - self.lo + 1

    def overlaps(self, lo: int, hi: int) -> bool:
        return self.lo <= hi and lo <= self.hi


def _list_runs(path: str) -> list[_Run]:
    """Live runs under ``path``, newest first (the legacy run last)."""
    if not os.path.isdir(path):
        return []
    named: dict[tuple[int, int, str], list[str]] = {}
    legacy = []
    for name in sorted(os.listdir(path)):
        if name.startswith((".", "_")):
            continue
        m = _RUN_FILE.match(name)
        if m:
            named.setdefault((int(m[1]), int(m[2]), m[3]), []).append(os.path.join(path, name))
        else:
            legacy.append(os.path.join(path, name))
    runs = sorted(
        (_Run(lo, hi, tuple(files)) for (lo, hi, _), files in named.items()),
        key=lambda r: (r.hi, r.lo),
        reverse=True,
    )
    if legacy:
        runs.append(_Run(-1, -1, tuple(legacy), legacy=True))
    return runs


def _overlapping(runs: list[_Run]) -> bool:
    """True when two of ``runs`` cover a common batch — only a crash
    between a fold's renames and its deletes leaves such runs behind."""
    return any(a.overlaps(b.lo, b.hi) for i, a in enumerate(runs) for b in runs[i + 1:])


def _fold_plan(runs: list[_Run], batch: int) -> tuple[list[_Run], int, int]:
    """The runs a new run for ``batch`` absorbs, and the new run's range.

    Absorbed: every run a crash left overlapping another, then — binary
    counter — each newest run whose span is no larger than the new run's,
    and last every run inside the new range (on a replay, the run holding
    ``batch``), so live runs stay disjoint."""
    fold = [r for r in runs if any(o is not r and r.overlaps(o.lo, o.hi) for o in runs)]
    lo = min([batch] + [r.lo for r in fold])
    hi = max([batch] + [r.hi for r in fold])
    for r in runs:
        if r in fold:
            continue
        if r.span > hi - lo + 1:
            break
        fold.append(r)
        lo, hi = min(lo, r.lo), max(hi, r.hi)
    while inside := [r for r in runs if r not in fold and r.overlaps(lo, hi)]:
        fold += inside
        lo = min([lo] + [r.lo for r in inside])
        hi = max([hi] + [r.hi for r in inside])
    return fold, lo, hi


def _write_run(
    df: DataFrame, path: str, lo: int, hi: int, folded: list[_Run], new_bytes: int
) -> None:
    """Write ``df`` as run ``lo..hi`` and retire the ``folded`` runs.

    The run is written as at most one file per ``layout.MIN_FILE_BYTES``
    of its estimated size: the folded runs' file sizes plus ``new_bytes``,
    the caller's estimate of the rows ``df`` adds.  So a small run keeps
    neither the small files of the runs it folds in nor one file per task.

    The write lands in a hidden staging directory (both Spark and pyarrow
    skip names starting with ``.``), its parts are renamed into place,
    and only then are the folded runs deleted, so no crash point loses a
    row they hold.  A crash after the first rename leaves runs that
    overlap — duplicates the next fold absorbs.  A stale staging
    directory is never needed, so it is dropped here."""
    os.makedirs(path, exist_ok=True)
    for name in os.listdir(path):
        if name.startswith(_STAGING):
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)
    tag = uuid.uuid4().hex[:12]
    staging = os.path.join(path, _STAGING + tag)
    size = new_bytes + sum(os.path.getsize(f) for r in folded for f in r.files)
    coalesce_to_size(df, size).write.parquet(staging)
    parts = sorted(n for n in os.listdir(staging) if not n.startswith((".", "_")))
    for i, name in enumerate(parts):
        os.replace(os.path.join(staging, name), os.path.join(path, f"r{lo}_{hi}-{tag}-{i}.parquet"))
    _retire(path, folded)
    shutil.rmtree(staging, ignore_errors=True)


def _retire(path: str, runs: list[_Run]) -> None:
    """Delete folded runs; a legacy run takes its ``_SUCCESS``/``.crc`` files along."""
    doomed = [f for r in runs for f in r.files]
    if any(r.legacy for r in runs):
        doomed += [
            os.path.join(path, n)
            for n in os.listdir(path)
            if n.startswith((".", "_")) and not n.startswith(_STAGING)
        ]
    for f in doomed:
        if os.path.isdir(f):
            shutil.rmtree(f, ignore_errors=True)
        elif os.path.exists(f):
            os.unlink(f)
