"""Planned-mode Delta-log tailer — no delta-spark jar required.

The Delta transaction log is an open spec: one JSON-lines file per commit
under ``_delta_log/`` carrying ``protocol`` / ``metaData`` / ``add`` /
``remove`` / ``cdc`` / ``commitInfo`` actions.  The log is tiny metadata
(KBs per commit) so the driver reads it directly — exactly what
delta-spark's own DeltaSource does — while the DATA files it names are read
by Spark in parallel.

Capability parity with the reference's ``DeltaTableCheckpoint``
(reference: src/polars_incremental/checkpoints/delta.py:32-1040, C10-C16).
``DeltaTableCheckpoint`` keeps only the log positions and the Delta
planning; its offsets/ + commits/ + metadata.json write-ahead log is the
shared ``types.CheckpointLog``.  Each offset names its files as
``change_entries``, which ``sinks.deltalog.read_change_files`` reads for
CDF batches, the same reader ``read_change_feed`` uses.

- initial-snapshot batching in deterministic file order, resumable by
  ``(version, index)`` (C11/C12)
- log-tail batching: error on removes unless ``ignore_deletes`` /
  ``ignore_changes``; ``dataChange=false`` (compaction) commits are skipped
  (C13)
- CDF batching from ``cdc`` actions, falling back to add-only commits as
  inserts, raising ``ChangeDataFeedError`` on deletes without CDF files
  (C14)
- start offsets: snapshot (default) / earliest / latest /
  ``starting_version`` / ``starting_timestamp``, sticky in checkpoint
  metadata under ``delta_start`` (C15)
- table-id guard: refuse to continue a checkpoint if the table id changed
  (C16)

When delta-spark IS on the classpath, prefer the native streaming source
(``sources/delta.build_delta_stream_reader``); this tailer makes Delta
sources work without the jar and serves planned-mode features (file-list
injection, writer-metadata commits).
"""

from __future__ import annotations

import json
import os
import pickle
from typing import Any

from ..errors import ChangeDataFeedError, PlanningError
from .types import BatchInfo, CheckpointLog

LOG_DIR = "_delta_log"

# Reader features this jar-less reader ACTUALLY honors.  Anything else in
# a protocol-v3 readerFeatures list (columnMapping, v2Checkpoint,
# typeWidening, ...) changes what the data files MEAN — a reader that
# ignores them silently returns wrong rows, so the reader fails closed
# instead (DeltaLog.check_reader_supported).  deletionVectors is honored
# for INLINE DVs by the snapshot reader (sinks/deltalog applies them);
# the streaming tailer gates per phase instead — CDF tail batches ride
# cdc files (DV-safe), raw-file phases refuse DV'd adds.
SUPPORTED_READER_FEATURES = {"timestampNtz", "deletionVectors"}


def _version_of(name: str) -> int | None:
    stem, ext = os.path.splitext(name)
    if ext == ".json" and stem.isdigit() and len(stem) == 20:
        return int(stem)
    return None


def _checkpoint_decoder(arrow_type: Any) -> Any:
    """A function that rebuilds one parquet checkpoint value of
    ``arrow_type`` as the JSON commits held it: checkpoint rows carry every
    schema field, so struct fields that are null drop out, and maps become
    dicts.  pyarrow yields a map as [(k, v), ...] pairs and an empty map as
    [], so the arrow type, not the value, says which lists are maps.
    Scalars decode as themselves (``None``: no call per value)."""
    import pyarrow as pa

    if pa.types.is_map(arrow_type):
        item = _checkpoint_decoder(arrow_type.item_type)
        if item is None:
            return lambda v: None if v is None else dict(v)
        return lambda v: None if v is None else {k: item(x) for k, x in v}
    if pa.types.is_list(arrow_type):
        item = _checkpoint_decoder(arrow_type.value_type)
        if item is None:
            return None
        return lambda v: None if v is None else [item(x) for x in v]
    if pa.types.is_struct(arrow_type):
        fields = [(f.name, _checkpoint_decoder(f.type)) for f in arrow_type]

        def struct(v: Any) -> Any:
            if v is None:
                return None
            return {
                name: x if dec is None else dec(x)
                for name, dec in fields
                if (x := v[name]) is not None
            }

        return struct
    return None


# log dir -> (identity of the checkpoint files last parsed there, their
# actions pickled).  A committed log file never changes, so each file's
# path and ``stat`` identify its contents, and a file replaced or
# rewritten misses.  One entry per table: reading a newer checkpoint
# replaces the older one, which snapshot replay does not seed from again.
# The entry holds bytes, not the action dicts, so no caller can change
# what a later caller gets.
_CHECKPOINT_CACHE: dict[str, tuple[tuple, bytes]] = {}


class DeltaLog:
    """Reader for a Delta table's transaction log: JSON commits plus the
    parquet log checkpoints this library's ``checkpoint_log`` writes.

    Snapshot replay seeds from the newest checkpoint at or below the target
    version and replays only the JSON commits after it — O(tail) instead of
    O(all commits), and tables whose early JSON commits were expired
    (``expire_log``) stay fully readable.  Requests for state strictly
    below the checkpoint floor with the JSON gone raise a clear
    PlanningError (that history is no longer reconstructible — same
    contract as real Delta after log cleanup).
    """

    def __init__(self, table_path: str) -> None:
        self.table_path = table_path
        self.log_dir = os.path.join(table_path, LOG_DIR)

    def exists(self) -> bool:
        return os.path.isdir(self.log_dir)

    def versions(self) -> list[int]:
        if not self.exists():
            return []
        out = []
        for name in os.listdir(self.log_dir):
            v = _version_of(name)
            if v is not None:
                out.append(v)
        return sorted(out)

    def latest_version(self) -> int | None:
        versions = self.versions()
        cv = self.checkpoint_version()
        best = [versions[-1]] if versions else []
        if cv is not None:
            best.append(cv)
        return max(best) if best else None

    # ------------------------------------------------------------ checkpoint
    def checkpoint_version(self) -> int | None:
        try:
            with open(os.path.join(self.log_dir, "_last_checkpoint")) as handle:
                return int(json.load(handle)["version"])
        except (OSError, ValueError, KeyError):
            return None

    def checkpoint_versions(self) -> list[int]:
        """Every USABLE checkpoint in the log dir, sorted — not just
        ``_last_checkpoint``: log cleanup keeps superseded checkpoints
        until the NEXT cleanup, and a read below the newest checkpoint can
        legitimately seed from an older one (real Delta readers do the
        same listing).  Single-file ``<v>.checkpoint.parquet`` counts
        always; a multi-part ``<v>.checkpoint.<part>.<parts>.parquet`` set
        counts only when COMPLETE (a crash can leave partial sets — they
        must never seed a replay, which would silently shrink the table)."""
        single: set[int] = set()
        parts_seen: dict[tuple[int, int], set[int]] = {}
        try:
            names = os.listdir(self.log_dir)
        except OSError:
            return []
        for name in names:
            fields = name.split(".")
            try:
                if name.endswith(".checkpoint.parquet") and len(fields) == 3:
                    single.add(int(fields[0]))
                elif (
                    name.endswith(".parquet")
                    and len(fields) == 5
                    and fields[1] == "checkpoint"
                ):
                    v, p, n = int(fields[0]), int(fields[2]), int(fields[3])
                    parts_seen.setdefault((v, n), set()).add(p)
            except ValueError:
                continue
        complete = {
            v
            for (v, n), got in parts_seen.items()
            if got == set(range(1, n + 1))
        }
        return sorted(single | complete)

    def _multipart_files(self, version: int) -> list[str] | None:
        """Paths of a COMPLETE multi-part checkpoint at ``version`` in part
        order, or None."""
        by_n: dict[int, dict[int, str]] = {}
        try:
            names = os.listdir(self.log_dir)
        except OSError:
            return None
        prefix = f"{version:020d}.checkpoint."
        for name in names:
            if not (name.startswith(prefix) and name.endswith(".parquet")):
                continue
            fields = name.split(".")
            if len(fields) != 5:
                continue
            try:
                p, n = int(fields[2]), int(fields[3])
            except ValueError:
                continue
            by_n.setdefault(n, {})[p] = os.path.join(self.log_dir, name)
        for n in sorted(by_n, reverse=True):
            got = by_n[n]
            if set(got) == set(range(1, n + 1)):
                return [got[p] for p in range(1, n + 1)]
        return None

    def seed_checkpoint(self, version: int | None = None) -> int | None:
        """Newest checkpoint at or below ``version`` (default: any)."""
        cands = self.checkpoint_versions()
        if version is not None:
            cands = [c for c in cands if c <= version]
        return max(cands) if cands else None

    def is_reconstructible(self, version: int) -> bool:
        """True when the snapshot AT ``version`` can be replayed: some
        checkpoint ≤ version (or table creation) seeds it and every JSON
        commit between the seed and ``version`` survives."""
        seed = self.seed_checkpoint(version)
        start = -1 if seed is None else seed
        needed = set(range(start + 1, version + 1))
        return needed.issubset(self.versions())

    def checkpoint_actions(self, version: int) -> list[dict[str, Any]]:
        """Actions stored in the checkpoint at ``version`` — the single
        ``<v>.checkpoint.parquet`` file, or every part of a complete
        multi-part ``<v>.checkpoint.<part>.<parts>.parquet`` set in part
        order (PROTOCOL.md: parts jointly hold the action set).  Each call
        returns fresh objects; the parse is cached per table
        (``_CHECKPOINT_CACHE``)."""
        import pyarrow.parquet as pq

        single = os.path.join(
            self.log_dir, f"{version:020d}.checkpoint.parquet"
        )
        if os.path.exists(single):
            paths = [single]
        else:
            paths = self._multipart_files(version)
            if paths is None:
                raise PlanningError(
                    f"checkpoint at version {version} is missing or has an "
                    f"incomplete multi-part set under {self.log_dir}"
                )
        ident = tuple(
            (path, st.st_ino, st.st_size, st.st_mtime_ns)
            for path in paths
            for st in [os.stat(path)]
        )
        cached = _CHECKPOINT_CACHE.get(self.log_dir)
        if cached is not None and cached[0] == ident:
            return pickle.loads(cached[1])
        actions = []
        for path in paths:
            table = pq.read_table(path)
            decoders = {f.name: _checkpoint_decoder(f.type) for f in table.schema}
            actions += [
                {kind: decoders[kind](payload)}
                for row in table.to_pylist()
                for kind, payload in row.items()
                if payload is not None
            ]
        _CHECKPOINT_CACHE[self.log_dir] = (
            ident,
            pickle.dumps(actions, protocol=pickle.HIGHEST_PROTOCOL),
        )
        return actions

    def actions(self, version: int) -> list[dict[str, Any]]:
        path = os.path.join(self.log_dir, f"{version:020d}.json")
        if not os.path.exists(path):
            raise PlanningError(
                f"delta log version {version} missing under {self.log_dir} "
                "(vacuumed log checkpoints are not supported without delta-spark)"
            )
        out = []
        with open(path) as handle:
            for line in handle:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
        return out

    # --------------------------------------------------------------- lookups
    def table_metadata(self, at_version: int | None = None) -> dict[str, Any] | None:
        """Effective metaData action (id, schemaString, partitionColumns, …)
        — the latest one at or below ``at_version`` (default: table head).
        Time travel reads pass ``at_version`` so a query AS OF v sees the
        schema as of v, not the current one."""
        return self._effective_action("metaData", at_version)

    def _effective_action(
        self, kind: str, at_version: int | None
    ) -> dict[str, Any] | None:
        """Latest ``kind`` action at/below ``at_version`` (default: head).

        When ``at_version`` sits BELOW the checkpoint, the checkpoint must
        NOT answer (it summarizes a LATER state — e.g. a post-upgrade
        protocol or post-evolution schema); the walk instead continues
        through the surviving JSON commits ≤ at_version.  If those were
        expired, ``snapshot_files`` raises first (the read is not
        reconstructible), so returning None here is unreachable for
        legitimate time-travel reads.
        """
        cv = self.seed_checkpoint(at_version)
        for version in reversed(self.versions()):
            if at_version is not None and version > at_version:
                continue
            if cv is not None and version <= cv:
                break  # the seed checkpoint summarizes everything at/below it
            for action in self.actions(version):
                if kind in action:
                    return action[kind]
        if cv is None:
            return None
        for action in self.checkpoint_actions(cv):
            if kind in action:
                return action[kind]
        return None

    def table_id(self) -> str | None:
        meta = self.table_metadata()
        return meta.get("id") if meta else None

    def protocol(self, at_version: int | None = None) -> dict[str, Any] | None:
        """Effective protocol action at/below ``at_version`` (same walk as
        ``table_metadata``)."""
        return self._effective_action("protocol", at_version)

    def check_reader_supported(
        self,
        at_version: int | None = None,
        adds: list | None = None,
        *,
        allow_inline_dv: bool = True,
        allow_column_mapping: bool = False,
    ) -> None:
        """Refuse to read a table whose protocol demands reader capabilities
        this jar-less implementation lacks — PROTOCOL.md's contract; the
        alternative is a silent misread (unapplied deletion vectors
        resurrect deleted rows, ignored column mapping reads the wrong
        physical columns).

        Inline deletion vectors ARE supported by the snapshot reader
        (sinks/deltalog applies them), so with ``allow_inline_dv`` only
        file-backed ('u'/'p') or unparseable descriptors raise; callers
        that read commit file-lists without DV application (the streaming
        tailer) pass ``allow_inline_dv=False`` to keep failing closed on
        ANY deletion vector."""
        proto = self.protocol(at_version=at_version) or {}
        mrv = proto.get("minReaderVersion", 1)
        if mrv == 3:
            supported = set(SUPPORTED_READER_FEATURES)
            if not allow_inline_dv:
                supported.discard("deletionVectors")
            if allow_column_mapping:
                # the snapshot reader (sinks/deltalog) translates physical
                # names; raw-file paths keep failing closed on this feature
                supported.add("columnMapping")
            unsupported = set(proto.get("readerFeatures") or []) - supported
            if unsupported:
                raise PlanningError(
                    f"table requires reader features {sorted(unsupported)} "
                    f"this reader path does not implement; reading anyway "
                    f"would return wrong rows — use delta-spark for this table"
                )
        elif mrv > 3:
            raise PlanningError(
                f"table requires minReaderVersion {mrv} (> 3); refusing to misread"
            )
        meta = self.table_metadata(at_version=at_version) or {}
        mapping = (meta.get("configuration") or {}).get("delta.columnMapping.mode")
        if mapping and mapping != "none":
            if mapping != "name" or not allow_column_mapping:
                raise PlanningError(
                    f"table uses column mapping mode {mapping!r}; physical "
                    f"parquet columns no longer match the logical schema — "
                    + (
                        "this reader path reads raw files and would misbind "
                        "columns; read through read_table/read_delta_fallback"
                        if mapping == "name"
                        else "only 'name' mode is implemented — use delta-spark"
                    )
                )
        if adds is None:
            version = (
                at_version if at_version is not None else self.latest_version()
            )
            adds = self.snapshot_files(version) if version is not None else []
        for add in adds:
            dv = add.get("deletionVector")
            if not dv:
                continue
            if not allow_inline_dv:
                raise PlanningError(
                    f"file {add['path']} carries a deletion vector; this "
                    f"reader path does not apply them — reading would "
                    f"resurrect deleted rows"
                )
            if dv.get("storageType") != "i":
                raise PlanningError(
                    f"file {add['path']} carries a file-backed deletion "
                    f"vector (storageType {dv.get('storageType')!r}); only "
                    f"inline DVs are implemented — use delta-spark for this "
                    f"table"
                )

    def commit_timestamp_ms(self, version: int) -> int:
        json_path = os.path.join(self.log_dir, f"{version:020d}.json")
        if not os.path.exists(json_path) and version == self.checkpoint_version():
            # expired-at-checkpoint commit: _last_checkpoint records the
            # checkpoint time so streams resolving their start here survive
            try:
                with open(os.path.join(self.log_dir, "_last_checkpoint")) as fh:
                    info = json.load(fh)
                # ICT-enabled tables: the sidecar's inCommitTimestampMs is
                # the commit's true (monotone) time; mod-time-derived
                # timestampMs is the pre-ICT fallback
                if "inCommitTimestampMs" in info:
                    return int(info["inCommitTimestampMs"])
                if "timestampMs" in info:
                    return int(info["timestampMs"])
            except (OSError, ValueError):
                pass
        for action in self.actions(version):
            info = action.get("commitInfo")
            if info and "inCommitTimestamp" in info:
                # PROTOCOL.md: when present, the in-commit timestamp IS the
                # commit time (monotone by construction; survives log copy)
                return int(info["inCommitTimestamp"])
            if info and "timestamp" in info:
                return int(info["timestamp"])
        return int(os.stat(json_path).st_mtime * 1000)

    def monotonic_commit_timestamps(
        self, versions: list[int] | None = None
    ) -> dict[int, int]:
        """{version: adjusted_ts_ms} over surviving versions, where each
        timestamp is lifted to the running max of its predecessors — the
        monotonic-adjustment rule real Delta applies when resolving
        timestamp bounds.  Without it, non-ICT commitInfo stamps from
        concurrent writers can be locally non-monotone and a later commit
        with an earlier stamp would silently fall outside a window.
        ``versions`` lets a caller holding a snapshot of the log listing
        adjust over THAT snapshot (not a re-listing), so a commit expiring
        mid-call cannot desynchronize the two scans."""
        out: dict[int, int] = {}
        running = None
        for version in self.versions() if versions is None else versions:
            ts = self.commit_timestamp_ms(version)
            running = ts if running is None else max(running, ts)
            out[version] = running
        return out

    def version_at_or_after_timestamp(self, ts_ms: int) -> int | None:
        # the early-return variant of monotonic_commit_timestamps: the
        # adjustment only needs predecessors up to the match, so resolving
        # a start near the head of a long log stays O(match), not O(log)
        running = None
        for version in self.versions():
            ts = self.commit_timestamp_ms(version)
            running = ts if running is None else max(running, ts)
            if running >= ts_ms:
                return version
        return None

    # -------------------------------------------------------------- snapshot
    def compacted_ranges(self) -> list[tuple[int, int]]:
        """(start, end) of every ``<start>.<end>.compacted.json`` log
        compaction file present, sorted by start then widest end first."""
        out = []
        try:
            names = os.listdir(self.log_dir)
        except OSError:
            return out
        for name in names:
            fields = name.split(".")
            if (
                name.endswith(".compacted.json")
                and len(fields) == 4
                and fields[0].isdigit()
                and fields[1].isdigit()
            ):
                out.append((int(fields[0]), int(fields[1])))
        return sorted(out, key=lambda r: (r[0], -r[1]))

    def compacted_actions(self, start: int, end: int) -> list[dict[str, Any]]:
        path = os.path.join(
            self.log_dir, f"{start:020d}.{end:020d}.compacted.json"
        )
        out = []
        with open(path) as handle:
            for line in handle:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
        return out

    def replay_actions(self, start_after: int, target: int):
        """Yield ``(version, action)`` over commits ``(start_after,
        target]`` in order, SUBSTITUTING a log compaction file for its
        whole range when one covers the next versions — one file open
        instead of end-start+1 small JSON reads, the listing/IO win
        compaction exists for.  Actions served from a compacted range are
        attributed to the range's END version (same convention as
        checkpoint-seeded actions reporting the checkpoint version).
        JSON commits stay the source of truth; compacted files never
        extend reconstructibility."""
        by_start: dict[int, int] = {}
        for s, e in self.compacted_ranges():
            if s > start_after and e <= target and e > by_start.get(s, -1):
                by_start[s] = e
        v = start_after + 1
        have = set(self.versions())
        while v <= target:
            end = by_start.get(v)
            if end is not None:
                for action in self.compacted_actions(v, end):
                    yield end, action
                v = end + 1
            elif v in have:
                for action in self.actions(v):
                    yield v, action
                v += 1
            else:
                v += 1  # gap: reconstructibility is the caller's contract

    def snapshot_files(self, version: int) -> list[dict[str, Any]]:
        """Active ``add`` actions at ``version``, path-sorted.

        Replay seeds from the newest checkpoint at or below ``version``
        (checkpoint-seeded adds report the checkpoint version as their
        ``commit_version``), then walks the commit tail through
        ``replay_actions`` — which serves whole compacted ranges from one
        file when available."""
        active: dict[str, dict[str, Any]] = {}
        cv = self.seed_checkpoint(version)
        start_after = -1 if cv is None else cv
        if not self.is_reconstructible(version):
            # no usable seed, or a JSON gap between seed and version — a
            # partial replay would silently present a historical version
            # as a smaller (or empty) table
            raise PlanningError(
                f"version {version} is no longer reconstructible: its JSON "
                f"commits were expired and no checkpoint at or below it "
                f"survives (same contract as Delta log cleanup)"
            )
        if cv is not None:
            for action in self.checkpoint_actions(cv):
                if "add" in action:
                    add = action["add"]
                    active[add["path"]] = {**add, "commit_version": cv}
        for v, action in self.replay_actions(start_after, version):
            if "add" in action:
                add = action["add"]
                active[add["path"]] = {**add, "commit_version": v}
            elif "remove" in action:
                active.pop(action["remove"]["path"], None)
        return [active[p] for p in sorted(active)]

    def domain_metadata(self, at_version: int | None = None) -> dict[str, str]:
        """Live ``domainMetadata`` configurations at/below ``at_version``
        (default: head): latest action per domain wins, ``removed: true``
        tombstones the domain (PROTOCOL.md Domain Metadata).  Replay seeds
        from the newest checkpoint at or below the target, same as
        ``snapshot_files``."""
        target = at_version
        if target is None:
            target = self.latest_version()
            if target is None:
                return {}
        domains: dict[str, str] = {}

        def apply(action: dict[str, Any]) -> None:
            dm = action.get("domainMetadata")
            if dm is None:
                return
            if dm.get("removed"):
                domains.pop(dm["domain"], None)
            else:
                domains[dm["domain"]] = dm.get("configuration", "")

        cv = self.seed_checkpoint(target)
        if cv is not None:
            for action in self.checkpoint_actions(cv):
                apply(action)
        start_after = -1 if cv is None else cv
        for v in self.versions():
            if v <= start_after:
                continue
            if v > target:
                break
            for action in self.actions(v):
                apply(action)
        return domains

    def abs_path(self, rel_path: str) -> str:
        return os.path.join(self.table_path, rel_path)


def change_actions(
    actions: list[dict],
) -> tuple[list[dict], list[dict], list[dict]]:
    """The files that make up ONE commit's change, as ``(cdcs, adds,
    removes)`` payloads: its ``cdc`` files when it has any (adds and
    removes then come back empty), else its ``dataChange`` adds and
    removes.  The one statement of that rule, shared by ``cdf_entries``,
    ``read_change_feed``'s reconstruct branch and ``change_key_stats``."""
    cdcs = [a["cdc"] for a in actions if "cdc" in a]
    if cdcs:
        return cdcs, [], []
    adds, removes = (
        [a[kind] for a in actions if kind in a and a[kind].get("dataChange", True)]
        for kind in ("add", "remove")
    )
    return cdcs, adds, removes


def change_entries(
    version: int, ts_ms: int, files: list[dict], change_type: str | None
) -> list[dict]:
    """Offset entries for the ``add``/``cdc`` payloads ``files`` of commit
    ``version``, as ``sinks.deltalog.read_change_files`` reads them.
    ``change_type`` is the ``_change_type`` to inject, or None for a cdc
    file (it carries the column) and for a plain, non-CDF batch."""
    return [
        {
            "path": f["path"],
            "change_type": change_type,
            "commit_version": version,
            "commit_timestamp_ms": ts_ms,
        }
        for f in files
    ]


def cdf_entries(log: "DeltaLog", version: int, actions: list[dict]) -> list[dict]:
    """Change-data file entries for ONE commit: its cdc actions when
    present; add-only commits fall back to the adds injected as inserts;
    data removes without change-data files raise (the reader cannot know
    WHICH rows disappeared).  Shared by the streaming tailer (C14) and the
    batch ``read_change_feed`` reader."""
    cdcs, adds, removes = change_actions(actions)
    if removes:
        raise ChangeDataFeedError(
            f"delta version {version} removes data but carries no change-data "
            "files; enable delta.enableChangeDataFeed on the writer. Batch "
            "readers can pass read_change_feed(reconstruct_removes=True) to "
            "diff the commit's own files instead (exact deletes/inserts; "
            "updates surface unpaired); streaming consumers have the jar's "
            "ignore_deletes / ignore_changes escape hatches"
        )
    ts = log.commit_timestamp_ms(version)
    if cdcs:
        return change_entries(version, ts, cdcs, None)
    return change_entries(version, ts, adds, "insert")


class DeltaTableCheckpoint(CheckpointLog):
    """Planned Delta micro-batches on the shared offset/commit log.

    Each offset stores the batch's file list, the log POSITION reached
    after it (``{version, index, snapshot_done}``) and, for tail batches
    and CDF snapshot batches, its ``entries`` (``change_entries``).
    """

    def __init__(self, checkpoint_dir: str, table_path: str) -> None:
        super().__init__(checkpoint_dir)
        self.log = DeltaLog(table_path)

    # --------------------------------------------------------- start offsets
    def _resolve_start(self, spec) -> dict[str, Any]:
        """Sticky start-position decision (C15): persisted on first run."""
        meta = self.load_metadata()
        stored = meta.get("delta_start")
        if stored is not None:
            return stored
        latest = self.log.latest_version()
        if latest is None:
            raise PlanningError(f"not a delta table: {self.log.table_path}")
        if spec.starting_version is not None:
            start = {"mode": "version", "tail_from": int(spec.starting_version)}
        elif spec.starting_timestamp is not None:
            ts = spec.starting_timestamp
            try:
                ts_ms = int(float(ts) * 1000)
            except (TypeError, ValueError):
                import datetime as _dt

                ts_ms = int(_dt.datetime.fromisoformat(str(ts)).timestamp() * 1000)
            version = self.log.version_at_or_after_timestamp(ts_ms)
            start = {
                "mode": "timestamp",
                "tail_from": version if version is not None else latest + 1,
            }
        elif spec.start_offset == "earliest":
            start = {"mode": "earliest", "tail_from": 0}
        elif spec.start_offset == "latest":
            start = {"mode": "latest", "tail_from": latest + 1}
        else:  # snapshot (default): current snapshot, then tail
            start = {"mode": "snapshot", "snapshot_version": latest}
        self.update_metadata(delta_start=start)
        return start

    def _guard_table_id(self) -> str | None:
        """C16: a checkpoint follows exactly one table incarnation."""
        current = self.log.table_id()
        meta = self.load_metadata()
        stored = meta.get("table_id")
        if stored is None:
            if current is not None:
                self.update_metadata(table_id=current)
            return current
        if current is not None and current != stored:
            raise PlanningError(
                f"delta table id changed ({stored} -> {current}); the table was "
                "replaced — reset the checkpoint to reprocess"
            )
        return stored

    # -------------------------------------------------------------- planning
    def _position(self) -> dict[str, Any] | None:
        """Position reached by the last committed batch (None before any)."""
        latest_commit = self.latest_commit_batch_id()
        if latest_commit is None:
            return None
        batch = self.offset_batch(latest_commit)
        return batch.metadata.get("position") if batch else None

    def plan_batch(self, spec) -> BatchInfo | None:
        pending = self.pending_batch()
        if pending is not None:
            return pending
        self._guard_table_id()
        # refuse tables whose protocol demands reader features this tailer
        # lacks — streaming a misread is worse than stopping.  Deletion
        # vectors gate PER PHASE below: CDF tail batches ride cdc files
        # (DV-safe); raw-file phases (snapshot, non-CDF tail) refuse DV'd
        # adds they cannot apply.  Column mapping ('name' mode) is allowed:
        # DeltaSourceImpl.read_batch renames physical parquet columns to
        # the current logical names on both the plain-file and CDF paths.
        self.log.check_reader_supported(allow_column_mapping=True)
        start = self._resolve_start(spec)
        position = self._position()

        if position is None:
            if start["mode"] == "snapshot":
                return self._plan_snapshot(
                    spec, start["snapshot_version"], index=0
                )
            return self._plan_tail(spec, start["tail_from"])
        if start["mode"] == "snapshot" and not position.get("snapshot_done", True):
            return self._plan_snapshot(
                spec, position["version"], index=position["index"]
            )
        return self._plan_tail(spec, position["version"] + 1)

    def _plan_snapshot(self, spec, version: int, index: int) -> BatchInfo | None:
        adds = self.log.snapshot_files(version)
        dv = [a["path"] for a in adds if a.get("deletionVector")]
        if dv:
            raise PlanningError(
                f"snapshot at version {version} includes files with deletion "
                f"vectors ({dv[0]} ...); the streaming tailer serves raw "
                f"files and would resurrect deleted rows — OPTIMIZE the "
                f"table to materialize its DVs before streaming it"
            )
        remaining = adds[index:]
        if not remaining:
            # empty table: mark snapshot served so tail starts after it
            return self._plan_tail(spec, version + 1)
        cap = spec.max_files_per_trigger or len(remaining)
        picked = remaining[: max(cap, 1)]
        if spec.max_bytes_per_trigger is not None:
            # greedy byte cap (always ≥1 file so progress is guaranteed)
            chosen, total = [], 0
            for add in picked:
                if chosen and total + int(add.get("size", 0)) > spec.max_bytes_per_trigger:
                    break
                chosen.append(add)
                total += int(add.get("size", 0))
            picked = chosen
        new_index = index + len(picked)
        metadata: dict[str, Any] = {
            "position": {
                "version": version,
                "index": new_index,
                "snapshot_done": new_index >= len(adds),
            },
            "is_initial_snapshot": True,
        }
        if spec.read_change_feed:
            # CDF consumers see the initial snapshot as inserts (the same
            # contract as delta-spark's readChangeFeed starting snapshot)
            metadata["entries"] = change_entries(
                version, self.log.commit_timestamp_ms(version), picked, "insert"
            )
        return self.write_offset([self.log.abs_path(a["path"]) for a in picked], metadata)

    def _plan_tail(self, spec, from_version: int) -> BatchInfo | None:
        """Serve the next log version that yields files; skip empty ones.

        Versions that yield nothing (compaction with dataChange=false,
        remove-only commits under ignore_deletes) are skipped WITHOUT
        emitting a batch; the position jump rides the next non-empty batch's
        metadata, so a crash never loses progress — idle polls simply
        re-scan the (tiny) skipped log entries.
        """
        latest = self.log.latest_version()
        if latest is None:
            return None
        version = from_version
        while version <= latest:
            actions = self.log.actions(version)
            if spec.read_change_feed:
                entries = cdf_entries(self.log, version, actions)
            else:
                entries = self._tail_entries(version, actions, spec)
            if entries:
                # one log version per batch: the version boundary is the
                # natural replay unit (max_files_per_trigger bounds snapshot
                # batches, where files have no transactional grouping)
                return self.write_offset(
                    [self.log.abs_path(e["path"]) for e in entries],
                    {
                        "position": {"version": version, "snapshot_done": True},
                        "entries": entries,
                        "is_initial_snapshot": False,
                    },
                )
            version += 1
        return None

    def _tail_entries(self, version: int, actions: list[dict], spec) -> list[dict]:
        adds = [a["add"] for a in actions if "add" in a]
        removes = [a["remove"] for a in actions if "remove" in a]
        data_adds = [a for a in adds if a.get("dataChange", True)]
        data_removes = [r for r in removes if r.get("dataChange", True)]
        dv = [a["path"] for a in data_adds if a.get("deletionVector")]
        if dv:
            raise PlanningError(
                f"delta version {version} commits files with deletion "
                f"vectors ({dv[0]} ...); re-emitting them raw would "
                f"resurrect deleted rows — use read_change_feed=True with a "
                f"CDF-writing DELETE, or OPTIMIZE to materialize the DVs"
            )
        if data_removes:
            if data_adds and not spec.ignore_changes:
                raise PlanningError(
                    f"delta version {version} rewrites data (update/merge); set "
                    "ignore_changes=True to stream the new files (downstream "
                    "must tolerate re-delivered rows)"
                )
            if not data_adds and not (spec.ignore_deletes or spec.ignore_changes):
                raise PlanningError(
                    f"delta version {version} deletes data; set "
                    "ignore_deletes=True to skip delete-only commits"
                )
        return change_entries(
            version, self.log.commit_timestamp_ms(version), data_adds, None
        )
