"""Minimal Delta transaction-log writer — upgrades the parquet fallback to a
real (spec-compliant, single-writer) Delta table when delta-spark is absent.

Writes protocol v1 logs: ``protocol`` + ``metaData`` on create, ``add`` /
``remove`` actions per commit, ``commitInfo`` with a timestamp.  Tables
written here are readable by delta-spark / delta-rs / DuckDB's delta
extension, and by this library's own planned-mode tailer
(checkpoints/delta.py).

Concurrency: single-writer only (the planned-mode Pipeline lock enforces
this); no conflict detection — deployments with the delta-spark jar use
the native writer instead (sinks/delta.write_table).  ``checkpoint_log``
writes parquet log checkpoints (PROTOCOL.md layout) and ``expire_log``
deletes the summarized JSON commits, so snapshot replay stays O(tail) on
long-lived tables.

Data files are staged through a Spark parquet write and MOVED into the
table directory under unique names, so an append never clobbers existing
parts and a crashed write leaves only unreferenced orphans (invisible to
readers until logged — the same guarantee real Delta gives).
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoints.delta import LOG_DIR, DeltaLog, change_actions
from ..checkpoints.types import atomic_write_json


def _spark_schema_to_delta(schema_json: str) -> str:
    """Delta's schemaString IS the Spark StructType JSON format."""
    return schema_json


# primitive widening chains (Delta typeWidening's integer and float
# families): a same-name field whose incoming type is WIDER adopts the
# wider type in the merged schema; narrower incoming data upcasts at read
# (Spark's pinned-schema parquet reader promotes int32->long etc.)
_INT_WIDTH = {"byte": 0, "short": 1, "integer": 2, "long": 3}
_FLOAT_WIDTH = {"float": 0, "double": 1}
_NULLABILITY_KEYS = {"nullable", "containsNull", "valueContainsNull"}


def _merged_field_type(stored_t: Any, incoming_t: Any, name: str) -> Any:
    """The type the merged schema keeps for a field present on both sides.
    Same type -> itself; both on one widening chain -> the WIDER one;
    anything else -> refuse loudly (the old silent keep-stored behavior
    staged files whose parquet type could not be read back under the
    logged schema — a deferred misread).  Nested nullability is not a type
    change (top-level ``nullable`` is not compared either): Spark reads
    struct fields and array/map elements back as nullable, so a rewrite of
    stored rows keeps the stored type."""

    def shape(t: Any) -> Any:
        if isinstance(t, dict):
            return {k: shape(v) for k, v in t.items() if k not in _NULLABILITY_KEYS}
        return [shape(v) for v in t] if isinstance(t, list) else t

    if shape(stored_t) == shape(incoming_t):
        return stored_t
    if isinstance(stored_t, str) and isinstance(incoming_t, str):
        for chain in (_INT_WIDTH, _FLOAT_WIDTH):
            if stored_t in chain and incoming_t in chain:
                return stored_t if chain[stored_t] >= chain[incoming_t] else incoming_t
    raise ValueError(
        f"incompatible type change for column {name!r}: table has "
        f"{stored_t!r}, incoming batch has {incoming_t!r} — only widening "
        f"within the integer (byte<short<int<long) and float (float<double) "
        f"chains merges; cast the batch explicitly"
    )


def _merge_schema_strings(stored: str | None, incoming: str) -> str:
    """mergeSchema: union of fields, stored order first, new fields
    appended; same-name fields may WIDEN (int chain, float chain) —
    stored field metadata (column mapping ids, generation expressions)
    always survives a widen."""
    if not stored:
        return incoming
    a = json.loads(stored)
    b = json.loads(incoming)
    if a.get("type") != "struct" or b.get("type") != "struct":
        return incoming
    incoming_by_name = {f["name"]: f for f in b.get("fields", [])}
    fields = []
    for f in a.get("fields", []):
        inc = incoming_by_name.get(f["name"])
        if inc is not None and inc.get("type") != f.get("type"):
            f = dict(f, type=_merged_field_type(f.get("type"), inc.get("type"), f["name"]))
        fields.append(f)
    have = {f["name"] for f in fields}
    for f in b.get("fields", []):
        if f["name"] not in have:
            fields.append(f)
    if fields == a.get("fields"):
        # nothing merged: the logged string stays byte-equal (a re-dump
        # orders keys unlike Spark's schema.json, and a commit carrying
        # a different schemaString reads as a schema change)
        return stored
    return json.dumps({"type": "struct", "fields": fields}, separators=(",", ":"))


class CommitConflictError(FileExistsError):
    """Another writer claimed this log version first (optimistic
    concurrency): blind appends rebase and retry automatically; every
    other operation surfaces this so the caller re-runs against the new
    table state (real Delta's ConcurrentModificationException)."""


def _prev_in_commit_timestamp(log_dir: str, version: int) -> int | None:
    """The previous commit's ``inCommitTimestamp``, or None when the table
    has not enabled in-commit timestamps (spec: presence in the immediately
    preceding commit is the enablement signal for every later commit).

    If the previous commit expired at a log checkpoint, the
    ``_last_checkpoint`` sidecar's ``inCommitTimestampMs`` (written by
    ``checkpoint_log``) carries the chain across the expiry."""
    if version == 0:
        return None
    prev = os.path.join(log_dir, f"{version - 1:020d}.json")
    try:
        with open(prev) as handle:
            for line in handle:
                info = json.loads(line).get("commitInfo")
                if info is not None:
                    ict = info.get("inCommitTimestamp")
                    return int(ict) if ict is not None else None
        return None
    except OSError:
        try:
            with open(os.path.join(log_dir, "_last_checkpoint")) as handle:
                info = json.load(handle)
            ict = info.get("inCommitTimestampMs")
            return int(ict) if ict is not None else None
        except (OSError, ValueError):
            return None


def _write_commit(log_dir: str, version: int, actions: list[dict[str, Any]]) -> None:
    """Atomically claim ``version``: write a tmp file, then ``os.link`` it
    to the final name — link fails with EEXIST if ANY other writer claimed
    the version first (no exists-check TOCTOU window; the filesystem
    arbitrates exactly one winner, the same contract object stores give
    real Delta via put-if-absent).

    In-commit timestamps: when the previous commit carries one (the table
    enabled the feature), THIS commit's commitInfo is stamped with
    ``max(now, prev + 1)`` — the spec's monotonicity rule — right here at
    the single commit choke point, so every writer path (append, DML,
    OPTIMIZE, RESTORE) inherits it, including conflict-rebase retries
    which re-enter with a new version and re-read the new predecessor."""
    prev_ict = _prev_in_commit_timestamp(log_dir, version)
    if prev_ict is not None:
        ict = max(int(time.time() * 1000), prev_ict + 1)
        for action in actions:
            if "commitInfo" in action:
                action["commitInfo"]["inCommitTimestamp"] = ict
                break
        else:
            actions = [{"commitInfo": {"timestamp": ict, "inCommitTimestamp": ict}}] + actions
    path = os.path.join(log_dir, f"{version:020d}.json")
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as handle:
        for action in actions:
            handle.write(json.dumps(action, separators=(",", ":")) + "\n")
        handle.flush()
        os.fsync(handle.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflictError(
            f"delta log version {version} was committed by another writer: {path}"
        ) from None
    finally:
        os.unlink(tmp)


# PROTOCOL.md table features: name -> the (reader, writer) versions a
# legacy protocol needs for it.  Reader 3 / writer 7 mean the feature
# exists only in table-features form; a reader version above 1 makes it a
# reader-writer feature.
_FEATURE_VERSIONS = {
    "appendOnly": (1, 2),
    "invariants": (1, 2),
    "checkConstraints": (1, 3),
    "changeDataFeed": (1, 4),
    "generatedColumns": (1, 4),
    "columnMapping": (2, 5),
    "identityColumns": (1, 6),
    "deletionVectors": (3, 7),
    "domainMetadata": (1, 7),
    "inCommitTimestamp": (1, 7),
    "rowTracking": (1, 7),
}


def _protocol_upgrade(
    proto: dict[str, Any], features: set[str]
) -> dict[str, Any] | None:
    """The ``protocol`` action that adds ``features`` to ``proto``, or None
    when ``proto`` already supports them all — the one place an upgraded
    protocol is built.  It never lowers a version and never drops a
    feature.  A legacy protocol stays legacy while every feature has a
    legacy version; moving it to writer 7 (or reader 3) lists the features
    its old versions implied, which the spec requires."""
    r = proto.get("minReaderVersion", 1)
    w = proto.get("minWriterVersion", 2)

    def implied(rv: int, wv: int) -> set[str]:
        return {f for f, (fr, fw) in _FEATURE_VERSIONS.items() if fr <= rv and fw <= wv}

    writer = set(proto.get("writerFeatures") or []) if w >= 7 else implied(r, w)
    reader = (
        set(proto.get("readerFeatures") or [])
        if r >= 3
        else {f for f in implied(r, 6) if _FEATURE_VERSIONS[f][0] > 1}
    )
    if all(
        f in writer and (_FEATURE_VERSIONS[f][0] == 1 or f in reader)
        for f in features
    ):
        return None
    need_r = max(r, *(_FEATURE_VERSIONS[f][0] for f in features))
    need_w = max(w, *(_FEATURE_VERSIONS[f][1] for f in features))
    if need_r < 3 and need_w < 7:
        return {"minReaderVersion": need_r, "minWriterVersion": need_w}
    out: dict[str, Any] = {"minReaderVersion": need_r, "minWriterVersion": max(w, 7)}
    if need_r >= 3:
        reader |= {f for f in features if _FEATURE_VERSIONS[f][0] > 1}
        out["readerFeatures"] = sorted(reader)
    out["writerFeatures"] = sorted(writer | reader | features)
    return out


_STATS_MAX_STRING = 64  # longer strings: omit min/max (truncating a MAX
# string needs a round-UP increment to stay a valid upper bound — omitting
# is the fail-open alternative; nullCount/numRecords still recorded)


def _json_stat_value(v: Any):
    """Parquet footer stat -> JSON-able value usable for file skipping, or
    None when the type can't be compared safely across engines."""
    import datetime as _dt

    if isinstance(v, bool) or v is None:
        return None  # bool min/max is useless for skipping; keep it simple
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, bytes):
        try:
            v = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v if len(v) <= _STATS_MAX_STRING else None
    if isinstance(v, (_dt.datetime, _dt.date)):
        # recorded for humans/other readers; the pruner deliberately skips
        # temporal columns (ISO-vs-literal lexical compare is unsafe)
        return v.isoformat()
    return None


def _collect_file_stats(dest: str) -> str | None:
    """Per-file Delta data-skipping stats from the parquet footer:
    ``{"numRecords": N, "minValues": {...}, "maxValues": {...},
    "nullCount": {...}}`` (PROTOCOL.md Per-file Statistics).

    Footer-only (no data read), driver-side, O(row groups) per newly
    staged file — the jar-less equivalent of stats Delta collects during
    the write itself.  Nested columns and unsafe-to-compare values are
    omitted per column (readers fail open on missing stats)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(dest).metadata
    except Exception:
        return None
    ncols = md.num_columns
    mins: list[Any] = [None] * ncols
    maxs: list[Any] = [None] * ncols
    nulls: list[Any] = [0] * ncols
    ok_minmax = [True] * ncols
    names = [md.schema.column(i).path for i in range(ncols)]
    top_level = [("." not in n) for n in names]
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for i in range(ncols):
            st = group.column(i).statistics
            if st is None or st.null_count is None:
                nulls[i] = None
            elif nulls[i] is not None:
                nulls[i] += st.null_count
            if not (st is not None and st.has_min_max):
                ok_minmax[i] = False
                continue
            try:
                lo, hi = _json_stat_value(st.min), _json_stat_value(st.max)
            except pa.ArrowException:
                # pyarrow cannot decode some physical/logical pairs (e.g.
                # Spark's INT32/INT64-backed decimals): no min/max for this
                # column, the same fail-open as an unsafe-to-compare value
                lo = hi = None
            if lo is None or hi is None:
                ok_minmax[i] = False
                continue
            mins[i] = lo if mins[i] is None else min(mins[i], lo)
            maxs[i] = hi if maxs[i] is None else max(maxs[i], hi)
    stats: dict[str, Any] = {
        "numRecords": md.num_rows,
        "minValues": {},
        "maxValues": {},
        "nullCount": {},
    }
    for i in range(ncols):
        if not top_level[i]:
            continue
        if nulls[i] is not None:
            stats["nullCount"][names[i]] = nulls[i]
        if ok_minmax[i] and mins[i] is not None:
            stats["minValues"][names[i]] = mins[i]
            stats["maxValues"][names[i]] = maxs[i]
    return json.dumps(stats, separators=(",", ":"))


def _stage_data_files(
    df: DataFrame,
    table_path: str,
    partition_by: list[str] | None = None,
    mapping: dict[str, str] | None = None,
) -> list[dict[str, Any]]:
    """Write ``df`` as parquet parts and move them into the table dir under
    unique names; returns add-action payloads (path, size, modificationTime,
    stats).

    With ``partition_by``, parts are written through Spark's Hive-style
    ``partitionBy`` and moved PRESERVING the ``col=value/`` directory
    layout; each add action carries the parsed ``partitionValues`` map
    (Delta spec) so log readers can partition-prune without listing.

    ``mapping`` (logical -> physical, column-mapped tables) renames the
    frame before writing so parquet columns, footer-derived stats keys,
    and partitionValues keys all carry PHYSICAL names per PROTOCOL.md;
    ``partition_by`` arrives logical and is translated here.

    A frame whose plan bounds it to no rows (``df.limit(0)``, e.g. the
    rewrite of a deletion-vector-only DELETE) stages nothing and runs no
    job."""
    from urllib.parse import unquote

    max_rows = df._jdf.queryExecution().analyzed().maxRows()  # noqa: SLF001
    if max_rows.isDefined() and max_rows.get() == 0:
        return []
    if mapping:
        df = _to_physical(df, mapping)
        if partition_by:
            partition_by = [mapping.get(c, c) for c in partition_by]
    staging = os.path.join(table_path, f".staging-{uuid.uuid4().hex}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    adds = []
    try:
        for root, _dirs, files in os.walk(staging):
            rel_dir = os.path.relpath(root, staging)
            if rel_dir == ".":
                part_values: dict[str, str] = {}
            else:
                segs = rel_dir.split(os.sep)
                if not all("=" in s for s in segs):
                    continue  # not a partition dir (e.g. _temporary)
                part_values = {
                    k: unquote(v)
                    for k, v in (s.split("=", 1) for s in segs)
                }
            for name in sorted(files):
                if not name.endswith(".parquet"):
                    continue
                staged = os.path.join(root, name)
                stats = _collect_file_stats(staged)
                if stats is not None and json.loads(stats)["numRecords"] == 0:
                    continue  # empty shuffle part: logging it just bloats
                    # the snapshot (and every future replay) for zero rows
                unique = f"part-{uuid.uuid4().hex}.parquet"
                rel_path = unique if rel_dir == "." else f"{rel_dir}/{unique}"
                dest = os.path.join(table_path, rel_path)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                shutil.move(staged, dest)
                st = os.stat(dest)
                add = {
                    "path": rel_path,
                    "partitionValues": part_values,
                    "size": st.st_size,
                    "modificationTime": int(st.st_mtime * 1000),
                    "dataChange": True,
                }
                if stats is not None:
                    add["stats"] = stats
                adds.append(add)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return adds


def _stage_cdc_files(
    cdc_df: DataFrame,
    table_path: str,
    mapping: dict[str, str] | None = None,
) -> list[dict[str, Any]]:
    """Write change rows (carrying ``_change_type``) under ``_change_data/``;
    returns cdc-action payloads.  On column-mapped tables, data columns
    stage under PHYSICAL names (the CDF columns ``_change_type`` /
    ``_commit_*`` are not table columns and stay as-is); the streaming
    CDF reader renames back through the same mapping."""
    if mapping:
        cdc_df = cdc_df.select(
            *[F.col(f"`{c}`").alias(mapping.get(c, c)) for c in cdc_df.columns]
        )
    staging = os.path.join(table_path, f".cdc-staging-{uuid.uuid4().hex}")
    cdc_df.write.mode("overwrite").parquet(staging)
    cdc_dir = os.path.join(table_path, "_change_data")
    os.makedirs(cdc_dir, exist_ok=True)
    actions = []
    try:
        for name in sorted(os.listdir(staging)):
            if not name.endswith(".parquet"):
                continue
            unique = f"cdc-{uuid.uuid4().hex}.parquet"
            dest = os.path.join(cdc_dir, unique)
            shutil.move(os.path.join(staging, name), dest)
            actions.append(
                {
                    "path": f"_change_data/{unique}",
                    "partitionValues": {},
                    "size": os.path.getsize(dest),
                    "dataChange": False,
                }
            )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return actions


CHECKPOINT_INTERVAL = 10  # real Delta's delta.checkpointInterval default

CONSTRAINT_PREFIX = "delta.constraints."  # PROTOCOL.md CHECK constraint keys

# Upper bound on deleted-row positions collected to the driver per DELETE:
# files beyond the budget fall back to copy-on-write (smallest hit-counts
# get the metadata-only route first).
DV_GLOBAL_POSITION_BUDGET = 1_000_000

GENERATION_KEY = "delta.generationExpression"  # PROTOCOL.md generated columns

# PROTOCOL.md identity columns (writer version 6): generation state lives in
# field metadata; the high watermark advances with every generating commit
IDENTITY_START_KEY = "delta.identity.start"
IDENTITY_STEP_KEY = "delta.identity.step"
IDENTITY_HWM_KEY = "delta.identity.highWaterMark"
IDENTITY_ALLOW_KEY = "delta.identity.allowExplicitInsert"

# PROTOCOL.md in-commit timestamps (writerFeatures "inCommitTimestamp"):
# commit time recorded INSIDE commitInfo, monotonically increasing — file
# modification times shift under log copy/restore, ICTs don't
ICT_ENABLE_KEY = "delta.enableInCommitTimestamps"
ICT_VERSION_KEY = "delta.inCommitTimestampEnablementVersion"
ICT_TIMESTAMP_KEY = "delta.inCommitTimestampEnablementTimestamp"

# PROTOCOL.md row tracking (writerFeatures "rowTracking" + "domainMetadata"):
# every add action carries baseRowId/defaultRowCommitVersion; the fresh
# row id of physical row i in a file is baseRowId + i, and the allocation
# high watermark lives in the delta.rowTracking domain metadata
ROW_TRACKING_ENABLE_KEY = "delta.enableRowTracking"
ROW_TRACKING_DOMAIN = "delta.rowTracking"
# spec: rewrites (OPTIMIZE) preserve row ids by MATERIALIZING them into
# hidden physical columns whose names the table configuration records;
# readers take coalesce(materialized, baseRowId + row_index)
ROW_ID_COL_KEY = "delta.rowTracking.materializedRowIdColumnName"
ROW_CV_COL_KEY = "delta.rowTracking.materializedRowCommitVersionColumnName"
ROW_ID_COL_DEFAULT = "_materialized_row_id"
ROW_CV_COL_DEFAULT = "_materialized_row_commit_version"


def _materialized_row_cols(meta: dict[str, Any] | None) -> tuple[str, str]:
    conf = (meta or {}).get("configuration") or {}
    return (
        conf.get(ROW_ID_COL_KEY, ROW_ID_COL_DEFAULT),
        conf.get(ROW_CV_COL_KEY, ROW_CV_COL_DEFAULT),
    )


def _fresh_row_col_names(existing: set[str]) -> tuple[str, str]:
    """Materialized column names that cannot collide with the table's own
    schema (a user column literally named ``_materialized_row_id`` would
    otherwise duplicate in the row-ids scan schema and brick every read
    and DML on the table — real Delta uses uuid-suffixed names for the
    same reason)."""
    rid, rcv = ROW_ID_COL_DEFAULT, ROW_CV_COL_DEFAULT
    if rid in existing or rcv in existing:
        suffix = uuid.uuid4().hex[:8]
        rid, rcv = f"{rid}_{suffix}", f"{rcv}_{suffix}"
    return rid, rcv

# PROTOCOL.md column mapping: logical names live only in the schemaString;
# parquet files, stats keys, and partitionValues keys use per-field
# physical names so renames/drops are metadata-only commits
CM_MODE_KEY = "delta.columnMapping.mode"
CM_MAX_ID_KEY = "delta.columnMapping.maxColumnId"
CM_ID_KEY = "delta.columnMapping.id"
CM_PHYS_KEY = "delta.columnMapping.physicalName"


def _column_mapping(meta: dict[str, Any] | None) -> dict[str, str] | None:
    """Logical -> physical column-name map when the table runs column
    mapping in ``name`` mode; ``None`` for unmapped tables.  ``id`` mode
    (field resolution by parquet field-id) is refused — misreading by
    name against an id-mode table would silently misbind columns."""
    if not meta:
        return None
    mode = (meta.get("configuration") or {}).get(CM_MODE_KEY, "none")
    if mode in ("none", None, ""):
        return None
    if mode != "name":
        raise ValueError(
            f"column mapping mode {mode!r} is not implemented (only 'name'); "
            f"use delta-spark for this table"
        )
    parsed = json.loads(meta["schemaString"])
    return {
        f["name"]: (f.get("metadata") or {}).get(CM_PHYS_KEY, f["name"])
        for f in parsed.get("fields", [])
    }


def _to_physical(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    return df.select(
        *[F.col(f"`{c}`").alias(mapping.get(c, c)) for c in df.columns]
    )


def _assign_mapping_ids(
    schema_str: str, config: dict[str, str]
) -> tuple[str, dict[str, str]]:
    """Give every field WITHOUT mapping metadata a fresh id + physical
    name (``col-<uuid>`` like the jar) and bump maxColumnId — the schema-
    evolution companion for mapped tables."""
    parsed = json.loads(schema_str)
    max_id = int(config.get(CM_MAX_ID_KEY, "0"))
    changed = False
    for f in parsed.get("fields", []):
        md = dict(f.get("metadata") or {})
        if CM_PHYS_KEY not in md:
            max_id += 1
            md[CM_ID_KEY] = max_id
            md[CM_PHYS_KEY] = f"col-{uuid.uuid4()}"
            f["metadata"] = md
            changed = True
    if not changed:
        return schema_str, config
    new_config = dict(config)
    new_config[CM_MAX_ID_KEY] = str(max_id)
    return json.dumps(parsed, separators=(",", ":")), new_config


def set_table_properties(table_path: str, props: dict[str, str]) -> None:
    """``ALTER TABLE SET TBLPROPERTIES``: commit a metaData update with
    the given configuration keys merged in (e.g.
    ``{"delta.enableDeletionVectors": "true"}``)."""
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    meta = log.table_metadata() or {}
    if props.get(CM_MODE_KEY):
        raise ValueError(
            "set column mapping through enable_column_mapping(table_path) — "
            "it also assigns field ids/physical names and bumps the protocol"
        )
    if (set(props) & {ROW_ID_COL_KEY, ROW_CV_COL_KEY}) and _row_tracking_enabled(
        meta
    ):
        # files already materialized ids under the CURRENT names; renaming
        # the config key makes the reader's coalesce miss them and silently
        # reassign every preserved row id
        raise ValueError(
            "the materialized row-id column names are fixed once row "
            "tracking is enabled — files already carry ids under the "
            "current names"
        )
    conf = dict(meta.get("configuration") or {})
    conf.update(props)
    actions = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "SET TBLPROPERTIES",
                "operationParameters": {"properties": json.dumps(props)},
            }
        },
        {"metaData": {**meta, "configuration": conf}},
    ]
    _write_commit(os.path.join(table_path, LOG_DIR), latest + 1, actions)


def enable_in_commit_timestamps(table_path: str) -> int:
    """Enable PROTOCOL.md in-commit timestamps: from this commit on, every
    commit's ``commitInfo`` carries a monotonically-increasing
    ``inCommitTimestamp`` (``max(now, prev + 1)``) that time travel and
    CDF ordering use instead of file modification times — mod-times shift
    under log copy, backup restore, or filesystem migration; ICTs are part
    of the commit content and survive all three.

    Writes one commit: the protocol gains the writer feature
    ``inCommitTimestamp`` (``_protocol_upgrade``; no protocol action when
    it already has it), metaData configuration gains
    ``delta.enableInCommitTimestamps`` plus the two enablement-provenance
    keys the spec requires when the feature turns on AFTER table creation
    (timestamps before the enablement version still resolve by the old
    rule).  Returns the enablement version.  Stamping for every LATER
    commit happens inside ``_write_commit`` (the single choke point), so
    all writer paths inherit the feature with no per-path code.
    """
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    meta = log.table_metadata() or {}
    conf = dict(meta.get("configuration") or {})
    if conf.get(ICT_ENABLE_KEY) == "true":
        return latest  # already on; stamping is self-sustaining
    version = latest + 1
    now_ms = int(time.time() * 1000)
    # first ICT: still monotone vs the pre-enablement commit's wall time
    ict = max(now_ms, log.commit_timestamp_ms(latest) + 1)
    conf[ICT_ENABLE_KEY] = "true"
    conf[ICT_VERSION_KEY] = str(version)
    conf[ICT_TIMESTAMP_KEY] = str(ict)
    proto = _protocol_upgrade(log.protocol() or {}, {"inCommitTimestamp"})
    actions: list[dict[str, Any]] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "inCommitTimestamp": ict,
                "operation": "SET TBLPROPERTIES",
                "operationParameters": {
                    "properties": json.dumps({ICT_ENABLE_KEY: "true"})
                },
            }
        },
        *([{"protocol": proto}] if proto else []),
        {"metaData": {**meta, "configuration": conf}},
    ]
    _write_commit(os.path.join(table_path, LOG_DIR), version, actions)
    return version


def _row_tracking_enabled(meta: dict[str, Any] | None) -> bool:
    return bool(
        meta
        and (meta.get("configuration") or {}).get(ROW_TRACKING_ENABLE_KEY)
        == "true"
    )


def _row_id_hwm(log: DeltaLog) -> int:
    """Current row-id high watermark from the ``delta.rowTracking`` domain
    metadata; -1 on a table that never allocated (spec initial value).
    A PRESENT-but-unparseable domain raises: silently restarting from -1
    would hand out row ids that live files already occupy — corrupting
    exactly the stable-id contract the feature exists to provide."""
    raw = log.domain_metadata().get(ROW_TRACKING_DOMAIN)
    if raw is None:
        return -1
    try:
        return int(json.loads(raw)["rowIdHighWaterMark"])
    except (ValueError, KeyError, TypeError) as exc:
        raise ValueError(
            f"corrupt {ROW_TRACKING_DOMAIN} domain metadata ({raw!r}); "
            "refusing to reallocate row ids from -1"
        ) from exc


def _add_num_records(table_path: str, add: dict[str, Any]) -> int:
    """Physical row count of an add's file — from its logged stats when
    present, else one driver-side parquet FOOTER read (metadata only, no
    data pages; the analyze_table pattern)."""
    stats = add.get("stats")
    if stats:
        try:
            return int(json.loads(stats)["numRecords"])
        except (ValueError, KeyError, TypeError):
            pass
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(table_path, add["path"])).metadata.num_rows


def _stamp_row_ids(
    table_path: str, adds: list[dict[str, Any]], hwm: int, version: int
) -> int:
    """Assign ``baseRowId``/``defaultRowCommitVersion`` to staged adds from
    watermark ``hwm``; returns the new watermark.  Allocation is a driver-
    side metadata walk over the BATCH's file list (no data IO — counts come
    from the stats the stage step already collected)."""
    for add in adds:
        n = _add_num_records(table_path, add)
        add["baseRowId"] = hwm + 1
        add["defaultRowCommitVersion"] = version
        hwm += n
    return hwm


def _row_tracking_domain_action(hwm: int) -> dict[str, Any]:
    return {
        "domainMetadata": {
            "domain": ROW_TRACKING_DOMAIN,
            "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
            "removed": False,
        }
    }


def enable_row_tracking(table_path: str) -> int:
    """Enable PROTOCOL.md row tracking: every data file gets a
    ``baseRowId`` + ``defaultRowCommitVersion``, giving each physical row
    the stable fresh row id ``baseRowId + row_index`` — the substrate for
    CDC correlation and incremental materialized-view maintenance (a row
    keeps its id for as long as its file lives; deletion-vector DELETEs
    preserve ids because surviving rows keep their positions).

    Writes ONE commit: the protocol gains the writer features
    ``rowTracking`` and ``domainMetadata`` (``_protocol_upgrade``; the
    spec makes row tracking depend on domain metadata), table
    configuration gains ``delta.enableRowTracking``, every EXISTING active
    file is re-committed with a freshly-allocated ``baseRowId``
    (``dataChange: false`` — the backfill real Delta's ALTER does), and a
    ``delta.rowTracking`` domain-metadata action records the new high
    watermark.  Returns the enablement version.

    Later appends allocate past the watermark inside
    ``write_delta_fallback``; OPTIMIZE preserves ids by MATERIALIZING them
    into the hidden columns the configuration names (readers coalesce
    those before ``baseRowId + row_index``), and copy-on-write DELETE and
    UPDATE preserve the same way (UPDATE also advances the materialized
    commit version on rows it touched); MERGE preserves rewritten rows'
    ids and allocates fresh ones for inserted rows; RESTORE is safe (it
    re-commits prior add payloads verbatim, ids included).
    """
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    meta = log.table_metadata() or {}
    conf = dict(meta.get("configuration") or {})
    if conf.get(ROW_TRACKING_ENABLE_KEY) == "true":
        return latest
    version = latest + 1
    conf[ROW_TRACKING_ENABLE_KEY] = "true"
    rid_name, rcv_name = _fresh_row_col_names(
        {f["name"] for f in json.loads(meta["schemaString"])["fields"]}
    )
    conf.setdefault(ROW_ID_COL_KEY, rid_name)
    conf.setdefault(ROW_CV_COL_KEY, rcv_name)
    proto = _protocol_upgrade(
        log.protocol() or {}, {"rowTracking", "domainMetadata"}
    )
    actions: list[dict[str, Any]] = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "SET TBLPROPERTIES",
                "operationParameters": {
                    "properties": json.dumps({ROW_TRACKING_ENABLE_KEY: "true"})
                },
            }
        },
        *([{"protocol": proto}] if proto else []),
        {"metaData": {**meta, "configuration": conf}},
    ]
    hwm = _row_id_hwm(log)
    backfill = [
        dict(a)
        for a in log.snapshot_files(latest)
        if a.get("baseRowId") is None
    ]
    for add in backfill:
        add.pop("commit_version", None)  # replay-injected, not an action field
        add["dataChange"] = False
    hwm = _stamp_row_ids(table_path, backfill, hwm, version)
    actions.extend({"add": a} for a in backfill)
    actions.append(_row_tracking_domain_action(hwm))
    _write_commit(os.path.join(table_path, LOG_DIR), version, actions)
    return version


def _expr_references(expr: str, column: str) -> bool:
    """Word-boundary check: does a stored SQL expression reference the
    column?  (Conservative — a false positive merely blocks a rename.)"""
    return bool(
        re.search(rf"(?<![A-Za-z0-9_`]){re.escape(column)}(?![A-Za-z0-9_])", expr)
    )


def enable_column_mapping(table_path: str) -> int:
    """``ALTER TABLE ... SET TBLPROPERTIES ('delta.columnMapping.mode' =
    'name')`` the way the jar does it: every existing field gets a stable
    column id and a physical name EQUAL to its current logical name (so
    every already-written file stays readable), configuration records the
    mode + maxColumnId, and the protocol gains ``columnMapping``
    (``_protocol_upgrade``: reader v2 / writer v5 on a legacy protocol,
    PROTOCOL.md's column-mapping minimums).  From then on renames and
    drops are metadata-only commits and new columns stage under
    ``col-<uuid>`` physical names.

    Composes with change data feed: cdc files stage under physical names
    like data files, and the streaming CDF reader renames them back.
    Returns the commit version."""
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    meta = log.table_metadata() or {}
    conf = dict(meta.get("configuration") or {})
    mode = conf.get(CM_MODE_KEY, "none")
    if mode == "name":
        return latest  # idempotent
    if mode not in ("none", "", None):
        raise ValueError(f"table already uses column mapping mode {mode!r}")
    parsed = json.loads(meta["schemaString"])
    for i, f in enumerate(parsed.get("fields", []), start=1):
        md = dict(f.get("metadata") or {})
        md[CM_ID_KEY] = i
        md[CM_PHYS_KEY] = f["name"]  # upgrade: physical = current logical
        f["metadata"] = md
    conf[CM_MODE_KEY] = "name"
    conf[CM_MAX_ID_KEY] = str(len(parsed.get("fields", [])))
    proto = _protocol_upgrade(log.protocol() or {}, {"columnMapping"})
    actions: list[dict[str, Any]] = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "SET TBLPROPERTIES",
                "operationParameters": {
                    "properties": json.dumps({CM_MODE_KEY: "name"})
                },
            }
        },
        *([{"protocol": proto}] if proto else []),
    ]
    actions.append(
        {
            "metaData": {
                **meta,
                "schemaString": json.dumps(parsed, separators=(",", ":")),
                "configuration": conf,
            }
        }
    )
    version = latest + 1
    _write_commit(os.path.join(table_path, LOG_DIR), version, actions)
    return version


def rename_column(table_path: str, old: str, new: str) -> int:
    """``ALTER TABLE ... RENAME COLUMN`` as a METADATA-ONLY commit —
    requires column mapping (``enable_column_mapping``); the physical
    name and column id never change, so no data file is rewritten and
    time travel to pre-rename versions still shows the old name.

    Refused when a CHECK constraint or generation expression references
    the column (real Delta's rule — the stored expression text would
    silently stop binding).  Partition columns rename cleanly: the
    logical ``partitionColumns`` list updates, directories keep the
    physical name."""
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    meta = log.table_metadata() or {}
    if _column_mapping(meta) is None:
        raise ValueError(
            "RENAME COLUMN requires column mapping; call "
            "enable_column_mapping(table_path) first"
        )
    parsed = json.loads(meta["schemaString"])
    names = [f["name"] for f in parsed.get("fields", [])]
    if old not in names:
        raise ValueError(f"no such column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    for cname, expr in _check_constraints(meta).items():
        if _expr_references(expr, old):
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraint "
                f"{cname!r} ({expr}); drop the constraint first"
            )
    for gcol, expr in _generated_columns(meta).items():
        if gcol == old or _expr_references(expr, old):
            raise ValueError(
                f"column {old!r} participates in generated column {gcol!r} "
                f"({expr}); renames would unbind the stored expression"
            )
    for f in parsed["fields"]:
        if f["name"] == old:
            f["name"] = new
    part_cols = [
        new if c == old else c for c in (meta.get("partitionColumns") or [])
    ]
    actions = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "RENAME COLUMN",
                "operationParameters": {"oldName": old, "newName": new},
            }
        },
        {
            "metaData": {
                **meta,
                "schemaString": json.dumps(parsed, separators=(",", ":")),
                "partitionColumns": part_cols,
            }
        },
    ]
    version = latest + 1
    _write_commit(os.path.join(table_path, LOG_DIR), version, actions)
    return version


def drop_column(table_path: str, name: str) -> int:
    """``ALTER TABLE ... DROP COLUMN`` as a METADATA-ONLY commit (needs
    column mapping).  The physical column stays in the parquet files —
    readers simply never project it — and time travel to pre-drop
    versions still sees it; that is exactly real Delta's contract.
    Partition columns and columns referenced by constraints / generation
    expressions are refused."""
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    meta = log.table_metadata() or {}
    if _column_mapping(meta) is None:
        raise ValueError(
            "DROP COLUMN without a rewrite requires column mapping; call "
            "enable_column_mapping(table_path) first"
        )
    parsed = json.loads(meta["schemaString"])
    names = [f["name"] for f in parsed.get("fields", [])]
    if name not in names:
        raise ValueError(f"no such column {name!r} (have {names})")
    if len(names) == 1:
        raise ValueError("cannot drop the only column")
    if name in (meta.get("partitionColumns") or []):
        raise ValueError(f"{name!r} is a partition column; repartition instead")
    for cname, expr in _check_constraints(meta).items():
        if _expr_references(expr, name):
            raise ValueError(
                f"column {name!r} is referenced by CHECK constraint "
                f"{cname!r} ({expr}); drop the constraint first"
            )
    for gcol, expr in _generated_columns(meta).items():
        if gcol == name or _expr_references(expr, name):
            raise ValueError(
                f"column {name!r} participates in generated column {gcol!r} "
                f"({expr})"
            )
    parsed["fields"] = [f for f in parsed["fields"] if f["name"] != name]
    actions = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "DROP COLUMNS",
                "operationParameters": {"columns": json.dumps([name])},
            }
        },
        {
            "metaData": {
                **meta,
                "schemaString": json.dumps(parsed, separators=(",", ":")),
            }
        },
    ]
    version = latest + 1
    _write_commit(os.path.join(table_path, LOG_DIR), version, actions)
    return version


def _generated_columns(meta: dict[str, Any] | None) -> dict[str, str]:
    """name -> SQL expression for every generated column in the logged
    schema (stored as field metadata, real Delta's location)."""
    if not meta or not meta.get("schemaString"):
        return {}
    out = {}
    for f in json.loads(meta["schemaString"]).get("fields", []):
        expr = (f.get("metadata") or {}).get(GENERATION_KEY)
        if expr:
            out[f["name"]] = expr
    return out


def _apply_generated_columns(
    df: DataFrame, gen_exprs: dict[str, str], *, carried: bool = False
) -> DataFrame:
    """Compute missing generated columns; VALIDATE explicitly-provided ones
    (a provided value that disagrees with its expression is rejected, the
    same contract the jar enforces — silently accepting it would corrupt
    partition pruning on the generated column).

    In a file-selective rewrite (``carried``) a provided column holds the
    rows' stored values instead: non-null ones stay as they are, so an
    expression that reads a session setting (``CAST(ts AS DATE)`` under
    another ``spark.sql.session.timeZone``) cannot change an untouched
    row, and only nulls (rows the rewrite inserts or changes) compute.
    The callers check the values they were given, not the ones they
    carry, and nothing here runs a job."""
    from ..errors import ConstraintViolationError

    for name, expr in gen_exprs.items():
        if name not in df.columns:
            df = df.withColumn(name, F.expr(expr))
            continue
        if carried:
            df = df.withColumn(name, F.coalesce(F.col(name), F.expr(expr)))
            continue
        bad = df.filter(
            ~F.col(name).eqNullSafe(F.expr(expr))
        ).take(1)
        if bad:
            raise ConstraintViolationError(
                f"generated column {name} = {expr} disagrees with the "
                f"provided value, e.g. row {bad[0].asDict()}"
            )
    return df


def _identity_columns(meta: dict[str, Any] | None) -> dict[str, dict[str, Any]]:
    """name -> {start, step, hwm, allow} for every identity column in the
    logged schema (PROTOCOL.md: state lives in field metadata; ``hwm`` is
    None until the first generating commit records one)."""
    if not meta or not meta.get("schemaString"):
        return {}
    out: dict[str, dict[str, Any]] = {}
    for f in json.loads(meta["schemaString"]).get("fields", []):
        md = f.get("metadata") or {}
        if IDENTITY_START_KEY in md:
            hwm = md.get(IDENTITY_HWM_KEY)
            out[f["name"]] = {
                "start": int(md[IDENTITY_START_KEY]),
                "step": int(md.get(IDENTITY_STEP_KEY, 1)),
                "hwm": int(hwm) if hwm is not None else None,
                "allow": bool(md.get(IDENTITY_ALLOW_KEY, False)),
            }
    return out


def _reject_explicit_identity(
    columns: list[str], idents: dict[str, dict[str, Any]]
) -> None:
    """A provided identity column is legal only when the field was declared
    ``allowExplicitInsert`` (GENERATED BY DEFAULT); GENERATED ALWAYS
    rejects it, matching the jar."""
    for name, spec in idents.items():
        if name in columns and not spec["allow"]:
            raise ValueError(
                f"identity column {name!r} is GENERATED ALWAYS — remove "
                f"it from the batch, or declare it with "
                f"allow_explicit_insert=True"
            )


def _apply_identity_columns(
    df: DataFrame, idents: dict[str, dict[str, Any]], *, carried: bool = False
) -> tuple[DataFrame, list[str]]:
    """Generate absent identity columns; returns (df, generated names).

    Values are ``base + monotonically_increasing_id() · step`` with
    ``base = hwm + step`` (or ``start`` on first generation): unique,
    congruent to ``start (mod step)``, strictly past the high watermark in
    the step's direction — everything the spec requires.  The spec
    explicitly allows GAPS, which is what makes this one distributed
    map-side expression instead of a global row_number sort: partition k's
    ids start at ``k·2³³``, so watermarks advance by ~#partitions·2³³ per
    commit, a spend of the 63-bit space that sustains tens of millions of
    appends (the same block-reservation trade real Delta makes).

    A PROVIDED identity column passes through per
    ``_reject_explicit_identity``.  In a file-selective rewrite
    (``carried``) the column holds the rows' stored values instead: those
    stay, and a null (a row the rewrite inserts) generates as above.  Its
    callers reject GENERATED ALWAYS values in the rows they were given.
    """
    if not carried:
        _reject_explicit_identity(df.columns, idents)
    generated: list[str] = []
    for name, spec in idents.items():
        if name in df.columns and not carried:
            continue
        step = spec["step"]
        base = spec["start"] if spec["hwm"] is None else spec["hwm"] + step
        fresh = (
            F.lit(base) + F.monotonically_increasing_id() * F.lit(step)
        ).cast("long")
        if name in df.columns:
            fresh = F.coalesce(F.col(name), fresh)
        df = df.withColumn(name, fresh)
        generated.append(name)
    return df, generated


def _identity_hwm_from_adds(
    adds: list[dict[str, Any]], name: str, step: int
) -> int | None:
    """New high watermark for a generated identity column, read from the
    add actions' ALREADY-COLLECTED file stats (max for positive step, min
    for negative) — no extra job over the data."""
    best: int | None = None
    for add in adds:
        stats = add.get("stats")
        if not stats:
            return None  # fall back to an agg job at the call site
        parsed = json.loads(stats)
        side = parsed.get("maxValues" if step > 0 else "minValues") or {}
        if name not in side:
            if parsed.get("numRecords") == 0:
                continue
            return None
        v = int(side[name])
        if best is None or (v > best if step > 0 else v < best):
            best = v
    return best


def _set_identity_hwm(schema_str: str, hwms: dict[str, int]) -> str:
    """schemaString with each identity field's high watermark replaced."""
    parsed = json.loads(schema_str)
    for f in parsed.get("fields", []):
        if f["name"] in hwms:
            md = dict(f.get("metadata") or {})
            md[IDENTITY_HWM_KEY] = hwms[f["name"]]
            f["metadata"] = md
    return json.dumps(parsed, separators=(",", ":"))


def _check_constraints(meta: dict[str, Any] | None) -> dict[str, str]:
    """name -> SQL expression for every CHECK constraint in the table's
    ``metaData.configuration`` (real Delta's storage location for them)."""
    conf = (meta or {}).get("configuration") or {}
    return {
        k[len(CONSTRAINT_PREFIX):]: v
        for k, v in conf.items()
        if k.startswith(CONSTRAINT_PREFIX)
    }


def _enforce_constraints(df: DataFrame, constraints: dict[str, str]) -> None:
    """Fail the write if any row violates any CHECK constraint.

    SQL CHECK semantics: a row violates only when the expression is FALSE
    (NULL passes).  Happy path costs ONE extra job over the input — a
    single filter on the OR of all negated constraints with ``take(1)``;
    the per-constraint re-check runs only on failure, to name the culprit.
    """
    from pyspark.sql import functions as F

    from ..errors import ConstraintViolationError

    def violated(expr: str):
        return ~F.coalesce(F.expr(expr), F.lit(True))

    any_bad = None
    for expr in constraints.values():
        term = violated(expr)
        any_bad = term if any_bad is None else (any_bad | term)
    try:
        bad = df.filter(any_bad).take(1)
    except Exception as exc:  # e.g. constraint references a missing column
        raise ConstraintViolationError(
            f"CHECK constraints {sorted(constraints)} could not be evaluated "
            f"against the incoming batch: {exc}"
        ) from exc
    if not bad:
        return
    row = bad[0].asDict()
    for name, expr in constraints.items():
        if df.filter(violated(expr)).take(1):
            raise ConstraintViolationError(
                f"CHECK constraint {name} ({expr}) violated, e.g. by row {row}"
            )
    raise ConstraintViolationError(
        f"CHECK constraint violated, e.g. by row {row}"
    )


def add_check_constraint(
    spark: SparkSession, table_path: str, name: str, expr: str
) -> None:
    """``ALTER TABLE ADD CONSTRAINT`` for the jar-less path: validates the
    EXISTING data first (full-table check, same as real Delta), then
    commits a metaData update carrying ``delta.constraints.<name>``, with
    the ``checkConstraints`` feature added to the protocol when it lacks it
    (``_protocol_upgrade``: writer 3 on a legacy table below it, nothing
    lowered or dropped).  Every later ``write_delta_fallback`` enforces
    it."""
    if not name or not name.replace("_", "").isalnum():
        raise ValueError(f"constraint name must be alphanumeric/_: {name!r}")
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    meta = log.table_metadata() or {}
    existing = _check_constraints(meta)
    if name in existing:
        raise ValueError(
            f"constraint {name} already exists ({existing[name]!r}); drop it first"
        )
    _enforce_constraints(
        read_delta_fallback(spark, table_path), {name: expr}
    )
    conf = dict(meta.get("configuration") or {})
    conf[CONSTRAINT_PREFIX + name] = expr
    proto = _protocol_upgrade(log.protocol() or {}, {"checkConstraints"})
    actions = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "ADD CONSTRAINT",
                "operationParameters": {"name": name, "expr": expr},
            }
        },
        *([{"protocol": proto}] if proto else []),
        {"metaData": {**meta, "configuration": conf}},
    ]
    _write_commit(os.path.join(table_path, LOG_DIR), latest + 1, actions)


def drop_check_constraint(table_path: str, name: str) -> None:
    """``ALTER TABLE DROP CONSTRAINT``: commits a metaData update without
    the named constraint; unknown names raise (matching the jar)."""
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    meta = log.table_metadata() or {}
    conf = dict(meta.get("configuration") or {})
    if CONSTRAINT_PREFIX + name not in conf:
        raise ValueError(f"no such constraint: {name}")
    del conf[CONSTRAINT_PREFIX + name]
    actions = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "DROP CONSTRAINT",
                "operationParameters": {"name": name},
            }
        },
        {"metaData": {**meta, "configuration": conf}},
    ]
    _write_commit(os.path.join(table_path, LOG_DIR), latest + 1, actions)


def write_delta_fallback(
    df: DataFrame,
    table_path: str,
    *,
    mode: str = "append",
    cdc_df: DataFrame | None = None,
    checkpoint_interval: int | None = CHECKPOINT_INTERVAL,
    partition_by: list[str] | None = None,
    generated_columns: dict[str, str] | None = None,
    identity_columns: dict[str, dict[str, Any]] | None = None,
    row_tracking: bool = False,
    user_metadata: str | None = None,
    domain_metadata: dict[str, str] | None = None,
    remove_paths: set[str] | None = None,
    read_version: int | None = None,
    operation: tuple[str, dict[str, Any]] | None = None,
    deletion_vectors: dict[str, list[int]] | None = None,
) -> int:
    """Append/overwrite ``df`` into a log-backed Delta table (no jar needed);
    returns the committed version.

    ``cdc_df`` (rows with a ``_change_type`` column) is written as this
    commit's change-data files — downstream ``read_change_feed`` sources
    then see the precise changes instead of erroring on the rewrite.

    ``remove_paths`` limits an overwrite's ``remove`` set to those snapshot
    files (default: every file); the rest of the snapshot stays live beside
    ``df``.  It is the one commit path of every jar-less rewrite, so all
    of them share the checks of a full overwrite: ``apply_cdc_table``'s merge,
    ``refresh_agg_mv``'s fold, ``merge_into``, ``update_where``,
    ``delete_where`` and ``compact_fallback`` (an empty set commits ``df``
    as pure inserts).  A listed path that is no longer live raises
    ``CommitConflictError``: a concurrent commit removed a file the caller
    read.  A rewrite carries the values it does not change:

    - on a row-tracked table, ``_row_id`` / ``_row_commit_version``
      columns in ``df`` (as ``key_range_candidates`` loads them) keep those
      rows' ids and commit versions; a null id gets a fresh one, a null
      version this commit's;
    - identity columns keep their non-null values (the rows' stored ids)
      and generate the nulls past the high watermark;
    - generated columns keep their non-null values and compute the nulls
      and absent columns (``_apply_generated_columns``), so a stored value
      never changes under a session setting the expression reads.

    Provided values are validated only in appends and full overwrites; in
    a rewrite the caller checks the rows it was given (GENERATED ALWAYS
    identity values, generated values), not the rows it carries.

    ``deletion_vectors`` (with ``remove_paths``) maps live files to the row
    positions a DELETE drops from them: each is re-committed as ``remove``
    plus an ``add`` whose inline deletion vector is merged with the one the
    file already has, and the protocol gains ``deletionVectors``.  An
    ``OPTIMIZE`` ``operation`` commits its removes and adds with
    ``dataChange: false`` (streams skip it) and writes ``df`` as given: no
    CHECK gate and no generated or identity fill, because it rewrites
    exactly the rows it removes.

    Every feature the commit needs (domain metadata, row tracking, deletion
    vectors; generated and identity columns at create) reaches the protocol
    through ``_protocol_upgrade``, which never lowers a version or drops a
    feature and writes no protocol action when nothing changes.

    ``read_version`` is the version the caller derived ``df`` from (a
    read-modify-write such as a merge or an MV fold): the commit must land
    directly on it, so a head that moved past it raises
    ``CommitConflictError`` before anything is staged, and a concurrent
    commit of the next version is never rebased over.

    Schema evolution: when ``df``'s schema differs from the logged
    ``metaData.schemaString``, the commit carries an updated ``metaData``
    action with the UNION of both field sets (mergeSchema semantics) so
    snapshot readers see every column; files written before the new column
    existed surface it as null.

    ``operation`` is the commitInfo ``(operation, operationParameters)``
    pair, ``("WRITE", {"mode": ...})`` by default; DML callers pass their
    own (``UPDATE`` / ``DELETE`` + predicate, ``MERGE`` + keys,
    ``OPTIMIZE`` + ``zOrderBy``).

    CHECK constraints (``add_check_constraint``) are enforced on every
    append/overwrite BEFORE staging: a violating batch raises
    ``ConstraintViolationError`` and leaves the table untouched.

    GENERATED COLUMNS (``generated_columns={"d": "CAST(ts AS DATE)"}``,
    create-time only) are stored as ``delta.generationExpression`` field
    metadata (protocol writer v4).  Every later write computes absent
    generated columns automatically (in ``cdc_df`` rows too) and
    VALIDATES explicitly-provided ones (a rewrite keeps them instead, see
    ``remove_paths``); the canonical use is partitioning
    by a derived date while querying by raw timestamp — pair with
    ``partition_by`` on the generated column and partition pruning comes
    for free.

    Partitioning: ``partition_by`` (create-time) lays data out in Hive
    ``col=value/`` dirs with the Delta ``partitionValues`` recorded per add
    action; appends inherit the table's partitioning automatically and
    raise on a conflicting explicit ``partition_by``.  Readers reconstruct
    the partition columns from the directory layout (basePath), typed by
    the logged schema.

    IDENTITY COLUMNS (``identity_columns={"id": {"start": 1, "step": 1,
    "allow_explicit_insert": False}}``, create-time only — protocol writer
    v6): absent identity columns are generated map-side past the logged
    high watermark (unique, start/step-congruent, gaps allowed per spec),
    and the commit's metaData advances ``delta.identity.highWaterMark``
    read from the staged files' OWN stats — no extra job.  Because the
    watermark update is a metadata write, identity-generating appends do
    NOT blind-rebase on a commit conflict (two winners would reuse the
    same id range); they surface ``CommitConflictError`` for the caller
    to re-run, the same metadata-conflict behavior the jar has.
    ``merge_into`` refuses an INSERT clause unless its source supplies
    every identity column (so never on a GENERATED ALWAYS one), although
    its ``remove_paths`` commit could generate them.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported mode {mode!r}")
    os.makedirs(table_path, exist_ok=True)
    log_dir = os.path.join(table_path, LOG_DIR)
    os.makedirs(log_dir, exist_ok=True)
    log = DeltaLog(table_path)
    latest = log.latest_version()
    now_ms = int(time.time() * 1000)
    if read_version is not None and latest != read_version:
        raise CommitConflictError(
            f"{table_path} moved from version {read_version} to {latest} "
            "since the rows to write were read; re-run on the new snapshot"
        )
    op_name, op_params = operation or ("WRITE", {"mode": mode.upper()})
    # OPTIMIZE rewrites exactly the rows it removes: no data change, and
    # nothing to fill or check
    data_change = op_name != "OPTIMIZE"

    id_specs: dict[str, dict[str, Any]] = {}
    id_generated: list[str] = []
    stage_df = None
    if latest is not None:
        if generated_columns:
            raise ValueError(
                "generated_columns is create-time only; the table's logged "
                "schema already defines its generation expressions"
            )
        if identity_columns:
            raise ValueError(
                "identity_columns is create-time only; the table's logged "
                "schema already defines its identity state"
            )
        if row_tracking:
            raise ValueError(
                "row_tracking is create-time only; use enable_row_tracking() "
                "to turn it on for an existing table (it backfills ids)"
            )
        stored_meta = log.table_metadata() or {}
        stored_parts = stored_meta.get("partitionColumns") or []
        if partition_by is None:
            partition_by = list(stored_parts) or None
        elif list(partition_by) != list(stored_parts):
            raise ValueError(
                f"partition_by {list(partition_by)} does not match the table's "
                f"partitionColumns {stored_parts}"
            )
        # generated columns: compute when absent, validate when provided —
        # a wrong provided value would silently corrupt partition pruning;
        # a rewrite keeps the values it carries
        gen_exprs = _generated_columns(stored_meta) if data_change else {}
        if gen_exprs:
            df = _apply_generated_columns(
                df, gen_exprs, carried=remove_paths is not None
            )
            if cdc_df is not None:
                cdc_df = _apply_generated_columns(cdc_df, gen_exprs, carried=True)
        id_specs = _identity_columns(stored_meta) if data_change else {}
        if id_specs:
            df, id_generated = _apply_identity_columns(
                df, id_specs, carried=remove_paths is not None
            )
        constraints = _check_constraints(stored_meta) if data_change else {}
        if constraints:
            # CHECK constraints gate BEFORE any file is staged, so a
            # rejected batch leaves no orphans and no log growth
            _enforce_constraints(df, constraints)
        if remove_paths is not None and _row_tracking_enabled(stored_meta):
            # a file-selective rewrite keeps row identity: the rows' ids as
            # loaded (key_range_candidates) ride in the new files as the
            # materialized columns, which win over baseRowId + row_index
            # on read.  A null id (an inserted row) or version (an updated
            # row) falls back to the fresh baseRowId / this commit's.
            rid_col, rcv_col = _materialized_row_cols(stored_meta)
            stage_df = df.withColumnRenamed("_row_id", rid_col).withColumnRenamed(
                "_row_commit_version", rcv_col
            )
            df = df.drop("_row_id", "_row_commit_version")
    else:
        if generated_columns:
            df = _apply_generated_columns(df, generated_columns)
        if identity_columns:
            id_specs = {
                name: {
                    "start": int(spec.get("start", 1)),
                    "step": int(spec.get("step", 1)),
                    "hwm": None,
                    "allow": bool(spec.get("allow_explicit_insert", False)),
                }
                for name, spec in identity_columns.items()
            }
            for name, spec in id_specs.items():
                if spec["step"] == 0:
                    raise ValueError(f"identity column {name!r}: step must be nonzero")
            # a provided column is legal only for GENERATED BY DEFAULT —
            # _apply_identity_columns enforces that and generates the rest
            df, id_generated = _apply_identity_columns(df, id_specs)
    # Column-mapped tables: resolve the POST-merge mapping before staging,
    # so brand-new columns stage under their freshly-assigned physical
    # names and the same commit's metaData action declares them.
    cm_mapping: dict[str, str] | None = None
    cm_meta_action: dict[str, Any] | None = None
    if latest is not None:
        cm_stored = log.table_metadata() or {}
        if _column_mapping(cm_stored) is not None:
            cm_merged = _merge_schema_strings(
                cm_stored.get("schemaString"), df.schema.json()
            )
            cm_conf = dict(cm_stored.get("configuration") or {})
            cm_merged, cm_new_conf = _assign_mapping_ids(cm_merged, cm_conf)
            if cm_merged != cm_stored.get("schemaString"):
                cm_meta_action = {
                    "metaData": {
                        **cm_stored,
                        "schemaString": cm_merged,
                        "configuration": cm_new_conf,
                    }
                }
            cm_mapping = _column_mapping(
                {"schemaString": cm_merged, "configuration": cm_new_conf}
            )
    adds = _stage_data_files(
        df if stage_df is None else stage_df, table_path, partition_by,
        mapping=cm_mapping,
    )
    actions: list[dict[str, Any]] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": op_name,
                "operationParameters": op_params,
                "engineInfo": "polars-incremental-spark fallback writer",
                **({"userMetadata": user_metadata} if user_metadata else {}),
            }
        }
    ]
    rt_on = row_tracking or (
        latest is not None and _row_tracking_enabled(log.table_metadata())
    )
    features = {"domainMetadata"} if rt_on or domain_metadata else set()
    if deletion_vectors:
        features.add("deletionVectors")
    if latest is None:
        features |= {
            f
            for f, on in (
                ("generatedColumns", generated_columns),
                ("identityColumns", id_specs),
                ("rowTracking", row_tracking),
            )
            if on
        }
        proto = _protocol_upgrade(
            {"minReaderVersion": 1, "minWriterVersion": 1}, features
        ) or {"minReaderVersion": 1, "minWriterVersion": 2}
    else:
        proto = _protocol_upgrade(log.protocol() or {}, features)
    if proto:
        actions.append({"protocol": proto})
    if latest is None:
        schema_str = _spark_schema_to_delta(df.schema.json())
        if generated_columns:
            unknown = set(generated_columns) - set(df.columns)
            if unknown:  # unreachable after _apply_generated_columns; guard anyway
                raise ValueError(f"generated columns missing: {sorted(unknown)}")
            parsed = json.loads(schema_str)
            for f in parsed["fields"]:
                if f["name"] in generated_columns:
                    md = dict(f.get("metadata") or {})
                    md[GENERATION_KEY] = generated_columns[f["name"]]
                    f["metadata"] = md
            schema_str = json.dumps(parsed, separators=(",", ":"))
        if id_specs:
            parsed = json.loads(schema_str)
            for f in parsed["fields"]:
                if f["name"] in id_specs:
                    spec = id_specs[f["name"]]
                    md = dict(f.get("metadata") or {})
                    md[IDENTITY_START_KEY] = spec["start"]
                    md[IDENTITY_STEP_KEY] = spec["step"]
                    md[IDENTITY_ALLOW_KEY] = spec["allow"]
                    f["metadata"] = md
            schema_str = json.dumps(parsed, separators=(",", ":"))
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_str,
                    "partitionColumns": list(partition_by or []),
                    "configuration": (
                        {
                            ROW_TRACKING_ENABLE_KEY: "true",
                            **dict(
                                zip(
                                    (ROW_ID_COL_KEY, ROW_CV_COL_KEY),
                                    _fresh_row_col_names(set(df.columns)),
                                )
                            ),
                        }
                        if row_tracking
                        else {}
                    ),
                    "createdTime": now_ms,
                }
            }
        )
        version = 0
    else:
        version = latest + 1
        stored_meta = log.table_metadata() or {}
        if cm_mapping is not None:
            if cm_meta_action is not None:
                actions.append(cm_meta_action)
        else:
            merged_schema = _merge_schema_strings(
                stored_meta.get("schemaString"), df.schema.json()
            )
            if merged_schema != stored_meta.get("schemaString"):
                actions.append(
                    {"metaData": {**stored_meta, "schemaString": merged_schema}}
                )
        if mode == "overwrite":
            live = log.snapshot_files(latest)
            dv_adds = []
            if remove_paths is not None:
                dvs = deletion_vectors or {}
                gone = (remove_paths | set(dvs)) - {a["path"] for a in live}
                if gone:
                    raise CommitConflictError(
                        f"{len(gone)} file(s) to rewrite are no longer live in "
                        f"{table_path} (e.g. {min(gone)}); re-run on the new snapshot"
                    )
                dv_adds = [a for a in live if a["path"] in dvs]
                live = [a for a in live if a["path"] in remove_paths]
            for active in live + dv_adds:
                actions.append(
                    {
                        "remove": {
                            "path": active["path"],
                            "deletionTimestamp": now_ms,
                            "dataChange": data_change,
                        }
                    }
                )
            if dv_adds:
                from .dv import descriptor_positions, inline_descriptor

                for add in dv_adds:
                    # the file stays: same rows, more of them deleted
                    merged = list(deletion_vectors[add["path"]])
                    if add.get("deletionVector"):
                        merged += descriptor_positions(add["deletionVector"])
                    payload = {k: v for k, v in add.items() if k != "commit_version"}
                    payload.update(
                        deletionVector=inline_descriptor(merged), dataChange=True
                    )
                    actions.append({"add": payload})
    # identity high-watermark advance: read from the staged files' own
    # stats (an agg-job fallback exists for statless columns), then patch
    # the commit's effective schemaString — whichever metaData action this
    # commit already carries, or a fresh one from the stored metadata
    hwm_updates: dict[str, int] = {}
    for name, spec in id_specs.items():
        if name not in df.columns or not adds:
            continue
        phys = (cm_mapping or {}).get(name, name)
        v = _identity_hwm_from_adds(adds, phys, spec["step"])
        if v is None:
            if name in id_generated:
                # statless fallback must NOT re-evaluate the frame — the
                # generated expression is nondeterministic across jobs.
                # Overestimate instead (spec allows gaps): ids are
                # base + mid·step with mid < numPartitions·2³³
                step = spec["step"]
                base = (
                    spec["start"] if spec["hwm"] is None else spec["hwm"] + step
                )
                v = base + step * (df.rdd.getNumPartitions() << 33)
            else:
                # explicitly-provided values: one agg job over the frame
                agg_fn = F.max if spec["step"] > 0 else F.min
                row = df.agg(agg_fn(F.col(name)).alias("__m")).collect()
                v = None if row[0]["__m"] is None else int(row[0]["__m"])
        old = spec["hwm"]
        if v is not None and (
            old is None or (v > old if spec["step"] > 0 else v < old)
        ):
            hwm_updates[name] = v
    if hwm_updates:
        patched = False
        for a in actions:
            if "metaData" in a:
                a["metaData"]["schemaString"] = _set_identity_hwm(
                    a["metaData"]["schemaString"], hwm_updates
                )
                patched = True
        if not patched:
            base_meta = log.table_metadata() or {}
            actions.append(
                {
                    "metaData": {
                        **base_meta,
                        "schemaString": _set_identity_hwm(
                            base_meta["schemaString"], hwm_updates
                        ),
                    }
                }
            )
    # row tracking: allocate baseRowId past the logged watermark; the
    # watermark advance commits atomically with the adds (domain metadata)
    if rt_on:
        new_hwm = _stamp_row_ids(
            table_path, adds, _row_id_hwm(log) if latest is not None else -1, version
        )
        actions.append(_row_tracking_domain_action(new_hwm))
    if domain_metadata:
        # caller-owned domains (MV watermarks etc.): COMMITTED atomically
        # with the data, and — unlike commitInfo — carried by log
        # checkpoints, so the state survives expire_log
        for domain, conf in domain_metadata.items():
            actions.append(
                {
                    "domainMetadata": {
                        "domain": domain,
                        "configuration": conf,
                        "removed": False,
                    }
                }
            )
    actions.extend({"add": {**add, "dataChange": data_change}} for add in adds)
    if cdc_df is not None:
        actions.extend(
            {"cdc": c}
            for c in _stage_cdc_files(cdc_df, table_path, mapping=cm_mapping)
        )
    for _attempt in range(16):
        try:
            _write_commit(log_dir, version, actions)
            break
        except CommitConflictError:
            # optimistic concurrency: a concurrent writer claimed this
            # version.  Blind APPENDS commute with any other commit (staged
            # file names are unique, adds don't touch existing files), so
            # rebase onto the new head after re-validating everything that
            # could have changed underneath us; overwrites conflict
            # semantically (their remove set is stale) and surface the
            # error for the caller to re-run.
            if (
                mode != "append"
                or latest is None
                or read_version is not None
                or hwm_updates
                or rt_on
                or domain_metadata
            ):
                # identity/row-id watermark updates are metadata writes:
                # two rebased winners would hand out the same id range
                # (and defaultRowCommitVersion is version-bound); caller
                # domain state (MV watermarks) likewise must not blind-
                # rebase — two winners would fold the same deltas twice.
                # A losing allocating/stateful append surfaces the conflict.
                raise
            fresh = log.latest_version()
            fresh_meta = log.table_metadata() or {}
            if _row_tracking_enabled(fresh_meta):
                # a concurrent enable_row_tracking() won the race: our
                # staged adds carry no baseRowId while the spec now
                # requires one on every add (and we'd skip the
                # rowIdHighWaterMark advance) — rebasing blindly would
                # leave the table spec-invalid, so surface the conflict
                # and let the caller restage with stamping
                raise
            fresh_parts = fresh_meta.get("partitionColumns") or []
            if list(partition_by or []) != list(fresh_parts):
                raise
            if cm_mapping is not None:
                # mapped-table rebase is safe only when our staged physical
                # names are still what the fresh mapping implies: a schema-
                # evolving append (fresh uuid assignments) or a concurrent
                # mapping change can't be rebased blindly — surface the
                # conflict and let the caller re-run
                if cm_meta_action is not None:
                    raise
                fresh_mapping = _column_mapping(fresh_meta) or {}
                if any(
                    fresh_mapping.get(c) != cm_mapping.get(c)
                    for c in df.columns
                ):
                    raise
            fresh_constraints = _check_constraints(fresh_meta)
            if fresh_constraints:
                _enforce_constraints(df, fresh_constraints)
            version = fresh + 1
            # rebuild the (possibly stale) schema-merge action
            actions = [
                a
                for a in actions
                if "metaData" not in a
            ]
            if cm_mapping is None:
                merged_schema = _merge_schema_strings(
                    fresh_meta.get("schemaString"), df.schema.json()
                )
                if merged_schema != fresh_meta.get("schemaString"):
                    actions.insert(
                        1,
                        {"metaData": {**fresh_meta, "schemaString": merged_schema}},
                    )
    else:
        raise CommitConflictError(
            f"append to {table_path} lost {16} consecutive commit races"
        )
    # periodic log checkpoint (real Delta's every-10-commits default) keeps
    # snapshot replay O(tail) without the caller ever thinking about it
    if checkpoint_interval and version > 0 and version % checkpoint_interval == 0:
        checkpoint_log(table_path, version=version)
    return version


_CONJUNCT_RE = None  # compiled lazily (keeps `re` out of the hot import)

# Spark SQL type names whose logged min/max compare exactly like the parsed
# literal.  Temporal types are deliberately absent: stats store ISO strings
# while literals arrive in arbitrary formats, and a lexical compare between
# the two can WRONGLY prune ('2024-01-01' < '2024-01-01T00:00:00').
_PRUNABLE_NUMERIC = {"byte", "short", "integer", "long", "float", "double"}
_PRUNABLE_STRING = {"string"}
RANGE_PRUNABLE_TYPES = _PRUNABLE_NUMERIC | _PRUNABLE_STRING


_LIT_RE_SRC = r"('(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|-?\d+(?:\.\d+)?)"


def _parse_literal(raw: str):
    if raw.startswith("'"):
        return raw[1:-1].replace("''", "'")
    if raw.startswith('"'):
        return raw[1:-1].replace('""', '"')
    return float(raw) if "." in raw else int(raw)


def _skipping_conjuncts(where: str) -> list[tuple[str, str, Any]]:
    """The pushdown-able subset of ``where``: top-level AND-ed
    ``col OP literal`` comparisons (OP in =, ==, <, <=, >, >=), plus
    ``col BETWEEN a AND b`` (rewritten to two range conjuncts) and
    ``col IN (literals)`` (pruned when NO member can fall in the file's
    range).  Conjuncts that don't fit are simply not used for pruning
    (the residual filter keeps semantics exact).  Any ``OR`` — or a NOT
    near a BETWEEN, whose rewrite would invert wrongly — bails out
    entirely: an unparenthesized OR changes precedence, so AND-operands
    are then not independently necessary."""
    global _CONJUNCT_RE
    if _CONJUNCT_RE is None:
        _CONJUNCT_RE = re.compile(
            r"^\s*(\w+)\s*(==|=|<=|>=|<|>)\s*" + _LIT_RE_SRC + r"\s*$"
        )
    if re.search(r"\bor\b", where, re.IGNORECASE):
        return []
    if re.search(r"\bnot\b[\s\S]*\bbetween\b", where, re.IGNORECASE):
        return []
    # BETWEEN rewrites BEFORE the AND split (its AND is not a conjunction)
    where = re.sub(
        r"\b(\w+)\s+between\s+" + _LIT_RE_SRC + r"\s+and\s+" + _LIT_RE_SRC,
        r"\1 >= \2 and \1 <= \3",
        where,
        flags=re.IGNORECASE,
    )
    in_re = re.compile(r"^\s*(\w+)\s+in\s*\(([^()]*)\)\s*$", re.IGNORECASE)
    null_re = re.compile(
        r"^\s*(\w+)\s+is\s+(not\s+)?null\s*$", re.IGNORECASE
    )
    item_re = re.compile(r"^\s*" + _LIT_RE_SRC + r"\s*$")
    out: list[tuple[str, str, Any]] = []
    for part in re.split(r"\band\b", where, flags=re.IGNORECASE):
        m = _CONJUNCT_RE.match(part)
        if m:
            col, op, raw = m.group(1), m.group(2), m.group(3)
            out.append((col, "=" if op == "==" else op, _parse_literal(raw)))
            continue
        mn = null_re.match(part)
        if mn:
            out.append((mn.group(1), "notnull" if mn.group(2) else "isnull", None))
            continue
        mi = in_re.match(part)
        if mi:
            items = mi.group(2).split(",")
            parsed = []
            for item in items:
                li = item_re.match(item)
                if not li:
                    parsed = None
                    break
                parsed.append(_parse_literal(li.group(1)))
            if parsed:
                out.append((mi.group(1), "in", parsed))
    return out


def _file_may_match(
    add: dict[str, Any],
    conjuncts: list[tuple[str, str, Any]],
    part_cols: set[str],
    field_types: dict[str, str],
) -> bool:
    """Data skipping: can any row in this file satisfy every conjunct?
    Fails OPEN (keeps the file) whenever stats or types don't line up."""
    stats = json.loads(add["stats"]) if add.get("stats") else None
    pv = add.get("partitionValues") or {}
    for col, op, lit in conjuncts:
        ftype = field_types.get(col, "")
        if op in ("isnull", "notnull"):
            # null-predicate pruning works for ANY column type: it needs
            # only the logged nullCount/numRecords
            if stats is None or col in part_cols:
                continue
            nc = stats.get("nullCount", {}).get(col)
            nr = stats.get("numRecords")
            if nc is None or nr is None:
                continue
            if op == "isnull" and nc == 0:
                return False
            if op == "notnull" and nc == nr and nr > 0:
                return False
            continue
        numeric = ftype in _PRUNABLE_NUMERIC
        if not (numeric or ftype in _PRUNABLE_STRING):
            continue
        if col in part_cols:
            raw = pv.get(col)
            if raw is None:
                continue
            try:
                lo = hi = float(raw) if numeric else raw
            except ValueError:
                continue
        else:
            if not stats:
                continue
            mins, maxs = stats.get("minValues", {}), stats.get("maxValues", {})
            if col not in mins or col not in maxs:
                nc = stats.get("nullCount", {}).get(col)
                nr = stats.get("numRecords")
                if nc is not None and nr is not None and nc == nr and nr > 0:
                    return False  # all-null file: no comparison can hold
                continue
            lo, hi = mins[col], maxs[col]
        if lo != lo or hi != hi:
            # NaN bound (parquet may log NaN as a float max): every Python
            # comparison with it is False, which would prune the file
            continue
        if op == "in":
            members = lit
            if any(isinstance(m, str) != isinstance(lo, str) for m in members):
                continue  # mixed/unknown literal types: fail open
            if not any(lo <= m <= hi for m in members):
                return False
            continue
        if isinstance(lit, str) != isinstance(lo, str):
            continue
        if op == "=":
            ok = lo <= lit <= hi
        elif op == "<":
            ok = lo < lit
        elif op == "<=":
            ok = lo <= lit
        elif op == ">":
            ok = hi > lit
        else:  # >=
            ok = hi >= lit
        if not ok:
            return False
    return True


def read_delta_fallback(
    spark: SparkSession,
    table_path: str,
    *,
    version: int | None = None,
    timestamp_ms: int | None = None,
    where: str | None = None,
    row_ids: bool = False,
) -> DataFrame:
    """Snapshot read of a log-backed Delta table via the planned-mode tailer,
    with TIME TRAVEL: ``version`` pins the snapshot AS OF that commit;
    ``timestamp_ms`` resolves to the last version committed at or before it
    (real Delta's timestampAsOf rule).  Versions expired by log cleanup
    (``expire_log``) raise — the same contract the jar gives.

    The scan is pinned to the ``metaData.schemaString`` EFFECTIVE AT the
    read version, so a query AS OF v sees the schema as of v (columns
    added later don't appear; files written before an evolution at or
    below v surface the newer columns as nulls).

    ``where`` enables DATA SKIPPING: files whose logged ``add.stats``
    (min/max/nullCount) or ``partitionValues`` prove no row can satisfy
    the predicate are never opened — at 100 TB this is the difference
    between scanning a table and scanning a slice.  Only the AND-of-
    simple-comparisons subset of ``where`` prunes; the FULL predicate is
    re-applied as a residual filter, so results are exact regardless of
    how much (or little) was pushdown-able.
    """
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    if version is not None and timestamp_ms is not None:
        raise ValueError("pass version or timestamp_ms, not both")
    if timestamp_ms is not None:
        v = None
        for cand in log.versions():
            if log.commit_timestamp_ms(cand) <= timestamp_ms:
                v = cand
            else:
                break
        if v is None:
            raise ValueError(
                f"timestamp {timestamp_ms} precedes the earliest available commit"
            )
        version = v
    if version is None:
        version = latest
    else:
        if version < 0 or version > latest:
            raise ValueError(
                f"version {version} out of range [0, {latest}] for {table_path}"
            )
        if not log.is_reconstructible(version):
            raise ValueError(
                f"version {version} has expired from the log (no surviving "
                f"checkpoint at or below it seeds a complete replay)"
            )
    meta = log.table_metadata(at_version=version) or {}
    adds = log.snapshot_files(version)
    # one replay: the protocol/DV check reuses the adds just computed
    log.check_reader_supported(
        at_version=version, adds=adds, allow_column_mapping=True
    )
    if where:
        adds = prune_adds(meta, adds, _skipping_conjuncts(where))
    if row_ids and not _row_tracking_enabled(meta):
        raise ValueError(
            "row_ids=True requires row tracking; call enable_row_tracking() "
            f"on {table_path} first"
        )
    df = _load_snapshot_df(spark, log, meta, adds, row_ids=row_ids)[0]
    # residual filter: pruning is a superset, the predicate stays exact
    return df.filter(where) if where else df


def _reconstructed_changes(
    spark: SparkSession,
    log: "DeltaLog",
    version: int,
    actions: list[dict],
    keys: "list[str] | None" = None,
) -> list[DataFrame]:
    """EXACT change rows for a remove-bearing commit WITHOUT change-data
    files, reconstructed by per-commit file diff: the commit's removed
    files re-read as they stood in the v-1 snapshot (DVs applied), its
    added files read as committed, and the two bag-differenced —
    old∖new = deletes, new∖old = inserts (``exceptAll``, multiset-exact).

    The reconstruction is exact in BAG terms; without row identity it
    cannot pair update pre/postimages, so an UPDATE surfaces as
    delete + insert — sign-equivalent for every counting consumer
    (the MV layer's +1/−1 fold).  On a ROW-TRACKED table the diff joins
    the two sides on ``_row_id`` instead (ids are stable through DV
    deletes, copy-on-write rewrites, and updates), which restores FULL
    CDF fidelity: rows present on both sides with changed payloads emit
    paired ``update_preimage``/``update_postimage``, carried-over rows
    cancel exactly, and MAP columns are fine (no set-op comparison).
    Cost is proportional to the COMMIT's touched files — never a
    snapshot scan — the same change-volume bound real CDF has, paid in
    data rows instead of change files.

    ``keys`` — user-declared unique key columns (the reference engine's
    CDC surface always has them: reference cdc.py:8-55 requires
    ``keys``) — restores paired update images WITHOUT row tracking: the
    bag diff's deletes and inserts are grouped by key, and a key with
    exactly one old and one new row emits an
    ``update_preimage``/``update_postimage`` pair.  NULL and NaN key
    values pair null-safely (SQL grouping semantics).  A key with more
    than one row on either side of the diff means the table is not
    actually keyed by ``keys`` — pairing would be ambiguous — and the
    read fails AT MATERIALIZATION with a raise_error (the frame is
    lazy; a driver-side pre-check would force an extra action per
    commit).  One hash shuffle on ``keys`` over the commit's diff rows —
    still change-volume bounded.  Row tracking, when enabled and
    applicable, takes precedence (it needs no uniqueness assumption).

    Fails closed (``ChangeDataFeedError``) when the diff cannot be exact:
    the v-1 snapshot expired from the log, a removed file was vacuumed,
    the commit also changed the schema / partitioning / column-mapping
    (the two sides would diff under different shapes), or the schema
    contains a MAP column (Spark set-ops cannot compare maps)."""
    import os as _os

    from pyspark.sql.types import MapType, StructType

    from ..errors import ChangeDataFeedError, PlanningError

    removes = [
        a["remove"]
        for a in actions
        if "remove" in a and a["remove"].get("dataChange", True)
    ]
    adds = [
        a["add"]
        for a in actions
        if "add" in a and a["add"].get("dataChange", True)
    ]
    meta_now = log.table_metadata(at_version=version) or {}
    meta_prev = (
        log.table_metadata(at_version=version - 1) or {} if version > 0 else meta_now
    )

    def _shape(m):
        return (
            m.get("schemaString"),
            tuple(m.get("partitionColumns") or ()),
            (m.get("configuration") or {}).get("delta.columnMapping.mode"),
        )

    if _shape(meta_now) != _shape(meta_prev):
        raise ChangeDataFeedError(
            f"delta version {version} removes data without change-data "
            "files AND changes the table shape (schema / partitioning / "
            "column mapping) in the same commit; the file diff cannot "
            "reconstruct its changes — enable delta.enableChangeDataFeed "
            "on the writer"
        )
    schema = StructType.fromJson(json.loads(meta_now["schemaString"]))
    rt_on = _row_tracking_enabled(meta_now)
    if keys:
        missing_keys = [k for k in keys if k not in schema.fieldNames()]
        if missing_keys:
            raise ValueError(
                f"keys {missing_keys} not in table schema "
                f"{schema.fieldNames()}"
            )

    def _has_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        if hasattr(dt, "fields"):
            return any(_has_map(f.dataType) for f in dt.fields)
        if hasattr(dt, "elementType"):
            return _has_map(dt.elementType)
        return False

    if not rt_on and any(_has_map(f.dataType) for f in schema.fields):
        # the row-tracked path joins on _row_id and never set-op-compares
        raise ChangeDataFeedError(
            f"delta version {version} removes data without change-data "
            "files and the schema contains a MAP column, which Spark "
            "set operations cannot compare; enable "
            "delta.enableChangeDataFeed (or row tracking) on the writer"
        )
    removed_paths = {r["path"] for r in removes}
    if version == 0:
        old_adds: list[dict[str, Any]] = []
    else:
        try:
            prev_active = log.snapshot_files(version - 1)
        except (ValueError, PlanningError) as exc:
            # snapshot_files signals an expired prior snapshot with
            # PlanningError (checkpoints/delta.py); re-raise under the
            # CDF taxonomy so read_change_feed callers see one error class
            raise ChangeDataFeedError(
                f"delta version {version} removes data without change-data "
                f"files and the prior snapshot (v{version - 1}) has expired "
                "from the log; its changes cannot be reconstructed"
            ) from exc
        old_adds = [a for a in prev_active if a["path"] in removed_paths]
        if len(old_adds) != len(removed_paths):
            missing = sorted(removed_paths - {a["path"] for a in old_adds})
            raise ChangeDataFeedError(
                f"delta version {version} removes file(s) absent from the "
                f"v{version - 1} snapshot (e.g. {missing[0]}); the log is "
                "inconsistent — changes cannot be reconstructed"
            )
    for a in old_adds:
        if not _os.path.exists(log.abs_path(a["path"])):
            raise ChangeDataFeedError(
                f"delta version {version}: removed file {a['path']} was "
                "vacuumed; its change data cannot be reconstructed"
            )

    def _side(side_adds, row_ids=False):
        df, _s, _p = _load_snapshot_df(
            spark, log, meta_now, side_adds, row_ids=row_ids
        )
        return df.drop("_row_commit_version") if row_ids else df

    ts = log.commit_timestamp_ms(version)

    def _finish(df: DataFrame, ctype: str) -> DataFrame:
        # _load_snapshot_df already returns LOGICAL column names — no
        # inverse-mapping pass here (unlike the raw cdc-file readers)
        return (
            df.withColumn("_change_type", F.lit(ctype))
            .withColumn("_commit_version", F.lit(version).cast("long"))
            .withColumn("_commit_timestamp", F.timestamp_millis(F.lit(ts)))
        )

    if rt_on:
        # join old/new sides on the stable row id: full CDF fidelity
        # (paired update images), carried-over rows cancel by identity.
        # Falls back to the bag diff if any touched file predates row-id
        # backfill (row_ids=True raises on missing baseRowId).
        try:
            cols = schema.fieldNames()
            o = _side(old_adds, row_ids=True).select(
                F.col("_row_id").alias("__rid_o"),
                F.struct(*cols).alias("__o"),
            )
            n = _side(adds, row_ids=True).select(
                F.col("_row_id").alias("__rid_n"),
                F.struct(*cols).alias("__n"),
            )
            j = o.join(n, o["__rid_o"] == n["__rid_n"], "full_outer")
            deletes = j.filter(F.col("__rid_n").isNull()).select("__o.*")
            inserts = j.filter(F.col("__rid_o").isNull()).select("__n.*")
            if any(_has_map(f.dataType) for f in schema.fields):
                # Spark comparisons can't take MAP operands, so map-bearing
                # schemas fall back to a same-session to_json digest.  This
                # can pair-up semantically-equal payloads rendered
                # differently (map entry order after a file rewrite) —
                # sign-cancelling for counting consumers, noise for
                # full-fidelity ones.
                payload_changed = F.md5(F.to_json(F.col("__o"))) != F.md5(
                    F.to_json(F.col("__n"))
                )
            else:
                # null-safe struct equality: field-wise, NULL==NULL, and
                # Spark's comparison semantics make -0.0 == 0.0 and
                # NaN == NaN — no spurious update pairs from rendering
                payload_changed = ~F.col("__o").eqNullSafe(F.col("__n"))
            changed = j.filter(
                F.col("__rid_o").isNotNull()
                & F.col("__rid_n").isNotNull()
                & payload_changed
            )
            return [
                _finish(deletes, "delete"),
                _finish(inserts, "insert"),
                _finish(changed.select("__o.*"), "update_preimage"),
                _finish(changed.select("__n.*"), "update_postimage"),
            ]
        except ValueError as exc:
            # ONLY the documented un-backfilled-files case falls back to
            # the bag diff; any other ValueError is a real error — a
            # silent fallback would downgrade a row-tracked consumer from
            # paired update images to delete+insert with no signal
            if "baseRowId" not in str(exc):
                raise
            # the bag-diff fallback cannot compare MAP payloads, so that
            # combination fails closed here instead of as an opaque
            # set-op AnalysisException
            if any(_has_map(f.dataType) for f in schema.fields):
                raise ChangeDataFeedError(
                    f"delta version {version} removes data without "
                    "change-data files, the schema contains a MAP column, "
                    "and the row-tracked diff is unavailable (files "
                    "predate row-id backfill); enable "
                    "delta.enableChangeDataFeed on the writer"
                ) from None

    old_df, new_df = _side(old_adds), _side(adds)
    dels = old_df.exceptAll(new_df)
    ins = new_df.exceptAll(old_df)
    if not keys:
        return [_finish(dels, "delete"), _finish(ins, "insert")]

    # key-paired images: group both diff sides by the declared keys; a
    # key present on both sides is an update, one-sided keys stay
    # delete/insert.  SQL grouping pairs NULL/NaN keys null-safely.
    cols = schema.fieldNames()
    tagged = dels.select(
        F.lit("o").alias("__side"), F.struct(*cols).alias("__p")
    ).unionByName(
        ins.select(F.lit("n").alias("__side"), F.struct(*cols).alias("__p"))
    )
    grouped = tagged.groupBy(
        *[F.col(f"__p.`{k}`").alias(f"__k{i}") for i, k in enumerate(keys)]
    ).agg(
        F.collect_list(
            F.when(F.col("__side") == "o", F.col("__p"))
        ).alias("__os"),
        F.collect_list(
            F.when(F.col("__side") == "n", F.col("__p"))
        ).alias("__ns"),
    )
    no, nn = F.size("__os"), F.size("__ns")
    dup_msg = F.concat(
        F.lit(
            f"delta version {version}: key columns {keys} are not unique "
            "within the commit's change set (found "
        ),
        no.cast("string"),
        F.lit(" old / "),
        nn.cast("string"),
        F.lit(
            " new rows for one key); update-image pairing is ambiguous — "
            "declare the table's actual unique key or enable row tracking"
        ),
    )
    out = (
        grouped.select(
            F.when((no > 1) | (nn > 1), F.raise_error(dup_msg))
            .when(
                (no == 1) & (nn == 1),
                F.array(
                    F.struct(
                        F.lit("update_preimage").alias("t"),
                        F.col("__os")[0].alias("p"),
                    ),
                    F.struct(
                        F.lit("update_postimage").alias("t"),
                        F.col("__ns")[0].alias("p"),
                    ),
                ),
            )
            .when(
                no == 1,
                F.array(
                    F.struct(
                        F.lit("delete").alias("t"),
                        F.col("__os")[0].alias("p"),
                    )
                ),
            )
            .otherwise(
                F.array(
                    F.struct(
                        F.lit("insert").alias("t"),
                        F.col("__ns")[0].alias("p"),
                    )
                )
            )
            .alias("__changes")
        )
        .select(F.explode("__changes").alias("__c"))
        .select(F.col("__c.p.*"), F.col("__c.t").alias("_change_type"))
    )
    ts_paired = log.commit_timestamp_ms(version)
    return [
        out.withColumn(
            "_commit_version", F.lit(version).cast("long")
        ).withColumn(
            "_commit_timestamp", F.timestamp_millis(F.lit(ts_paired))
        )
    ]


def read_change_feed(
    spark: SparkSession,
    table_path: str,
    *,
    starting_version: int | None = None,
    ending_version: int | None = None,
    starting_timestamp_ms: int | None = None,
    ending_timestamp_ms: int | None = None,
    reconstruct_removes: bool = False,
    keys: "list[str] | None" = None,
) -> DataFrame:
    """Batch CDF read (delta-spark's ``table_changes``): every change row
    in commits ``[starting_version, ending_version]`` with the standard
    metadata columns ``_change_type`` (insert / delete / update_preimage /
    update_postimage), ``_commit_version``, ``_commit_timestamp``.

    Commits with cdc actions serve those files; add-only commits serve
    their adds as inserts (the spec's fallback); data removes WITHOUT
    change-data files raise ``ChangeDataFeedError`` — the reader cannot
    reconstruct which rows disappeared.  dataChange=false commits
    (OPTIMIZE, backfills) contribute nothing, matching the jar.

    ``reconstruct_removes=True`` relaxes the remove-without-CDF error by
    diffing the commit's own touched files (see
    ``_reconstructed_changes``): exact deletes/inserts in bag terms, with
    updates surfacing as delete+insert rather than paired images.  The
    default stays False to match the jar's ``table_changes`` contract;
    counting consumers (the MV layer) opt in because their +1/−1 fold is
    representation-independent.

    ``keys`` (only with ``reconstruct_removes=True``) declares the
    table's unique key columns and restores PAIRED
    ``update_preimage``/``update_postimage`` rows on reconstructed
    commits without requiring row tracking — the reference engine's CDC
    surface always carries such keys (reference cdc.py:8-55).  Keys that
    are not actually unique within a commit's change set make pairing
    ambiguous and fail the read at materialization.  Commits served from
    real change-data files are unaffected (they already carry images).

    Timestamp bounds (delta-spark's startingTimestamp/endingTimestamp):
    ``starting_timestamp_ms`` resolves to the FIRST commit at or after it,
    ``ending_timestamp_ms`` to the LAST commit at or before it — both via
    commit timestamps (ICT-aware on ICT tables).  Pass versions or
    timestamps per bound, not both.

    Scale shape: one log walk on the driver (O(commits) metadata), then a
    single parquet scan per (version, injected-type) group — no joins, no
    shuffles; downstream aggregation is the consumer's plan.
    """
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    if keys is not None and not reconstruct_removes:
        raise ValueError(
            "keys= only applies to reconstruct_removes=True (commits with "
            "real change-data files already carry paired update images)"
        )
    if starting_version is not None and starting_timestamp_ms is not None:
        raise ValueError("pass starting_version or starting_timestamp_ms, not both")
    if ending_version is not None and ending_timestamp_ms is not None:
        raise ValueError("pass ending_version or ending_timestamp_ms, not both")
    from ..errors import ChangeDataFeedError

    surviving = log.versions()
    start_from_timestamp = starting_timestamp_ms is not None
    if start_from_timestamp:
        earliest = surviving[0] if surviving else latest + 1
        if earliest > 0 and starting_timestamp_ms <= log.commit_timestamp_ms(
            earliest
        ):
            # commits 0..earliest-1 expired and their (unknowable) stamps
            # may fall inside the window — resolving to the first SURVIVING
            # commit would silently drop their changes
            raise ChangeDataFeedError(
                f"starting_timestamp_ms {starting_timestamp_ms} reaches into "
                f"commits expired from the log (earliest surviving: "
                f"{earliest}); their change data cannot be reconstructed"
            )
        resolved = log.version_at_or_after_timestamp(starting_timestamp_ms)
        # all commits precede the bound -> legal empty window
        starting_version = latest + 1 if resolved is None else resolved
    if starting_version is None:
        raise ValueError("a starting_version or starting_timestamp_ms is required")
    if ending_timestamp_ms is not None:
        # resolve against MONOTONIC-adjusted stamps (running max): raw
        # commitInfo timestamps from concurrent non-ICT writers can dip,
        # and a first-exceeds break would silently drop a later commit
        # whose true position is inside the window.  Adjusted over the
        # SAME `surviving` snapshot (not a re-listing) so a commit
        # expiring mid-call cannot desynchronize the two.
        adjusted = log.monotonic_commit_timestamps(versions=surviving)
        inside = [v for v, ts in adjusted.items() if ts <= ending_timestamp_ms]
        ending_version = max(inside) if inside else None
        if ending_version is None:
            raise ValueError(
                f"ending_timestamp_ms {ending_timestamp_ms} precedes every commit"
            )
    end = latest if ending_version is None else ending_version
    if starting_version > end:
        if not start_from_timestamp:
            # explicit inverted/past-head versions are caller bugs (a
            # corrupt watermark) — silence here would skip real changes
            raise ValueError(
                f"version range [{starting_version}, {end}] out of bounds "
                f"(table head {latest})"
            )
        starting_version = end + 1  # timestamp-derived empty window
    if starting_version < 0 or end > latest:
        raise ValueError(
            f"version range [{starting_version}, {end}] out of bounds "
            f"(table head {latest})"
        )
    from ..checkpoints.delta import cdf_entries

    have = set(log.versions())
    missing = [v for v in range(starting_version, end + 1) if v not in have]
    if missing:
        # a log checkpoint summarizes STATE, not changes — expired commits'
        # CDF is unrecoverable, so skipping them would silently lose deltas
        raise ChangeDataFeedError(
            f"commits {missing[:3]}{'...' if len(missing) > 3 else ''} have "
            f"expired from the log; their change data cannot be reconstructed"
        )
    meta = log.table_metadata() or {}
    frames = []
    for v in log.versions():
        if v < starting_version or v > end:
            continue
        actions = log.actions(v)
        if reconstruct_removes:
            # a commit with cdc files reads them; one without whose change
            # removes rows diffs its own files
            if change_actions(actions)[2]:
                frames.extend(
                    _reconstructed_changes(spark, log, v, actions, keys=keys)
                )
                continue
        entries = cdf_entries(log, v, actions)
        if entries:
            frames.append(read_change_files(spark, log, meta, entries))
    if not frames:
        empty = _load_snapshot_df(spark, log, meta, [])[0]
        return _with_commit_columns(
            empty.withColumn("_change_type", F.lit(None).cast("string")), 0, 0
        ).limit(0)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def _with_commit_columns(df: DataFrame, version: int, ts_ms: int) -> DataFrame:
    return df.withColumns(
        {
            "_commit_version": F.lit(version).cast("long"),
            "_commit_timestamp": F.timestamp_millis(F.lit(ts_ms)),
        }
    )


def read_change_files(
    spark: SparkSession,
    log: DeltaLog,
    meta: dict[str, Any],
    entries: list[dict[str, Any]],
) -> DataFrame:
    """The change rows of ``entries`` (``checkpoints.delta.change_entries``,
    at least one) with ``_change_type`` / ``_commit_version`` /
    ``_commit_timestamp``: one scan per (commit version, change type)
    group.  Injected-type entries are add-fallback inserts, DATA files read
    through ``_load_snapshot_df`` (schema-pinned, basePath-aware: on a
    partitioned table the partition columns live only in the col=value/
    layout, and a bare read would drop them and leak hidden row-id
    columns); cdc files materialize every column and carry
    ``_change_type`` in-file, so they are read as written.  Column-mapped
    physical names come back logical.  ``read_change_feed`` and the
    planned Delta source both read change files here."""
    inverse = {p: l for l, p in (_column_mapping(meta) or {}).items()}
    groups: dict[tuple[int, str | None], list[dict[str, Any]]] = {}
    for e in entries:
        groups.setdefault((e["commit_version"], e["change_type"]), []).append(e)
    out = None
    for (version, ctype), group in groups.items():
        if ctype is None:
            df = spark.read.parquet(*[log.abs_path(e["path"]) for e in group])
            if inverse:
                df = df.select(
                    *[F.col(f"`{c}`").alias(inverse.get(c, c)) for c in df.columns]
                )
        else:
            df = _load_snapshot_df(spark, log, meta, group)[0].withColumn(
                "_change_type", F.lit(ctype)
            )
        df = _with_commit_columns(df, version, group[0]["commit_timestamp_ms"])
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out


def analyze_table(table_path: str) -> dict[str, Any]:
    """Backfill per-file data-skipping stats for snapshot files that lack
    them — tables written before stats collection existed, or by other
    writers that skipped them.  One driver-side footer read per missing
    file; each gets its add action re-committed WITH stats as
    ``dataChange=false`` (replay replaces the action in place, streams
    skip the commit).  After this, ``read_table(..., where=...)`` prunes
    on the whole table.  Real Delta's ANALYZE TABLE ... COMPUTE
    STATISTICS plays the same role.
    """
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    missing = [
        a for a in log.snapshot_files(latest) if not a.get("stats")
    ]
    analyzed = []
    for add in missing:
        stats = _collect_file_stats(log.abs_path(add["path"]))
        if stats is None:
            continue
        payload = {
            k: v for k, v in add.items() if k != "commit_version"
        }
        analyzed.append({"add": {**payload, "stats": stats, "dataChange": False}})
    if not analyzed:
        return {"files_analyzed": 0, "version": None}
    actions: list[dict[str, Any]] = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "COMPUTE STATISTICS",
            }
        },
        *analyzed,
    ]
    version = latest + 1
    _write_commit(os.path.join(table_path, LOG_DIR), version, actions)
    return {"files_analyzed": len(analyzed), "version": version}


def _snapshot_reader(
    spark: SparkSession,
    log: DeltaLog,
    meta: dict[str, Any],
    *,
    extra_long_cols: tuple[str, ...] = (),
):
    """(reader, schema, part_cols) for the current snapshot — schema-pinned
    and basePath-aware so partition columns reconstruct.  On column-mapped
    tables the scan schema (and partition dirs) carry PHYSICAL names; the
    returned ``schema``/``part_cols`` stay LOGICAL — ``_load_snapshot_df``
    renames after the scan, so every caller sees logical columns.
    ``extra_long_cols`` appends hidden nullable LONG fields to the SCAN
    schema only (materialized row-id columns: absent from the logical
    schema, null in files written before materialization)."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = meta.get("partitionColumns") or []
    mapping = _column_mapping(meta)
    scan_schema = schema
    if mapping:
        parsed = json.loads(meta["schemaString"])
        for f in parsed.get("fields", []):
            f["name"] = mapping.get(f["name"], f["name"])
        scan_schema = StructType.fromJson(parsed)
    if extra_long_cols:
        scan_schema = StructType(
            list(scan_schema.fields)
            + [StructField(c, LongType(), True) for c in extra_long_cols]
        )
    reader = spark.read.schema(scan_schema)
    if part_cols:
        reader = reader.option("basePath", log.table_path)
    return reader, schema, part_cols


# characters java.net.URI percent-encodes in a path: ASCII outside its
# path set, and the non-ASCII control (Cc) and space (Zs/Zl/Zp) ones
_URI_ESCAPED = re.compile(
    r"[^A-Za-z0-9\-_.!~*'();:@&=+$,/\x80-\U0010ffff]"
    r"|[\x80-\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
)


def _file_uri(log: DeltaLog, rel_path: str) -> str:
    """The ``_metadata.file_path`` URI Spark reports for an add's file:
    Hadoop's ``Path.toUri()``, which percent-encodes (as UTF-8) what
    ``_URI_ESCAPED`` matches, e.g. a space as ``%20`` and ``%`` as ``%25``."""
    return "file:" + _URI_ESCAPED.sub(
        lambda m: "".join(f"%{b:02X}" for b in m.group().encode()),
        os.path.abspath(log.abs_path(rel_path)),
    )


def _load_snapshot_df(
    spark: SparkSession,
    log: DeltaLog,
    meta: dict[str, Any],
    adds: list[dict[str, Any]],
    *,
    keep_meta_cols: bool = False,
    row_ids: bool = False,
):
    """Load add actions into a DataFrame with inline DELETION VECTORS
    applied: DV'd files read with the parquet ``row_index`` metadata and
    anti-join their deleted positions (broadcast — inline DVs are small
    by construction, the writer falls back to copy-on-write above the
    threshold).  ``keep_meta_cols`` retains ``__file``/``__ri`` for DML
    hit detection.  ``row_ids`` surfaces row tracking as ``_row_id`` /
    ``_row_commit_version`` columns — per spec the MATERIALIZED hidden
    columns win when present (OPTIMIZE writes them to preserve ids through
    rewrites), else ``baseRowId + row_index``; one broadcast join against
    the file-list lookup, so the cost is O(files) metadata, not a shuffle.
    With no ``adds`` the frame is empty but typed (row-id columns
    included), so callers read, filter and join it unchanged.
    Returns (df, schema, part_cols)."""
    rid_col, rcv_col = _materialized_row_cols(meta)
    reader, schema, part_cols = _snapshot_reader(
        spark, log, meta, extra_long_cols=(rid_col, rcv_col) if row_ids else ()
    )
    if not adds:
        df = spark.createDataFrame([], schema)
        if row_ids:
            df = df.withColumns(
                dict.fromkeys(("_row_id", "_row_commit_version"), F.lit(None).cast("long"))
            )
        return df, schema, part_cols
    df = reader.parquet(*[log.abs_path(a["path"]) for a in adds])
    dv_adds = [a for a in adds if a.get("deletionVector")]
    if keep_meta_cols or dv_adds or row_ids:
        df = df.withColumn("__file", F.col("_metadata.file_path")).withColumn(
            "__ri", F.col("_metadata.row_index")
        )
    if row_ids:
        missing = [a["path"] for a in adds if a.get("baseRowId") is None]
        if missing:
            raise ValueError(
                f"row tracking is on but {len(missing)} file(s) lack "
                f"baseRowId (e.g. {missing[0]}); the table predates "
                "enablement and was never backfilled"
            )
        rid_rows = [
            (
                _file_uri(log, a["path"]),
                int(a["baseRowId"]),
                int(a.get("defaultRowCommitVersion", -1)),
            )
            for a in adds
        ]
        rid_df = spark.createDataFrame(
            rid_rows, "__rf string, __rb long, __rv long"
        )
        df = (
            df.join(F.broadcast(rid_df), df["__file"] == rid_df["__rf"], "left")
            .withColumn(
                "_row_id",
                F.coalesce(
                    F.col(f"`{rid_col}`"), F.col("__rb") + F.col("__ri")
                ),
            )
            .withColumn(
                "_row_commit_version",
                F.coalesce(F.col(f"`{rcv_col}`"), F.col("__rv")),
            )
            .drop("__rf", "__rb", "__rv", rid_col, rcv_col)
        )
    if dv_adds:
        from .dv import descriptor_positions

        pairs = []
        for a in dv_adds:
            uri = _file_uri(log, a["path"])
            pairs.extend(
                (uri, int(p)) for p in descriptor_positions(a["deletionVector"])
            )
        pos_df = spark.createDataFrame(pairs, "__dvf string, __dvp long")
        df = df.join(
            F.broadcast(pos_df),
            (df["__file"] == pos_df["__dvf"]) & (df["__ri"] == pos_df["__dvp"]),
            "left_anti",
        )
    if not keep_meta_cols and (dv_adds or row_ids):
        df = df.drop("__file", "__ri")
    mapping = _column_mapping(meta)
    if mapping:
        # physical -> logical: callers (readers, DML, compaction) always
        # operate in the logical namespace; staging translates back
        inverse = {p: l for l, p in mapping.items()}
        df = df.select(
            *[F.col(f"`{c}`").alias(inverse.get(c, c)) for c in df.columns]
        )
    return df, schema, part_cols


def prune_adds(
    meta: dict[str, Any],
    adds: list[dict[str, Any]],
    conjuncts: list[tuple[str, str, Any]],
) -> list[dict[str, Any]]:
    """The ``adds`` whose logged stats or partition values let some row
    satisfy every ``(col, op, literal)`` conjunct (logical column names;
    column-mapped tables translate to the physical stats keys).  Fails open
    per ``_file_may_match``, so the result is a superset of the files that
    hold matching rows."""
    if not conjuncts:
        return adds
    part_cols = set(meta.get("partitionColumns") or [])
    field_types = {
        f["name"]: f["type"]
        for f in json.loads(meta["schemaString"])["fields"]
        if isinstance(f.get("type"), str)
    }
    mapping = _column_mapping(meta)
    if mapping:
        # logged stats keys and partitionValues keys are physical
        conjuncts = [(mapping.get(c, c), op, lit) for c, op, lit in conjuncts]
        part_cols = {mapping.get(c, c) for c in part_cols}
        field_types = {mapping.get(k, k): v for k, v in field_types.items()}
    return [
        a for a in adds if _file_may_match(a, conjuncts, part_cols, field_types)
    ]


def _key_range_conjuncts(
    key_range: dict[str, tuple[Any, Any]],
) -> list[tuple[str, str, Any]] | None:
    """``col >= lo`` / ``col <= hi`` pruning conjuncts per key column, or
    None when no target row can match (a key column whose change values are
    all NULL: the merge's equi-join never matches NULL)."""
    out: list[tuple[str, str, Any]] = []
    for k, (lo, hi) in key_range.items():
        if lo is None:
            return None
        if isinstance(lo, float) and (math.isnan(lo) or math.isnan(hi)):
            # Spark orders NaN above every number and its join matches
            # NaN = NaN, but every Python comparison with NaN is False:
            # pruning on it would drop every file.  Fail open instead.
            continue
        out += [(k, ">=", lo), (k, "<=", hi)]
    return out


# Below this many candidate bytes, rewriting every candidate is cheaper
# than the extra Spark job that finds the files a change hits.  On a
# 4-core VM that job cost ~0.8 s against a 2.4 MB, 4-file MV, and saved
# ~0.15 s and 15 of 16 file rewrites against a 16 MB, 16-file one.
HIT_PASS_MIN_BYTES = 8 << 20


def key_range_candidates(
    spark: SparkSession,
    table_path: str,
    version: int,
    key_range: dict[str, tuple[Any, Any]] | None,
    *,
    hit_keys: DataFrame | None = None,
) -> tuple[DataFrame, list[dict[str, Any]]]:
    """The rows at ``version`` in the files a keyed rewrite must replace,
    and those files' add actions — the candidate step both jar-less
    MERGE-shaped writers (``apply_cdc_table``'s merge, the MV fold) share.
    Commit the rewrite with ``read_version=version`` and the adds' paths
    as ``remove_paths``.

    Candidates are the files whose logged stats overlap ``key_range``
    (every file when it is None; ``prune_adds`` fails open per file).
    With ``hit_keys`` (a frame of key columns), more than one such file
    and more than ``HIT_PASS_MIN_BYTES`` of them, one key-only job
    narrows them to the files holding one of those keys, so a change whose
    range spans many files (hash-laid-out files, keys the stats cannot
    prune) rewrites only the files it hits.
    Deletion vectors apply.  On a row-tracked table the rows carry
    ``_row_id`` / ``_row_commit_version``, which ``write_delta_fallback``'s
    ``remove_paths`` rewrite keeps.  With no candidates the frame is empty
    but typed, so callers join against it unchanged."""
    log = DeltaLog(table_path)
    meta = log.table_metadata(at_version=version) or {}
    adds = log.snapshot_files(version)
    log.check_reader_supported(
        at_version=version, adds=adds, allow_column_mapping=True
    )
    if key_range is not None:
        conjuncts = _key_range_conjuncts(key_range)
        adds = [] if conjuncts is None else prune_adds(meta, adds, conjuncts)
    if (
        hit_keys is not None
        and len(adds) > 1
        and sum(a.get("size", 0) for a in adds) > HIT_PASS_MIN_BYTES
    ):
        probe = _load_snapshot_df(spark, log, meta, adds, keep_meta_cols=True)[0]
        hit = {
            r[0]
            for r in probe.join(hit_keys, hit_keys.columns, "left_semi")
            .select("__file")
            .distinct()
            .collect()
        }
        adds = [a for a in adds if _file_uri(log, a["path"]) in hit]
    row_ids = _row_tracking_enabled(meta)
    return _load_snapshot_df(spark, log, meta, adds, row_ids=row_ids)[0], adds


def change_key_stats(
    table_path: str, start: int, end: int, columns: list[str]
) -> tuple[int, dict[str, tuple[Any, Any]], bool]:
    """What the log says about the change files of versions
    ``[start, end]``, without reading data: ``(files, key_range,
    null_free)``.

    ``files`` counts the data-change files (``add``/``remove`` with
    ``dataChange``, or the version's ``cdc`` files when it has them); 0
    means the window changed no row.  ``key_range`` maps each of
    ``columns`` to the (min, max) of the files' logged stats, a superset
    of every key the window's change rows hold.  A column is left out
    (fails open) when any file lacks a comparable min/max for it (``cdc``
    files and this writer's ``remove`` actions log no stats), a bound is
    NaN, or its type is outside ``RANGE_PRUNABLE_TYPES``.  ``null_free``
    is True only when every file logs ``nullCount`` 0 for every column."""
    log = DeltaLog(table_path)
    meta = log.table_metadata(at_version=end) or {}
    types = {
        f["name"]: f["type"]
        for f in json.loads(meta["schemaString"])["fields"]
        if isinstance(f.get("type"), str)
    }
    phys = _column_mapping(meta) or {}
    stats: list[dict[str, Any]] = []
    for v in range(start, end + 1):
        # the files read_change_feed turns into this version's change rows
        cdcs, adds, removes = change_actions(log.actions(v))
        stats += [
            json.loads(f["stats"]) if f.get("stats") else {}
            for f in cdcs + adds + removes
        ]

    def logged(kind: str, col: str) -> list[Any]:
        return [s.get(kind, {}).get(phys.get(col, col)) for s in stats]

    null_free = all(n == 0 for c in columns for n in logged("nullCount", c))
    key_range: dict[str, tuple[Any, Any]] = {}
    for c in columns:
        if types.get(c) not in RANGE_PRUNABLE_TYPES:
            continue
        want = str if types[c] in _PRUNABLE_STRING else (int, float)
        lows, highs = logged("minValues", c), logged("maxValues", c)
        if stats and all(
            isinstance(b, want) and not isinstance(b, bool) and b == b
            for b in lows + highs
        ):
            key_range[c] = (min(lows), max(highs))
    return len(stats), key_range, null_free


def delete_where(
    spark: SparkSession,
    table_path: str,
    where: str,
    *,
    write_cdf: bool = False,
    dv_max_rows_per_file: int | None = None,
) -> dict[str, Any]:
    """``DELETE FROM <table> WHERE ...`` for the jar-less path.

    Candidates are pre-pruned via logged stats / partitionValues, hits
    confirmed per file via the parquet ``_metadata`` columns.  Per hit
    file, the delete then takes one of two routes:

    - **deletion vector** (<= ``dv_max_rows_per_file`` hits): the file's
      add action is re-committed with an INLINE DV marking the deleted
      row positions — a metadata-only delete, zero data IO, merged with
      any DV the file already carries.  The snapshot reader applies DVs
      on every read.
    - **copy-on-write** (more hits, or DVs disabled): the file rewrites
      without the matching rows, which keep their stored values (row ids,
      identity and generated columns included).

    Route selection mirrors real Delta: DVs engage only when the table
    property ``delta.enableDeletionVectors`` is ``true`` (set it with
    ``set_table_properties``), unless ``dv_max_rows_per_file`` overrides
    explicitly (0 forces copy-on-write, >0 forces the DV threshold).

    Rows where the predicate is NULL survive (SQL DELETE deletes only
    TRUE).  ``write_cdf`` stages the deleted rows as change-data files in
    the same commit, so CDF consumers see precise deletes either way.

    Both routes are ONE commit through ``write_delta_fallback``'s
    ``remove_paths`` rewrite (the DV route's positions as its
    ``deletion_vectors``) on the version the hits were read at, so a
    table that moved raises ``CommitConflictError`` before anything is
    staged, and the commit shares that writer's checks: the protocol
    upgrade, CHECK constraints on a copy-on-write rewrite's rows (one
    job), row-id bookkeeping and the periodic log checkpoint.

    Returns metrics: files_matched / files_rewritten / files_dv /
    rows_deleted / version (None when nothing matched — no empty commits).
    """
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    log.check_reader_supported(allow_column_mapping=True)
    meta = log.table_metadata() or {}
    if dv_max_rows_per_file is None:
        enabled = (meta.get("configuration") or {}).get(
            "delta.enableDeletionVectors"
        ) == "true"
        dv_max_rows_per_file = 10_000 if enabled else 0
    candidates = prune_adds(
        meta, log.snapshot_files(latest), _skipping_conjuncts(where)
    )
    empty = {
        "files_matched": 0,
        "files_rewritten": 0,
        "files_dv": 0,
        "rows_deleted": 0,
        "version": None,
    }
    if not candidates:
        return empty
    by_uri = {_file_uri(log, a["path"]): a for a in candidates}
    rt_on = _row_tracking_enabled(meta)
    # row-tracked tables load WITH row ids so a copy-on-write rewrite keeps
    # survivors' ids (write_delta_fallback's rewrite rule)
    df = _load_snapshot_df(
        spark, log, meta, candidates, keep_meta_cols=True, row_ids=rt_on
    )[0]
    pred = F.expr(where)
    # ONE job finds both the hit files and the per-file delete counts
    hits = (
        df.filter(pred).groupBy("__file").agg(F.count("*").alias("__n")).collect()
    )
    if not hits:
        return {**empty, "files_matched": len(candidates)}
    # per-file threshold AND a global budget cap the driver-side position
    # collect: smallest hit-counts take the DV route first, the rest
    # rewrite — a wide DELETE over thousands of files can never
    # accumulate unbounded positions on the driver
    dv_uris: list = []
    if dv_max_rows_per_file > 0:
        budget = DV_GLOBAL_POSITION_BUDGET
        for r in sorted(hits, key=lambda r: r["__n"]):
            if r["__n"] <= dv_max_rows_per_file and r["__n"] <= budget:
                dv_uris.append(r["__file"])
                budget -= r["__n"]
    rw_uris = [r["__file"] for r in hits if r["__file"] not in set(dv_uris)]
    positions: dict[str, list[int]] = {}
    if dv_uris:
        # bounded collect: every DV file has <= dv_max_rows_per_file hits
        for r in (
            df.filter(pred & F.col("__file").isin(dv_uris))
            .select("__file", "__ri")
            .collect()
        ):
            positions.setdefault(by_uri[r["__file"]]["path"], []).append(int(r["__ri"]))
    survivors = (
        df.filter(F.col("__file").isin(rw_uris))
        .filter(~F.coalesce(pred, F.lit(False)))
        .drop("__file", "__ri")
    )
    deleted = (
        df.filter(F.col("__file").isin(dv_uris + rw_uris))
        .filter(pred)
        .drop("__file", "__ri", "_row_id", "_row_commit_version")
        .withColumn("_change_type", F.lit("delete"))
    )
    version = write_delta_fallback(
        # a DV-only delete writes no data file: limit(0) stages nothing
        survivors if rw_uris else survivors.limit(0),
        table_path,
        mode="overwrite",
        cdc_df=deleted if write_cdf else None,
        remove_paths={by_uri[u]["path"] for u in rw_uris},
        read_version=latest,
        operation=("DELETE", {"predicate": where}),
        deletion_vectors=positions,
    )
    return {
        "files_matched": len(candidates),
        "files_rewritten": len(rw_uris),
        "files_dv": len(dv_uris),
        "rows_deleted": sum(r["__n"] for r in hits),
        "version": version,
    }


def update_where(
    spark: SparkSession,
    table_path: str,
    where: str,
    set_exprs: dict[str, str],
    *,
    write_cdf: bool = False,
) -> dict[str, Any]:
    """``UPDATE <table> SET col = expr, ... WHERE ...`` for the jar-less
    path — the same stats-pruned candidates as ``delete_where``, and one
    job over them that finds the files holding a matching row.  Only those
    files rewrite, non-matching rows in them carried with their values.
    ``set_exprs`` values are SQL expressions evaluated against the
    PRE-update row (standard UPDATE semantics: all assignments see the old
    values).

    The rewrite commits through ``write_delta_fallback``'s
    ``remove_paths`` overwrite on the version the candidates were read
    at (a table that moved raises ``CommitConflictError``), so it shares
    that writer's checks: CHECK constraints (a violating update aborts
    before any file is staged), row ids kept (an updated row's commit
    version advances), and the periodic log checkpoint.  Generated
    columns recompute only on updated rows: theirs are nulled for the
    writer to compute, and carried rows keep their stored values, so an
    expression that reads a session setting (e.g. the time zone) cannot
    change an untouched row.  ``write_cdf`` emits
    update_preimage/update_postimage rows in the same commit.
    """
    if not set_exprs:
        raise ValueError("set_exprs must be non-empty")
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    log.check_reader_supported(allow_column_mapping=True)
    meta = log.table_metadata() or {}
    known = {f["name"] for f in json.loads(meta["schemaString"])["fields"]}
    unknown = set(set_exprs) - known
    if unknown:
        raise ValueError(f"SET targets unknown columns: {sorted(unknown)}")
    gen_exprs = _generated_columns(meta)
    direct = set(set_exprs) & set(gen_exprs)
    if direct:
        raise ValueError(
            f"cannot directly assign generated columns {sorted(direct)}; "
            f"update their source columns and the values recompute"
        )
    candidates = prune_adds(
        meta, log.snapshot_files(latest), _skipping_conjuncts(where)
    )
    result = {
        "files_matched": len(candidates),
        "files_rewritten": 0,
        "rows_updated": 0,
        "version": None,
    }
    if not candidates:
        return result
    pred = F.expr(where)
    hits = (
        _load_snapshot_df(spark, log, meta, candidates, keep_meta_cols=True)[0]
        .filter(pred)
        .groupBy("__file")
        .agg(F.count("*").alias("__n"))
        .collect()
    )
    if not hits:
        return result
    by_uri = {_file_uri(log, a["path"]): a for a in candidates}
    hit_adds = [by_uri[r["__file"]] for r in hits]
    rt_on = _row_tracking_enabled(meta)
    df, schema, _ = _load_snapshot_df(spark, log, meta, hit_adds, row_ids=rt_on)
    matched = F.coalesce(pred, F.lit(False))
    # an updated row's generated values go null for the writer to compute
    assign = {**set_exprs, **dict.fromkeys(gen_exprs, "NULL")}
    new_cols = [
        F.when(matched, F.expr(assign[f.name]).cast(f.dataType))
        .otherwise(F.col(f.name))
        .alias(f.name)
        if f.name in assign
        else F.col(f.name)
        for f in schema.fields
    ]
    # an updated row keeps its id; its null commit version becomes this
    # commit's (write_delta_fallback's row-tracking rule)
    rt_cols = [
        "_row_id",
        F.when(matched, F.lit(None))
        .otherwise(F.col("_row_commit_version"))
        .cast("long")
        .alias("_row_commit_version"),
    ] if rt_on else []
    cdc_df = None
    if write_cdf:
        # both images from the PRE-update match: re-evaluating the
        # predicate on post-update values would drop a row whose SET
        # falsified its own WHERE (e.g. UPDATE SET x=0 WHERE x=1)
        changed = df.filter(matched)
        cdc_df = changed.select(
            *schema.fieldNames(), F.lit("update_preimage").alias("_change_type")
        ).unionByName(
            changed.select(*new_cols, F.lit("update_postimage").alias("_change_type"))
        )
    version = write_delta_fallback(
        df.select(*new_cols, *rt_cols),
        table_path,
        mode="overwrite",
        cdc_df=cdc_df,
        remove_paths={a["path"] for a in hit_adds},
        read_version=latest,
        operation=("UPDATE", {"predicate": where}),
    )
    return {
        **result,
        "files_rewritten": len(hit_adds),
        "rows_updated": sum(r["__n"] for r in hits),
        "version": version,
    }


def clone_table(
    source_path: str,
    target_path: str,
    *,
    version: int | None = None,
) -> dict[str, Any]:
    """SHALLOW CLONE: create a new Delta table whose log REFERENCES the
    source's data files by absolute path — a zero-copy snapshot for
    dev/test/what-if work (real Delta's ``CREATE TABLE ... SHALLOW CLONE``;
    the spec allows absolute paths in add actions, and ``abs_path``'s
    os.path.join passes absolute entries through untouched).

    The clone is independent from version 0: appends land in the clone's
    own directory, DML rewrites hit files INTO the clone (copy-on-write
    pulls the rows out of the shared source file), and the clone's VACUUM
    walks only the clone directory so shared source files are never
    reclaimed by it.  ``version`` clones a historical snapshot (time
    travel at clone time).  Deletion vectors on the source snapshot are
    carried verbatim (inline DVs live in the log).
    """
    src_log = DeltaLog(source_path)
    latest = src_log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {source_path}")
    at = latest if version is None else version
    src_log.check_reader_supported(at_version=at, allow_column_mapping=True)
    meta = src_log.table_metadata(at_version=at) or {}
    adds = src_log.snapshot_files(at)
    proto = src_log.protocol(at_version=at) or {
        "minReaderVersion": 1,
        "minWriterVersion": 2,
    }
    os.makedirs(os.path.join(target_path, LOG_DIR), exist_ok=True)
    now_ms = int(time.time() * 1000)
    actions: list[dict[str, Any]] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "CLONE",
                "operationParameters": {
                    "source": source_path,
                    "sourceVersion": at,
                },
            }
        },
        {"protocol": proto},
        {
            "metaData": {
                **meta,
                "id": str(uuid.uuid4()),  # a clone is a NEW table identity
                "createdTime": now_ms,
            }
        },
    ]
    for add in adds:
        payload = {k: v for k, v in add.items() if k != "commit_version"}
        payload["path"] = os.path.abspath(src_log.abs_path(add["path"]))
        actions.append({"add": payload})
    if _row_tracking_enabled(meta):
        # carry the source's row-id watermark: the cloned adds keep their
        # baseRowId ranges, so a clone that allocated from -1 would hand
        # out ids the referenced files already occupy
        actions.append(_row_tracking_domain_action(_row_id_hwm(src_log)))
    _write_commit(os.path.join(target_path, LOG_DIR), 0, actions)
    return {"files_referenced": len(adds), "source_version": at, "version": 0}


def merge_into(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    *,
    keys: list[str],
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: str | None = None,
    when_not_matched_insert: bool = True,
    write_cdf: bool = False,
    user_metadata: str | None = None,
    domain_metadata: dict[str, str] | None = None,
) -> dict[str, Any]:
    """``MERGE INTO <target> USING <source> ON <equi-keys>`` for the
    jar-less path — the general three-clause merge.  It rewrites ONLY the
    files holding a target row that a delete or update clause acts on
    (apply_cdc_table's jar-less merge instead rewrites the files whose
    logged key stats overlap the batch's key range, without reading the
    others).

    Clause semantics (real Delta's):

    - matched + ``when_matched_delete`` condition TRUE -> row deleted
      (evaluated first, like ``WHEN MATCHED AND <cond> THEN DELETE``;
      pass ``"true"`` for an unconditional matched-delete).
    - matched otherwise + ``when_matched_update`` -> columns assigned
      from expressions that may reference target columns and source
      columns as ``src.<col>``; every assignment sees PRE-update values.
    - unmatched source rows + ``when_not_matched_insert`` -> inserted
      (schema-aligned by name; missing target columns become null).
    - Delta's multiple-match rule enforced: two source rows matching one
      target row abort the merge.

    Scale shape: one Spark action inner-joins the source to every
    snapshot file (no stats pruning; a small source Spark can size
    broadcasts, so no target row is shuffled) and returns, per file, the matched rows, the
    distinct target rows among them (the multiple-match check), and how
    many rows each clause deletes or updates.  With the insert clause a
    second action counts the inserts: the source rows that the files some
    source row matched do not match.  A merge that deletes, updates and
    inserts nothing commits nothing (``version`` None).  Otherwise the
    hit files' rows, merged with the source, and the inserts are ONE
    write through ``write_delta_fallback``'s ``remove_paths`` overwrite
    on the version those actions read (a table that moved raises
    ``CommitConflictError``).  That writer enforces CHECK constraints,
    keeps row ids (an updated row's commit version advances, an inserted
    row gets a fresh id), commits ``domain_metadata`` and writes the
    periodic log checkpoint.  Generated columns compute for updated rows
    (nulled here) and for inserted rows the source does not give them;
    carried rows keep their stored values, so an expression that reads a
    session setting cannot change a row no clause touched.  ``write_cdf``
    emits the full change set (delete / update_preimage /
    update_postimage / insert) in the same commit.
    """
    from pyspark.sql.types import StructType

    from ..errors import ConstraintViolationError

    if not keys:
        raise ValueError("keys must be non-empty")
    if when_matched_update is None and when_matched_delete is None and not when_not_matched_insert:
        raise ValueError("at least one merge clause is required")
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    log.check_reader_supported(allow_column_mapping=True)
    meta = log.table_metadata() or {}
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    gen_exprs = _generated_columns(meta)
    if when_matched_update:
        direct = set(when_matched_update) & set(gen_exprs)
        if direct:
            raise ValueError(
                f"cannot directly assign generated columns {sorted(direct)}; "
                f"update their source columns and the values recompute"
            )
    id_specs = _identity_columns(meta)
    if when_not_matched_insert and id_specs:
        missing_ids = [
            c
            for c, spec in id_specs.items()
            if c not in source.columns or not spec["allow"]
        ]
        if missing_ids:
            # the writer's rewrite could generate them past the watermark
            # (apply_cdc_table's merge does); MERGE keeps requiring them
            raise ValueError(
                f"MERGE INSERT takes identity columns {sorted(missing_ids)} "
                f"from the source only; disable when_not_matched_insert, or "
                f"declare the column allow_explicit_insert and supply values "
                f"in the source"
            )

    # source columns move behind a reserved prefix, so bare names in
    # clause expressions ALWAYS mean the target (real Delta's rule) and
    # `src.<col>` references rewrite onto the prefixed columns
    def rewrite(expr: str) -> str:
        return re.sub(r"\bsrc\.(\w+)", r"__src_\1", expr)

    # an inserted row's generated value the source provides must agree
    # with its expression (the writer's rewrite keeps it as given)
    provided = set(gen_exprs) & set(source.columns) if when_not_matched_insert else set()
    gen_bad = F.lit(False)
    for name in provided:
        gen_bad = gen_bad | ~F.col(name).eqNullSafe(F.expr(gen_exprs[name]))
    src = source.select(
        *[F.col(f"`{c}`").alias(f"__src_{c}") for c in source.columns],
        F.lit(True).alias("__in_src"),
        gen_bad.alias("__gen_bad"),
    )
    # Plain (null-unsafe) equality, matching real Delta's `ON t.k = s.k`:
    # a NULL merge key never matches, so NULL-key source rows fall through
    # to the not-matched insert clause
    cond = None
    for k in keys:
        term = F.col(k) == F.col(f"__src_{k}")
        cond = term if cond is None else (cond & term)

    def clauses(matched):
        """(delete, update) conditions; the delete clause acts first."""
        delete = (
            matched & F.coalesce(F.expr(rewrite(when_matched_delete)), F.lit(False))
            if when_matched_delete
            else F.lit(False)
        )
        update = matched & ~delete if when_matched_update else F.lit(False)
        return delete, update

    adds = log.snapshot_files(latest)
    files = []
    if adds:
        # an inner join, so a small source whose size Spark knows (not a
        # createDataFrame of a local list) broadcasts and no target row
        # is shuffled
        delete, update = clauses(F.lit(True))
        files = (
            _load_snapshot_df(spark, log, meta, adds, keep_meta_cols=True)[0]
            .join(src, cond)
            .groupBy("__file")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("__ri").alias("rows"),
                F.sum(delete.cast("long")).alias("d"),
                F.sum(update.cast("long")).alias("u"),
            )
            .collect()
        )
    if (when_matched_update or when_matched_delete) and any(
        r["n"] != r["rows"] for r in files
    ):
        raise ValueError(
            "MERGE aborted: multiple source rows match the same "
            "target row (Delta's cardinality rule); dedupe the "
            "source on the merge keys first"
        )
    by_uri = {_file_uri(log, a["path"]): a for a in adds}
    hit_adds = [by_uri[r["__file"]] for r in files if r["d"] or r["u"]]
    metrics = {
        "rows_updated": sum(r["u"] for r in files),
        "rows_deleted": sum(r["d"] for r in files),
        "rows_inserted": 0,
    }
    if when_not_matched_insert:
        # a source row no file matched matches nothing outside the files
        # some row did: only those need the anti join, and none may
        matched = [by_uri[r["__file"]] for r in files]
        unmatched = src
        if matched:
            unmatched = src.join(
                _load_snapshot_df(spark, log, meta, matched)[0], cond, "left_anti"
            )
        ins = unmatched.agg(
            F.count(F.lit(1)).alias("n"), F.max("__gen_bad").alias("gen_bad")
        ).first()
        if ins["gen_bad"]:
            raise ConstraintViolationError(
                f"generated columns {sorted(provided)} disagree with the values "
                "the source provides for inserted rows"
            )
        metrics["rows_inserted"] = ins["n"]
    if not hit_adds and not metrics["rows_inserted"]:
        return {**metrics, "version": None}

    # an updated row's generated values go null for the writer to compute
    updates = (
        {**when_matched_update, **dict.fromkeys(gen_exprs, "NULL")}
        if when_matched_update
        else {}
    )
    parts, feed = [], []
    if hit_adds:
        rt_on = _row_tracking_enabled(meta)
        j = _load_snapshot_df(spark, log, meta, hit_adds, row_ids=rt_on)[0].join(
            src, cond, "left"
        )
        delete, update = clauses(F.col("__in_src").isNotNull())
        new_cols = [
            F.when(update, F.expr(rewrite(updates[f.name])).cast(f.dataType))
            .otherwise(F.col(f.name))
            .alias(f.name)
            if f.name in updates
            else F.col(f.name)
            for f in schema.fields
        ]
        # rewritten rows keep their ids; an updated row's null commit
        # version becomes this commit's (write_delta_fallback's rule)
        rt_cols = [
            "_row_id",
            F.when(update, F.lit(None))
            .otherwise(F.col("_row_commit_version"))
            .cast("long")
            .alias("_row_commit_version"),
        ] if rt_on else []
        parts.append(j.filter(~delete).select(*new_cols, *rt_cols))
        feed += [
            j.filter(delete | update).select(
                *schema.fieldNames(),
                F.when(delete, F.lit("delete"))
                .otherwise(F.lit("update_preimage"))
                .alias("_change_type"),
            ),
            j.filter(update).select(
                *new_cols, F.lit("update_postimage").alias("_change_type")
            ),
        ]
    if metrics["rows_inserted"]:
        inserts = unmatched.select(
            *[
                F.col(f"__src_{f.name}").cast(f.dataType).alias(f.name)
                if f.name in source.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
        parts.append(inserts)
        feed.append(inserts.withColumn("_change_type", F.lit("insert")))
    merged, cdc_df = parts[0], feed[0]
    for p in parts[1:]:
        merged = merged.unionByName(p, allowMissingColumns=True)
    for p in feed[1:]:
        cdc_df = cdc_df.unionByName(p)
    version = write_delta_fallback(
        merged,
        table_path,
        mode="overwrite",
        cdc_df=cdc_df if write_cdf else None,
        user_metadata=user_metadata,
        domain_metadata=domain_metadata,
        remove_paths={a["path"] for a in hit_adds},
        read_version=latest,
        operation=("MERGE", {"keys": json.dumps(keys)}),
    )
    return {**metrics, "version": version}


def vacuum_fallback(table_path: str, *, retention_hours: float = 168.0, dry_run: bool = False) -> list[str]:
    """Delete data files no longer referenced by the latest snapshot and older
    than the retention window (X6 without the jar).

    Also reclaims ``_change_data/`` CDF files: a cdc file is deletable once
    its COMMIT TIMESTAMP falls outside the retention window (its path is
    recorded in exactly one commit's ``cdc`` action, so referenced-vs-expired
    is decidable from the log — mirrors real Delta VACUUM, which drops change
    data together with the out-of-retention versions that produced it).
    Change files are judged by commit timestamp, not file mtime, so a slow
    rewrite can't age a still-retained change file into deletion.
    """
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        return []
    active = {a["path"] for a in log.snapshot_files(latest)}
    cutoff = time.time() - retention_hours * 3600
    removed = []
    # walk recursively: partitioned tables keep data files in col=value/ dirs
    for root, dirs, files in os.walk(table_path):
        rel_root = os.path.relpath(root, table_path)
        if rel_root.split(os.sep)[0] in (LOG_DIR, "_change_data"):
            dirs[:] = []
            continue
        for name in files:
            rel = name if rel_root == "." else f"{rel_root}/{name}"
            if not name.endswith(".parquet") or rel in active:
                continue
            full = os.path.join(root, name)
            if os.stat(full).st_mtime <= cutoff:
                removed.append(full)
                if not dry_run:
                    os.unlink(full)

    # ---- _change_data/: map every logged cdc path -> its commit timestamp
    cdc_dir = os.path.join(table_path, "_change_data")
    if os.path.isdir(cdc_dir):
        cutoff_ms = int(cutoff * 1000)
        expired_cdc: set[str] = set()
        retained_cdc: set[str] = set()
        for version in log.versions():
            ts_ms = log.commit_timestamp_ms(version)
            for action in log.actions(version):
                if "cdc" in action:
                    rel = action["cdc"].get("path", "")
                    (expired_cdc if ts_ms <= cutoff_ms else retained_cdc).add(
                        os.path.basename(rel)
                    )
        for name in os.listdir(cdc_dir):
            if not name.endswith(".parquet") or name in retained_cdc:
                continue
            full = os.path.join(cdc_dir, name)
            # expired by commit ts, or an orphan no commit references
            if name in expired_cdc or os.stat(full).st_mtime <= cutoff:
                removed.append(full)
                if not dry_run:
                    os.unlink(full)
    return removed


def compact_fallback(
    spark: SparkSession,
    table_path: str,
    *,
    target_partitions: int | None = None,
    partition_filter: dict[str, str] | None = None,
    z_order_by: list[str] | None = None,
) -> None:
    """OPTIMIZE-style compaction (X7 without the jar): rewrite the snapshot
    into fewer files with a dataChange=false commit (streams skip it).

    ``partition_filter`` scopes the rewrite to matching partitions (real
    Delta's ``OPTIMIZE ... WHERE``): only their files are rewritten and
    logged, so compacting one hot partition never touches — or pays for —
    the rest of a 100 TB table.  Matching is on the logged
    ``partitionValues`` (string equality), never a data scan.

    ``z_order_by`` rewrites through the Morton-curve clustering
    (``functions.layout.zorder_by``) instead of a plain coalesce — the
    jar-less ``OPTIMIZE ... ZORDER BY``: rewritten files carry small
    min/max ranges on EVERY listed column, so row-group stats prune scans
    filtered on any of them.

    The rows are read through the deletion-vector-applying loader (the
    rewritten files carry no DV) and commit through
    ``write_delta_fallback``'s ``remove_paths`` rewrite as an ``OPTIMIZE``
    on the version they were read at: the writer logs ``dataChange:
    false``, writes the rows as given (row ids kept as materialized
    columns, no CHECK gate, no generated or identity fill), raises
    ``CommitConflictError`` when the table moved, and writes the periodic
    log checkpoint.
    """
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    snapshot = log.snapshot_files(latest)
    meta = log.table_metadata() or {}
    part_cols = meta.get("partitionColumns") or []
    if partition_filter:
        unknown = set(partition_filter) - set(part_cols)
        if unknown:
            raise ValueError(
                f"partition_filter keys {sorted(unknown)} are not partition "
                f"columns {part_cols}"
            )
        # logged partitionValues keys are PHYSICAL on mapped tables
        cm = _column_mapping(meta) or {}
        phys_filter = {cm.get(k, k): v for k, v in partition_filter.items()}
        snapshot = [
            a
            for a in snapshot
            if all(
                a.get("partitionValues", {}).get(k) == v
                for k, v in phys_filter.items()
            )
        ]
    if not snapshot:
        return
    df = _load_snapshot_df(
        spark, log, meta, snapshot, row_ids=_row_tracking_enabled(meta)
    )[0]
    if z_order_by:
        from ..functions.layout import zorder_by as _zorder

        df = _zorder(
            df,
            z_order_by,
            num_files=target_partitions or max(1, len(snapshot) // 4),
        )
    else:
        df = df.coalesce(target_partitions or 1)
    write_delta_fallback(
        df,
        table_path,
        mode="overwrite",
        remove_paths={a["path"] for a in snapshot},
        read_version=latest,
        operation=("OPTIMIZE", {"zOrderBy": list(z_order_by)} if z_order_by else {}),
    )


def _checkpoint_arrow_schema():
    import pyarrow as pa

    str_map = pa.map_(pa.string(), pa.string())
    return pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        # REQUIRED for (3, 7) tables: dropping the feature
                        # lists at checkpoint time silently disarmed
                        # reader-feature gating once expire_log removed the
                        # JSON commit that carried them (a real delta-spark
                        # reader rejects a (3,7) protocol without them)
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("name", pa.string()),
                        ("description", pa.string()),
                        (
                            "format",
                            pa.struct(
                                [("provider", pa.string()), ("options", str_map)]
                            ),
                        ),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", str_map),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", str_map),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        # row tracking: ids derive from baseRowId + row
                        # position; dropping these at checkpoint time would
                        # silently renumber every row once expire_log
                        # removes the JSON commits that carried them
                        ("baseRowId", pa.int64()),
                        ("defaultRowCommitVersion", pa.int64()),
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("offset", pa.int32()),
                                    ("sizeInBytes", pa.int32()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            (
                "remove",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("deletionTimestamp", pa.int64()),
                        ("dataChange", pa.bool_()),
                    ]
                ),
            ),
            (
                "domainMetadata",
                pa.struct(
                    [
                        ("domain", pa.string()),
                        ("configuration", pa.string()),
                        ("removed", pa.bool_()),
                    ]
                ),
            ),
        ]
    )


def _project_to_fields(payload: dict[str, Any], struct_type) -> dict[str, Any]:
    """Keep only the checkpoint schema's fields (actions may carry extras
    like the replay-injected commit_version)."""
    names = {f.name for f in struct_type}
    return {k: v for k, v in payload.items() if k in names}


def checkpoint_log(
    table_path: str, *, version: int | None = None, parts: int | None = None
) -> str:
    """Write a parquet log checkpoint (Delta PROTOCOL.md layout: one action
    per row in protocol/metaData/add/remove columns) plus ``_last_checkpoint``.

    At scale this caps snapshot cost: replay reads one parquet file + the
    JSON tail instead of every commit since table creation, and
    ``expire_log`` can then delete the summarized JSON commits.  Remove
    tombstones are carried so VACUUM stays correct after expiry.

    ``parts`` > 1 writes the spec's MULTI-PART form
    (``<v>.checkpoint.<part>.<parts>.parquet``) with the action rows
    sliced evenly across parts: a 10M-file table's single checkpoint file
    is a driver-memory and single-stream-IO bottleneck; parts bound both
    and parallelize the read.  Parts land BEFORE ``_last_checkpoint``, and
    readers accept a multi-part set only when COMPLETE — a crash mid-write
    leaves an ignorable partial set, never a shrunken table.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    log = DeltaLog(table_path)
    if version is None:
        version = log.latest_version()
    if version is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")

    protocol: dict[str, Any] | None = None
    meta: dict[str, Any] | None = None
    active: dict[str, dict[str, Any]] = {}
    tombstones: dict[str, dict[str, Any]] = {}
    domains: dict[str, dict[str, Any]] = {}  # latest action per domain,
    # removed tombstones INCLUDED (a re-created domain after expiry must
    # not resurrect from a stale JSON commit)
    start_after = -1
    cv = log.checkpoint_version()
    if cv is not None and cv <= version:
        for action in log.checkpoint_actions(cv):
            if "add" in action:
                active[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                tombstones[action["remove"]["path"]] = action["remove"]
            elif "metaData" in action:
                meta = action["metaData"]
            elif "protocol" in action:
                protocol = action["protocol"]
            elif "domainMetadata" in action:
                dm = action["domainMetadata"]
                domains[dm["domain"]] = dm
        start_after = cv
    for v in log.versions():
        if v <= start_after:
            continue
        if v > version:
            break
        for action in log.actions(v):
            if "add" in action:
                add = action["add"]
                active[add["path"]] = add
                tombstones.pop(add["path"], None)
            elif "remove" in action:
                rem = action["remove"]
                active.pop(rem["path"], None)
                tombstones[rem["path"]] = rem
            elif "metaData" in action:
                meta = action["metaData"]
            elif "protocol" in action:
                protocol = action["protocol"]
            elif "domainMetadata" in action:
                dm = action["domainMetadata"]
                domains[dm["domain"]] = dm

    schema = _checkpoint_arrow_schema()
    by_name = {f.name: f.type for f in schema}
    rows: list[dict[str, Any]] = []
    if protocol:
        rows.append({"protocol": _project_to_fields(protocol, by_name["protocol"])})
    if meta:
        rows.append({"metaData": _project_to_fields(meta, by_name["metaData"])})
    rows.extend(
        {"add": _project_to_fields(active[p], by_name["add"])} for p in sorted(active)
    )
    rows.extend(
        {"remove": _project_to_fields(tombstones[p], by_name["remove"])}
        for p in sorted(tombstones)
    )
    rows.extend(
        {
            "domainMetadata": _project_to_fields(
                domains[d], by_name["domainMetadata"]
            )
        }
        for d in sorted(domains)
    )

    log_dir = os.path.join(table_path, LOG_DIR)
    if parts is not None and parts > 1:
        n = min(parts, max(1, len(rows)))  # never emit empty parts
        out = os.path.join(
            log_dir, f"{version:020d}.checkpoint.{1:010d}.{n:010d}.parquet"
        )  # return contract: a checkpoint FILE path (part 1 of n)
        for i in range(n):
            part_path = os.path.join(
                log_dir, f"{version:020d}.checkpoint.{i + 1:010d}.{n:010d}.parquet"
            )
            tmp = part_path + f".tmp-{uuid.uuid4().hex}"
            # round-robin slice: action order within a checkpoint is
            # immaterial (it is a SET of latest actions) and every part
            # stays non-empty for n <= len(rows)
            pq.write_table(pa.Table.from_pylist(rows[i::n], schema=schema), tmp)
            os.replace(tmp, part_path)
    else:
        out = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
        tmp = out + f".tmp-{uuid.uuid4().hex}"
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
        os.replace(tmp, out)
    lc: dict[str, Any] = {
        "version": version,
        "size": len(rows),
        **(
            {"parts": min(parts, max(1, len(rows)))}
            if parts is not None and parts > 1
            else {}
        ),
        # commit time of the checkpointed version: streams resolving their
        # start here survive the JSON commit's expiry
        "timestampMs": log.commit_timestamp_ms(version),
    }
    # carry the in-commit-timestamp chain across log expiry: the NEXT
    # writer's monotonicity read (_prev_in_commit_timestamp) falls back to
    # this sidecar when version N's JSON is already expired
    ict = _prev_in_commit_timestamp(log_dir, version + 1)
    if ict is not None:
        lc["inCommitTimestampMs"] = ict
    atomic_write_json(os.path.join(log_dir, "_last_checkpoint"), lc)
    return out


def compact_log_range(table_path: str, start: int, end: int) -> str:
    """Write a LOG COMPACTION file ``<start>.<end>.compacted.json``
    (PROTOCOL.md log compaction): the range's commits reconciled to their
    net effect — latest protocol/metaData, net add/remove set, latest
    domainMetadata per domain; commitInfo and cdc are omitted (CDF reads
    keep using the original per-version commits, which compaction never
    deletes — cleanup stays checkpoint-driven via ``expire_log``).

    Why: between checkpoints a busy table accumulates hundreds of small
    JSON commits; every snapshot replay lists and opens all of them.  A
    compacted file collapses that tail to ONE open
    (``DeltaLog.replay_actions`` substitutes it automatically).  JSON
    commits remain the source of truth — a compacted file never extends
    reconstructibility past log cleanup.
    """
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    if not (0 <= start < end <= latest):
        raise ValueError(
            f"invalid compaction range [{start}, {end}] (table head {latest})"
        )
    have = set(log.versions())
    missing = [v for v in range(start, end + 1) if v not in have]
    if missing:
        raise ValueError(
            f"cannot compact [{start}, {end}]: commits {missing[:3]} missing"
        )
    proto: dict[str, Any] | None = None
    meta: dict[str, Any] | None = None
    active: dict[str, dict[str, Any]] = {}
    tombstones: dict[str, dict[str, Any]] = {}
    domains: dict[str, dict[str, Any]] = {}
    for v in range(start, end + 1):
        for action in log.actions(v):
            if "add" in action:
                add = action["add"]
                active[add["path"]] = add
                tombstones.pop(add["path"], None)
            elif "remove" in action:
                rem = action["remove"]
                active.pop(rem["path"], None)
                tombstones[rem["path"]] = rem
            elif "metaData" in action:
                meta = action["metaData"]
            elif "protocol" in action:
                proto = action["protocol"]
            elif "domainMetadata" in action:
                domains[action["domainMetadata"]["domain"]] = action[
                    "domainMetadata"
                ]
    lines: list[dict[str, Any]] = []
    if proto:
        lines.append({"protocol": proto})
    if meta:
        lines.append({"metaData": meta})
    lines.extend({"domainMetadata": domains[d]} for d in sorted(domains))
    lines.extend({"remove": tombstones[p]} for p in sorted(tombstones))
    lines.extend({"add": active[p]} for p in sorted(active))
    log_dir = os.path.join(table_path, LOG_DIR)
    out = os.path.join(log_dir, f"{start:020d}.{end:020d}.compacted.json")
    tmp = out + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as handle:
        for line in lines:
            handle.write(json.dumps(line, separators=(",", ":")) + "\n")
        handle.flush()
        # a rename can become durable before the data blocks do; a torn
        # JSONL is still syntactically valid and would SILENTLY shrink
        # every replay that substitutes it — same fsync contract as
        # _write_commit
        os.fsync(handle.fileno())
    os.replace(tmp, out)
    return out


def expire_log(table_path: str, *, dry_run: bool = False) -> list[str]:
    """Delete JSON commits already summarized by the current checkpoint
    (log cleanup).  Commits AFTER the checkpoint and the checkpoint itself
    are kept; superseded older checkpoint files go too.  Requires a
    checkpoint — expiring unsummarized history would lose the table."""
    log = DeltaLog(table_path)
    cv = log.checkpoint_version()
    if cv is None:
        raise RuntimeError(
            f"no _last_checkpoint under {table_path} — run checkpoint_log first"
        )
    log_dir = os.path.join(table_path, LOG_DIR)
    removed = []
    for name in sorted(os.listdir(log_dir)):
        stem, ext = os.path.splitext(name)
        expired = False
        if ext == ".json" and stem.isdigit() and int(stem) <= cv:
            expired = True
        if ".checkpoint." in name and name.endswith(".parquet"):
            # single-file AND multi-part forms: both lead with the version
            head = name.split(".", 1)[0]
            if head.isdigit() and int(head) < cv:
                expired = True
        if name.endswith(".compacted.json"):
            fields = name.split(".")
            # a compaction range fully summarized by the checkpoint is dead
            if len(fields) == 4 and fields[1].isdigit() and int(fields[1]) <= cv:
                expired = True
        if expired:
            removed.append(os.path.join(log_dir, name))
            if not dry_run:
                os.unlink(os.path.join(log_dir, name))
    return removed


def table_detail(table_path: str) -> dict[str, Any]:
    """``DESCRIBE DETAIL`` for the jar-less path: one log replay yields
    the table's identity, layout, size, protocol, and properties — the
    operational summary an operator checks before VACUUM/OPTIMIZE
    decisions.  No data IO: numFiles/sizeInBytes come from the logged add
    actions."""
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    meta = log.table_metadata() or {}
    proto = log.protocol() or {}
    adds = log.snapshot_files(latest)
    return {
        "format": (meta.get("format") or {}).get("provider", "parquet"),
        "id": meta.get("id"),
        "name": meta.get("name"),
        "location": table_path,
        "createdAt": meta.get("createdTime"),
        "lastModified": log.commit_timestamp_ms(latest),
        "partitionColumns": list(meta.get("partitionColumns") or []),
        "numFiles": len(adds),
        "sizeInBytes": sum(int(a.get("size") or 0) for a in adds),
        "properties": dict(meta.get("configuration") or {}),
        "minReaderVersion": proto.get("minReaderVersion", 1),
        "minWriterVersion": proto.get("minWriterVersion", 2),
        "readerFeatures": sorted(proto.get("readerFeatures") or []),
        "writerFeatures": sorted(proto.get("writerFeatures") or []),
        "version": latest,
    }


def remove_domain_metadata(table_path: str, domain: str) -> int:
    """Tombstone a metadata domain (PROTOCOL.md: ``removed: true`` —
    readers stop seeing the domain; checkpoints carry the tombstone so an
    expired earlier value can never resurrect).  Returns the commit
    version; raises KeyError when the domain is not live."""
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    if domain not in log.domain_metadata():
        raise KeyError(f"domain {domain!r} is not set on {table_path}")
    version = latest + 1
    actions: list[dict[str, Any]] = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "REMOVE DOMAIN METADATA",
                "operationParameters": {"domain": domain},
            }
        },
        {
            "domainMetadata": {
                "domain": domain,
                "configuration": "{}",
                "removed": True,
            }
        },
    ]
    proto = _protocol_upgrade(log.protocol() or {}, {"domainMetadata"})
    if proto:
        actions.append({"protocol": proto})
    _write_commit(os.path.join(table_path, LOG_DIR), version, actions)
    return version


def table_history(table_path: str) -> list[dict[str, Any]]:
    """Commit history, newest first — version, timestamp, operation,
    operationParameters, and files added/removed per commit (real Delta's
    DESCRIBE HISTORY surface).  Versions expired by log cleanup are absent,
    exactly as with the jar.  Log-based, so it reads ANY spec-compliant
    Delta table, whichever engine wrote it.

    Reference parity: deltalake ``DeltaTable.history()``.
    """
    log = DeltaLog(table_path)
    if log.latest_version() is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    out: list[dict[str, Any]] = []
    for v in reversed(log.versions()):
        info: dict[str, Any] = {}
        n_add = n_remove = 0
        for a in log.actions(v):
            if "commitInfo" in a:
                info = a["commitInfo"]
            elif "add" in a:
                n_add += 1
            elif "remove" in a:
                n_remove += 1
        out.append(
            {
                "version": v,
                "timestamp_ms": log.commit_timestamp_ms(v),
                "operation": info.get("operation"),
                "operation_parameters": info.get("operationParameters"),
                "n_files_added": n_add,
                "n_files_removed": n_remove,
            }
        )
    return out


def restore_table_fallback(table_path: str, *, version: int) -> dict[str, Any]:
    """RESTORE the table to snapshot ``version`` by writing a NEW commit
    whose add/remove actions flip the file set back — history is preserved
    (the restore is itself a commit, so it can be time-traveled past or
    restored again), matching real Delta RESTORE semantics.

    The restored snapshot's metaData (schema as of ``version``) rides on
    the commit when it differs from the current one.  Files that VACUUM
    already deleted can't be re-added — raises with the missing paths,
    the same failure mode the jar reports.
    """
    log = DeltaLog(table_path)
    latest = log.latest_version()
    if latest is None:
        raise FileNotFoundError(f"not a delta table: {table_path}")
    if version < 0 or version > latest:
        raise ValueError(f"version {version} out of range [0, {latest}]")
    if not log.is_reconstructible(version):
        raise ValueError(f"version {version} has expired from the log")
    target = {a["path"]: a for a in log.snapshot_files(version)}
    current = {a["path"]: a for a in log.snapshot_files(latest)}
    missing = [
        p for p in target
        if p not in current and not os.path.exists(log.abs_path(p))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot RESTORE to {version}: {len(missing)} data file(s) were "
            f"vacuumed, e.g. {missing[0]}"
        )
    now_ms = int(time.time() * 1000)
    actions: list[dict[str, Any]] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "RESTORE",
                "operationParameters": {"version": version},
                "engineInfo": "polars-incremental-spark fallback writer",
            }
        }
    ]
    # real Delta's RestoreTableCommand restores the FULL metadata of the
    # target snapshot (schema AND configuration — constraints, DV enablement,
    # generated columns), not just the schema string: a constraint added
    # after the target version must not survive the restore
    meta_v = log.table_metadata(at_version=version)
    meta_cur = log.table_metadata()
    if meta_v and meta_cur and meta_v != meta_cur:
        actions.append({"metaData": meta_v})
    def _add_payload(a: dict) -> tuple:
        # Everything that affects the LOGICAL content of an add action: a DV
        # DELETE (or an in-place stats rewrite from analyze) keeps the same
        # path but changes the action, and RESTORE must revert it — diffing
        # by path alone would report success while deleted rows stay dead.
        return tuple(
            json.dumps(a.get(k), sort_keys=True)
            for k in ("deletionVector", "stats", "size", "partitionValues", "tags")
        )

    n_removed = 0
    changed = {
        p
        for p in target
        if p in current and _add_payload(target[p]) != _add_payload(current[p])
    }
    for p in current:
        if p not in target or p in changed:
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
            n_removed += 1
    n_added = 0
    for p, add in target.items():
        if p not in current or p in changed:
            actions.append({"add": dict(add, dataChange=True)})
            n_added += 1
    _write_commit(os.path.join(table_path, LOG_DIR), latest + 1, actions)
    return {
        "restored_to": version,
        "new_version": latest + 1,
        "n_files_added": n_added,
        "n_files_removed": n_removed,
    }
