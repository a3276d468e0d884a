"""Incremental materialized-view maintenance over the jar-less Delta path.

A grouped sum/count aggregate MV refreshes from the base table's CHANGE
DATA FEED instead of recomputing: each change row carries a sign (+1 for
insert/update_postimage, -1 for delete/update_preimage), the signed deltas
group-reduce to one small frame, and one fold applies them to the MV —
update existing groups, insert new ones, delete groups whose count
reaches zero.  Sum and count are the classically self-maintainable
aggregates (avg derives as sum/count).  Min/max are monotone under inserts
but NOT reversible under deletes (the MV holds no second-best state), so a
retraction touching a group triggers a BOUNDED re-aggregation: only the
retracted groups re-read from the base (a group-key semi-join the scan
prunes on), every insert-only group still folds incrementally.

Join MVs maintain BAG semantics with the textbook counting algorithm:
the stored view keeps one row per DISTINCT joined tuple plus a hidden
multiplicity column, refresh computes a SIGNED delta-join (insert +1,
delete -1, update = retract preimage + assert postimage), group-reduces
to net multiplicities, and one MERGE folds them — increment matched
tuples, insert new ones, delete tuples whose multiplicity reaches zero.
``read_join_mv`` re-expands multiplicities for consumers.

Crash safety: the base-table watermark travels as DOMAIN METADATA inside
the refresh commit itself — state and data advance in ONE atomic commit,
so a crash anywhere leaves the MV at its previous consistent (version,
watermark) pair and the next refresh re-derives the same deltas.  Domain
metadata (unlike commitInfo) is carried by parquet log checkpoints, so the
state survives ``checkpoint_log`` + ``expire_log`` on the MV's own log;
each commit also mirrors the state into ``commitInfo.userMetadata`` for
human-readable provenance in DESCRIBE HISTORY.

Scale shape: refresh cost tracks the CHANGE volume, not the base size.
An aggregate refresh is one Spark action: a parquet scan over the changed
files, one group-reduce shuffle sized by touched groups, and a full outer
join with the candidate MV files — those whose logged group-key range
overlaps the range the base log records for the changed files, narrowed
by one key-only job to the files holding a changed group when several
files and over 8 MiB overlap — whose result replaces exactly the
candidates in one commit.  At 100 TB base with a bounded change rate
this is the difference between minutes and a full recompute.

Reference parity: the reference has no MV layer; this composes the same
public Delta CDF semantics delta-spark's ``table_changes`` exposes.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .checkpoints.delta import DeltaLog
from .observability import observed_metrics
from .sinks.deltalog import (
    change_key_stats,
    key_range_candidates,
    merge_into,
    read_change_feed,
    read_delta_fallback,
    write_delta_fallback,
)

_MV_DOMAIN = "pis.mv"
_JOIN_DOMAIN = "pis.joinMv"

# hidden join-MV columns: one row per DISTINCT joined tuple, with its bag
# multiplicity and a 128-bit tuple digest serving as the (null-proof,
# single-column, stats-prunable) MERGE key
MULT_COL = "_mv_mult"
ROWKEY_COL = "_mv_rowkey"


_SIGN = (
    "CASE WHEN _change_type IN ('insert', 'update_postimage') THEN 1 "
    "WHEN _change_type IN ('delete', 'update_preimage') THEN -1 END"
)


def _sign():
    # built lazily: Columns need an active SparkContext
    return F.expr(_SIGN)


# column names the MV machinery owns; payloads must not collide with them
_RESERVED = {MULT_COL, ROWKEY_COL, "_mv_sign", "_mv_retract", "_mv_abs"}


def _check_reserved(cols, where: str) -> None:
    clash = set(cols) & _RESERVED
    if clash:
        raise ValueError(
            f"{where} uses reserved MV column name(s) {sorted(clash)}; "
            "rename upstream"
        )


def _has_tz_timestamp(dtype) -> bool:
    """True when ``dtype`` contains a tz-AWARE timestamp anywhere in its
    tree (top-level, struct field, array element, map key/value)."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.TimestampType):
        return True  # TimestampNTZType is a distinct class — excluded
    if isinstance(dtype, T.StructType):
        return any(_has_tz_timestamp(f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return _has_tz_timestamp(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return _has_tz_timestamp(dtype.keyType) or _has_tz_timestamp(
            dtype.valueType
        )
    return False


def _canon_tz(col, dtype):
    """Rewrite every tz-aware timestamp inside ``col`` to epoch micros,
    recursing through structs/arrays/maps so nested payloads digest
    session-timezone-independently too.  Nullness is preserved at each
    level: a null struct must stay null (``to_json`` omits it) rather than
    becoming a struct of nulls (rendered ``{"f":null}``)."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(col)
    if isinstance(dtype, T.StructType):
        rebuilt = F.struct(
            *[
                _canon_tz(col.getField(f.name), f.dataType).alias(f.name)
                for f in dtype.fields
            ]
        )
        return F.when(col.isNull(), None).otherwise(rebuilt)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _canon_tz(x, dtype.elementType))
    if isinstance(dtype, T.MapType):
        out = col
        if _has_tz_timestamp(dtype.keyType):
            out = F.transform_keys(
                out, lambda k, _v: _canon_tz(k, dtype.keyType)
            )
        if _has_tz_timestamp(dtype.valueType):
            out = F.transform_values(
                out, lambda _k, v: _canon_tz(v, dtype.valueType)
            )
        return out
    return col


def _row_digest(df: DataFrame, cols: list[str]):
    """Deterministic 128-bit digest of the full tuple — the join-MV MERGE
    key.  ``to_json`` over a NAME-SORTED struct is null-proof (a null field
    is omitted, but field names disambiguate which was null) and
    type-stable; MERGE key equality is null-unsafe, so keying on raw
    payload columns would silently never match null-bearing tuples.
    Tz-aware timestamps digest as epoch MICROS — recursively, including
    inside struct/array/map payloads: ``to_json`` renders them in the
    SESSION timezone, which would make the same tuple digest differently
    across sessions.  NTZ wall-clock strings are session-stable and stay
    as-is (casting them would REINTRODUCE the session timezone)."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    fields = []
    for c in sorted(cols):
        col = F.col(c)
        if _has_tz_timestamp(schema[c]):
            col = _canon_tz(col, schema[c])
        fields.append(col.alias(c))
    return F.md5(F.to_json(F.struct(*fields)))


def _mv_state(mv_path: str, domain: str) -> tuple[dict[str, Any], int]:
    """Latest MV spec+watermark from the MV log's ``domain`` metadata, and
    the MV version it was read at — checkpoint-carried, so it survives log
    expiry (the checkpoint-seeded replay lives in
    ``DeltaLog.domain_metadata``)."""
    version = _head_version(mv_path)
    raw = DeltaLog(mv_path).domain_metadata(at_version=version).get(domain)
    if raw is None:
        raise ValueError(
            f"{mv_path} carries no {domain} domain metadata; was it created "
            "by create_agg_mv / create_join_mv?"
        )
    return json.loads(raw), version


def _commit_watermark(
    spark: SparkSession,
    mv_path: str,
    domain: str,
    blob: str,
    read_version: int | None = None,
) -> None:
    """Advance the watermark alone, with a zero-row append (still one
    atomic commit), so the walked range never re-reads."""
    write_delta_fallback(
        spark.createDataFrame([], read_delta_fallback(spark, mv_path).schema),
        mv_path,
        mode="append",
        user_metadata=blob,
        domain_metadata={domain: blob},
        read_version=read_version,
    )


def _head_version(path: str) -> int:
    head = DeltaLog(path).latest_version()
    if head is None:
        raise FileNotFoundError(f"not a delta table: {path}")
    return head


def _check_columns_exist(
    have: list[str], need: list[str], where: str, hint: str
) -> None:
    """Fail closed with a clear message when the MV references columns the
    source frame lacks — at CREATE time that's a typo or a column that
    hasn't appeared yet; at REFRESH time the base schema evolved out from
    under the MV (column dropped/renamed).  Either way the alternative is
    an unresolved-column AnalysisException mid-plan or, worse, mid-MERGE."""
    missing = [c for c in need if c not in have]
    if missing:
        raise ValueError(
            f"{where} is missing MV column(s) {missing}; present: "
            f"{sorted(have)}. {hint}"
        )


def _check_no_null_keys(df: DataFrame, group_cols: list[str], where: str) -> None:
    if not df.filter(" OR ".join(f"{_q(c)} IS NULL" for c in group_cols)).isEmpty():
        raise ValueError(
            f"NULL group key in {where}: the refresh joins group keys "
            "null-unsafely (NULL never matches), so a null-keyed group would "
            "duplicate on every refresh — filter or coalesce the key upstream"
        )


def _q(name: str) -> str:
    """``name`` as a SQL identifier: backquoted, inner backquotes doubled."""
    return "`" + name.replace("`", "``") + "`"


def _aggs(
    group_cols: list[str],
    sum_cols: list[str],
    count_col: str,
    signed: bool,
    min_cols: list[str] = (),
    max_cols: list[str] = (),
    retract_flag: bool = False,
):
    sign = _SIGN if signed else "1"
    out = [f"CAST(sum({sign}) AS BIGINT) AS {_q(count_col)}"]
    out += [f"sum(({sign}) * {_q(c)}) AS {_q(f'sum_{c}')}" for c in sum_cols]
    # min/max deltas only make sense over the INSERT side of the feed: a
    # delete preimage's value must never enter the fold (retracted groups
    # are re-aggregated from the base instead — see refresh_agg_mv)
    ins = f"({sign}) > 0"
    for fn, cols in (("min", min_cols), ("max", max_cols)):
        out += [
            f"{fn}(CASE WHEN {ins} THEN {_q(c)} END) AS {_q(f'{fn}_{c}')}"
            for c in cols
        ]
    if retract_flag:
        # marks groups touched by ANY retraction — these re-aggregate
        out.append(f"max(CAST(({sign}) < 0 AS INT)) AS _mv_retract")
    # SQL strings: one py4j call per aggregate instead of one per node
    return [F.expr(e) for e in out]


def create_agg_mv(
    spark: SparkSession,
    base_path: str,
    mv_path: str,
    *,
    group_cols: list[str],
    sum_cols: list[str] | None = None,
    count_col: str = "cnt",
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
) -> dict[str, Any]:
    """Materialize ``SELECT group_cols, count(*), sum(c)..., min(c)...,
    max(c)... GROUP BY`` from the base table's CURRENT snapshot and record
    the snapshot version as the refresh watermark.  ``min_cols``/
    ``max_cols`` stay correct under deletes/updates too: a retraction is
    not reversible from the extremum alone, so refresh re-aggregates ONLY
    the retracted groups from the base (bounded re-read); insert-only
    groups fold incrementally.  Returns {base_version, rows}."""
    sum_cols = list(sum_cols or [])
    min_cols = list(min_cols or [])
    max_cols = list(max_cols or [])
    base_version = _head_version(base_path)
    # pin the scan to the recorded version: a concurrent append between
    # "read the head" and "scan" would otherwise leak rows past the
    # watermark and the next refresh would double-count them
    base = read_delta_fallback(spark, base_path, version=base_version)
    _check_columns_exist(
        base.columns,
        [*group_cols, *sum_cols, *min_cols, *max_cols],
        f"base table {base_path}",
        "If the column is added later (mergeSchema append), create the MV "
        "after it exists — an MV cannot reference a column that appears "
        "later.",
    )
    _check_reserved(
        [count_col, *group_cols]
        + [f"sum_{c}" for c in sum_cols]
        + [f"min_{c}" for c in min_cols]
        + [f"max_{c}" for c in max_cols],
        "agg-MV column",
    )
    keys = list(map(_q, group_cols))
    _check_no_null_keys(base.select(*keys), group_cols, "base table")
    mv = base.groupBy(*keys).agg(
        *_aggs(group_cols, sum_cols, count_col, False, min_cols, max_cols)
    ).persist()  # feeds both the write and the returned count
    state = {
        "base_path": base_path,
        "base_version": base_version,
        "group_cols": group_cols,
        "sum_cols": sum_cols,
        "count_col": count_col,
        "min_cols": min_cols,
        "max_cols": max_cols,
    }
    blob = json.dumps(state)
    write_delta_fallback(
        mv,
        mv_path,
        mode="overwrite",
        user_metadata=blob,
        domain_metadata={_MV_DOMAIN: blob},
    )
    rows = mv.count()
    mv.unpersist()
    return {"base_version": base_version, "rows": rows}


def create_join_mv(
    spark: SparkSession,
    left_path: str,
    right_path: str,
    mv_path: str,
    *,
    on: list[str],
) -> dict[str, Any]:
    """Materialize the inner equi-join of two Delta tables in COUNTED form
    — one row per distinct joined tuple plus hidden ``_mv_mult`` (bag
    multiplicity) and ``_mv_rowkey`` (tuple digest, the MERGE key) — and
    record BOTH snapshot versions as the refresh watermark.  Non-key
    column names must be disjoint (the MV is one flat schema).  Read the
    expanded bag back with ``read_join_mv``.  Returns {left_version,
    right_version, rows} where rows counts the EXPANDED bag."""
    lv, rv = _head_version(left_path), _head_version(right_path)
    left = read_delta_fallback(spark, left_path, version=lv)
    right = read_delta_fallback(spark, right_path, version=rv)
    _check_columns_exist(
        left.columns, on, f"left base {left_path}",
        "Join keys must exist on both sides at creation time.",
    )
    _check_columns_exist(
        right.columns, on, f"right base {right_path}",
        "Join keys must exist on both sides at creation time.",
    )
    clash = (set(left.columns) & set(right.columns)) - set(on)
    if clash:
        raise ValueError(
            f"non-key columns {sorted(clash)} exist on both sides; rename "
            "upstream — the MV schema is flat"
        )
    _check_reserved(set(left.columns) | set(right.columns), "join-MV base")
    joined = left.join(right, on)
    payload = joined.columns
    mv = (
        joined.groupBy(*payload)
        .agg(F.count(F.lit(1)).cast("long").alias(MULT_COL))
        .withColumn(ROWKEY_COL, _row_digest(joined, payload))
        .persist()  # feeds both the write and the returned count
    )
    state = {
        "left_path": left_path,
        "right_path": right_path,
        "left_version": lv,
        "right_version": rv,
        "on": on,
        # per-base names AND types: a base overwrite that widens a column
        # (int -> long) keeps the payload names identical but changes
        # every to_json rowkey digest — the refresh guard must see it.
        # Recorded per base (not from the joined frame) so the comparison
        # is never clouded by join key-type coercion.
        "left_schema": [list(p) for p in left.dtypes],
        "right_schema": [list(p) for p in right.dtypes],
    }
    blob = json.dumps(state)
    write_delta_fallback(
        mv,
        mv_path,
        mode="overwrite",
        user_metadata=blob,
        domain_metadata={_JOIN_DOMAIN: blob},
    )
    rows = mv.agg(F.sum(MULT_COL)).collect()[0][0] or 0
    mv.unpersist()
    return {"left_version": lv, "right_version": rv, "rows": int(rows)}


def _check_counted_format(spark: SparkSession, mv_path: str) -> DataFrame:
    """Join MVs created before the counting-IVM format carry the domain
    metadata but store plain rows; fail those with a recreate message
    instead of an opaque unresolved-column error mid-merge."""
    df = read_delta_fallback(spark, mv_path)
    if MULT_COL not in df.columns or ROWKEY_COL not in df.columns:
        raise ValueError(
            f"{mv_path} stores the pre-counting join-MV format (no "
            f"{MULT_COL}/{ROWKEY_COL} columns); recreate it with "
            "create_join_mv"
        )
    return df


def read_join_mv(spark: SparkSession, mv_path: str) -> DataFrame:
    """The join MV as the bag the defining query produces: multiplicities
    re-expand (per-row cost is the tuple's duplicate count — bounded by
    the bases' key skew, the same bound the join itself has)."""
    df = _check_counted_format(spark, mv_path)
    payload = [c for c in df.columns if c not in (MULT_COL, ROWKEY_COL)]
    return df.select(
        *payload,
        F.explode(F.expr(f"array_repeat(1, int({MULT_COL}))")).alias("__x"),
    ).drop("__x")


def refresh_join_mv(spark: SparkSession, mv_path: str) -> dict[str, Any]:
    """Fold both bases' changes — inserts, deletes, AND updates — into the
    counted join MV with the classic delta-join decomposition under
    multiplicity counting: L₂⋈R₂ − L₁⋈R₁ = ΔL⋈R₂ + L₁⋈ΔR, where ΔL/ΔR are
    SIGNED multisets (+1 insert/postimage, −1 delete/preimage), ΔL joins
    the NEW right snapshot (covering ΔL⋈ΔR once — join is bilinear over
    signed multiplicities) and ΔR joins the OLD left snapshot.  The signed
    products group-reduce to one net multiplicity per distinct tuple and a
    three-clause MERGE folds them: increment matched tuples, insert new
    ones, delete tuples whose multiplicity reaches zero.

    Both delta terms are change-sized on one side, so at 100 TB the
    refresh scans the deltas plus ONE stats-prunable pass over each base —
    never base×base.  The MERGE commit carries the advanced
    (left_version, right_version) watermark atomically, so a crash
    anywhere is a clean no-op.  Returns {refreshed, tuples_touched}."""
    state, _ = _mv_state(mv_path, _JOIN_DOMAIN)
    mv_stored = _check_counted_format(spark, mv_path)
    on = list(state["on"])
    lv, rv = int(state["left_version"]), int(state["right_version"])
    lhead = _head_version(state["left_path"])
    rhead = _head_version(state["right_path"])
    if lhead <= lv and rhead <= rv:
        return {"refreshed": False, "tuples_touched": 0}

    def _signed(cdf: DataFrame) -> DataFrame:
        return cdf.withColumn("_mv_sign", _sign()).drop(
            "_change_type", "_commit_version", "_commit_timestamp"
        )

    # schema-evolution guard FIRST, from the bases' HEAD snapshot schemas
    # (driver-side log metadata, no scan), before any change-feed
    # machinery: the stored MV's payload is the join schema AT CREATION; a
    # base gaining (mergeSchema append) or losing a column since then
    # changes the joined tuple shape, so every digest would mismatch the
    # stored rowkeys — fail closed with the cause instead of surfacing as
    # an "inconsistent MV" error, a MERGE schema clash, or (for a
    # CDF-less overwrite) a ChangeDataFeedError that hides the real one
    l_head_df = read_delta_fallback(spark, state["left_path"], version=lhead)
    r_head_df = read_delta_fallback(spark, state["right_path"], version=rhead)
    payload = list(dict.fromkeys(l_head_df.columns + r_head_df.columns))
    stored_payload = {
        c for c in mv_stored.columns if c not in (MULT_COL, ROWKEY_COL)
    }
    if set(payload) != stored_payload:
        raise ValueError(
            f"join-MV {mv_path} payload columns {sorted(stored_payload)} no "
            f"longer match the bases' join schema {sorted(payload)} — a "
            "base's schema evolved since the MV was created; recreate it "
            "with create_join_mv"
        )
    # ...and TYPES, not just names (ADVICE r8): a base overwrite that
    # widens a column (e.g. int -> long) passes the name check yet changes
    # every to_json digest — insert-only windows would then silently store
    # payload-duplicate rows under new rowkeys, diverging until the first
    # retracting window trips the inconsistent-MV error.  The created-at
    # schema is persisted in the domain metadata; MVs created before the
    # schema was recorded keep the name-only check (they cannot be
    # retro-checked without guessing).
    drift = []
    for side, head_df in (("left", l_head_df), ("right", r_head_df)):
        stored_types = state.get(f"{side}_schema")
        if stored_types is None:
            continue
        now_types = dict(head_df.dtypes)
        drift += [
            f"{side}.{c}: {t} -> {now_types[c]}"
            for c, t in stored_types
            if c in now_types and now_types[c] != t
        ]
    if drift:
        raise ValueError(
            f"join-MV {mv_path} payload column TYPE(s) changed since "
            f"creation ({', '.join(drift)}) — the rowkey digests no "
            "longer line up with the stored MV; recreate it with "
            "create_join_mv"
        )

    parts = []
    if lhead > lv:
        dl = _signed(read_change_feed(
            spark, state["left_path"], starting_version=lv + 1,
            ending_version=lhead, reconstruct_removes=True
        ))
        parts.append(dl.join(r_head_df, on))
    if rhead > rv:
        dr = _signed(read_change_feed(
            spark, state["right_path"], starting_version=rv + 1,
            ending_version=rhead, reconstruct_removes=True
        ))
        l_old = read_delta_fallback(spark, state["left_path"], version=lv)
        parts.append(l_old.join(dr, on))
    delta = parts[0]
    for p in parts[1:]:
        delta = delta.unionByName(p)
    payload = [c for c in delta.columns if c != "_mv_sign"]
    net = (
        delta.groupBy(*payload)  # groupBy is null-SAFE: null payloads group
        .agg(F.sum("_mv_sign").cast("long").alias(MULT_COL))
        .filter(F.col(MULT_COL) != 0)  # churn that cancels never touches MV
        .withColumn(ROWKEY_COL, _row_digest(delta, payload))
        # persist: feeds the retraction probe, the count, and every pass
        # merge_into makes over the (change-sized) source
        .persist()
    )
    new_state = {**state, "left_version": lhead, "right_version": rhead}
    blob = json.dumps(new_state)
    # one action for tuples_touched AND the does-the-window-retract probe
    # (the refresh's fixed job floor dominates small-change refreshes —
    # same cut as refresh_agg_mv, measured in PLANS.md round-8)
    stats = net.agg(
        F.count(F.lit(1)).alias("__n"),
        F.count(F.when(F.col(MULT_COL) < 0, 1)).alias("__neg"),
    ).collect()[0]
    touched = int(stats["__n"])
    if touched == 0:
        # versions advanced but the join delta is empty
        net.unpersist()
        _commit_watermark(spark, mv_path, _JOIN_DOMAIN, blob)
        return {"refreshed": True, "tuples_touched": 0}
    if stats["__neg"]:
        # consistency probe, only when the window retracts: every net
        # retraction must hit an existing MV tuple WITH enough
        # multiplicity to absorb it — an orphan or an over-retraction
        # means the feed and the MV diverged (e.g. edited out-of-band);
        # the merge's exact-zero delete clause would otherwise clamp the
        # partial-divergence case silently
        held = read_delta_fallback(spark, mv_path).select(
            ROWKEY_COL, F.col(MULT_COL).alias("__held")
        )
        bad = (
            net.filter(F.col(MULT_COL) < 0)
            .join(held, ROWKEY_COL, "left")
            .filter(
                F.col("__held").isNull()
                | (F.col("__held") + F.col(MULT_COL) < 0)
            )
        )
        if not bad.isEmpty():
            net.unpersist()
            raise ValueError(
                f"join-MV {mv_path} is inconsistent with its bases: the "
                "change feed retracts tuples the MV does not hold (or "
                "holds with too small a multiplicity) — recreate the MV "
                "with create_join_mv"
            )
    merge_into(
        spark,
        mv_path,
        net,
        keys=[ROWKEY_COL],
        when_matched_delete=f"{MULT_COL} + src.{MULT_COL} = 0",
        when_matched_update={MULT_COL: f"{MULT_COL} + src.{MULT_COL}"},
        when_not_matched_insert=True,
        user_metadata=blob,
        domain_metadata={_JOIN_DOMAIN: blob},
    )
    net.unpersist()
    return {"refreshed": True, "tuples_touched": touched}


def refresh_agg_mv(
    spark: SparkSession, base_path: str, mv_path: str
) -> dict[str, Any]:
    """Fold the base table's change feed since the MV's watermark into the
    MV in one commit.  Returns {refreshed, from_version, to_version,
    groups_touched}.

    Candidates are the MV files whose logged group-key range overlaps the
    range the base log records for the window's change files
    (``change_key_stats``, no job; missing stats, NaN bounds or key types
    outside ``RANGE_PRUNABLE_TYPES`` make every file a candidate).  When
    more than one file and over ``HIT_PASS_MIN_BYTES`` are candidates, one
    key-only job keeps the files holding a changed group: hash-laid-out
    files all span the key domain.  The signed delta full-outer-joins the
    candidate rows — matched groups fold (and drop at count zero), new
    groups insert, the rest carry over — and the result replaces exactly
    the candidates, with the watermark, in one action and one commit on
    the MV version the state was read at (a concurrent refresh raises
    ``CommitConflictError``, never folds a window twice).
    ``groups_touched`` is observed on that write.  A window that changed
    no row commits only the advanced watermark."""
    state, mv_version = _mv_state(mv_path, _MV_DOMAIN)
    group_cols = list(state["group_cols"])
    sum_cols = list(state["sum_cols"])
    count_col = state["count_col"]
    min_cols = list(state.get("min_cols") or [])
    max_cols = list(state.get("max_cols") or [])
    last = int(state["base_version"])
    head = _head_version(base_path)
    if head <= last:
        return {
            "refreshed": False,
            "from_version": last,
            "to_version": head,
            "groups_touched": 0,
        }
    # reconstruct_removes: CDF-less DELETE/UPDATE commits reconstruct by
    # per-commit file diff (deltalog._reconstructed_changes) — exact in bag
    # terms, and the MV fold is sign-based so delete+insert vs paired
    # update images is a distinction without a difference here.  MVs thus
    # maintain over bases whose writers never enabled
    # delta.enableChangeDataFeed.
    cdf = read_change_feed(
        spark, base_path, starting_version=last + 1, ending_version=head,
        reconstruct_removes=True
    )
    # schema-evolution guard: a mergeSchema append ADDING a column is fine
    # (change rows the MV ignores gain a null field), but a column the MV
    # references vanishing (dropped/renamed via overwrite) must fail
    # closed here, not as an unresolved-column crash inside the fold
    _check_columns_exist(
        cdf.columns,
        [*group_cols, *sum_cols, *min_cols, *max_cols],
        f"change feed of {base_path}",
        "The base schema evolved out from under the MV — recreate it with "
        "create_agg_mv.",
    )
    blob = json.dumps({**state, "base_version": head})
    done = {"refreshed": True, "from_version": last + 1, "to_version": head}
    files, key_range, null_free = change_key_stats(
        base_path, last + 1, head, group_cols
    )
    if files == 0:
        # nothing changed (e.g. a compaction)
        _commit_watermark(spark, mv_path, _MV_DOMAIN, blob, mv_version)
        return {**done, "groups_touched": 0}
    track_retract = bool(min_cols or max_cols)
    keys = list(map(_q, group_cols))
    delta = (
        cdf.groupBy(*keys)
        .agg(*_aggs(
            group_cols, sum_cols, count_col, True, min_cols, max_cols,
            retract_flag=track_retract,
        ))
        # net-zero groups (equal insert/delete churn) change nothing, and
        # one the MV lacks would insert as a zero row — drop them before
        # the join; groups touched by a retraction always pass (their
        # min/max must re-derive even when count and sums net to zero)
        .filter(
            " or ".join(
                [f"{_q(count_col)} != 0"]
                + [f"coalesce({_q(f'sum_{c}')}, 0) != 0" for c in sum_cols]
                + (["_mv_retract = 1"] if track_retract else [])
            )
        )
    )
    if not null_free:
        # the change files' stats cannot rule NULL keys out: check before
        # anything is written
        _check_no_null_keys(delta, group_cols, "change feed")
    if track_retract:
        # min/max are NOT reversible under deletes (no second-best state in
        # the MV), so groups touched by any retraction re-aggregate from
        # the base — a BOUNDED re-read: the scan semi-joins on the
        # retracted key set, so cost tracks the retraction footprint.
        # No broadcast HINT: a mass purge can retract millions of groups.
        # A killed group is absent from the recompute and comes back as an
        # absolute count-0 row, which drops it from the MV.
        retract_keys = delta.filter("_mv_retract = 1").select(*keys)
        recomputed = (
            read_delta_fallback(spark, base_path, version=head)
            .join(retract_keys, group_cols, "left_semi")
            .groupBy(*keys)
            .agg(*_aggs(group_cols, sum_cols, count_col, False, min_cols, max_cols))
        )
        src = (
            retract_keys.join(recomputed, group_cols, "left")
            .withColumn(count_col, F.coalesce(F.col(_q(count_col)), F.lit(0)))
            .withColumn("_mv_abs", F.lit(True))
            .unionByName(
                delta.filter("_mv_retract = 0 or _mv_retract is null")
                .drop("_mv_retract")
                .withColumn("_mv_abs", F.lit(False))
            )
        )
    else:
        src = delta.withColumn("_mv_abs", F.lit(False))
    cur, adds = key_range_candidates(
        spark, mv_path, mv_version, key_range, hit_keys=delta.select(*keys)
    )
    # SQL strings, not Column trees: every Column call is a py4j round
    # trip, and a refresh of a 4-aggregate MV makes ~500 of them instead
    # of ~2,300
    j = cur.withColumn("__in_mv", F.lit(True)).join(
        src.selectExpr(
            *keys,
            *[
                f"{_q(c)} AS {_q(f'__src_{c}')}"
                for c in src.columns
                if c not in group_cols
            ],
            "true AS __in_src",
        ),
        group_cols,
        "full_outer",
    )

    # matched groups fold ({} is the MV's value, then the source's); sums
    # are null until the first non-null value
    fold = {count_col: "{} + {}"}
    fold.update({f"sum_{c}": "coalesce({}, 0) + coalesce({}, 0)" for c in sum_cols})
    fold.update({f"min_{c}": "least({}, {})" for c in min_cols})
    fold.update({f"max_{c}": "greatest({}, {})" for c in max_cols})

    def _value(c: str) -> str:
        # carried rows keep the MV's value; re-aggregated (absolute) groups
        # and new groups take the source's
        mine, theirs = _q(c), _q(f"__src_{c}")
        return (
            f"CASE WHEN __in_src IS NULL THEN {mine} "
            f"WHEN __src__mv_abs OR __in_mv IS NULL THEN {theirs} "
            f"ELSE {fold[c].format(mine, theirs)} END"
        )

    zero = f"({_value(count_col)}) = 0"
    gone = (
        "CASE WHEN __in_src IS NULL THEN false "
        f"ELSE (__src__mv_abs OR __in_mv IS NOT NULL) AND {zero} END"
    )
    # an absolute count-0 group the MV never held was born and killed
    # inside the window: nothing to touch
    touched = (
        f"__in_src IS NOT NULL AND NOT (__src__mv_abs AND __in_mv IS NULL AND {zero})"
    )
    row_cols = ("_row_id", "_row_commit_version")
    ids = []
    if "_row_id" in cur.columns:
        # row-tracked MV: folded groups keep their id and take this
        # commit's version (null); new groups get fresh ids
        ids = [
            "_row_id",
            "CASE WHEN __in_src IS NULL THEN _row_commit_version END "
            "AS _row_commit_version",
        ]
    obs = Observation()
    out = (
        j.observe(obs, F.expr(f"count(CASE WHEN {touched} THEN 1 END) AS n"))
        .filter(f"NOT ({gone})")
        .select(
            *[
                F.expr(_value(f.name)).cast(f.dataType).alias(f.name)
                if f.name in fold
                else F.col(_q(f.name))
                for f in cur.schema.fields
                if f.name not in row_cols
            ],
            *map(F.expr, ids),
        )
    )
    write_delta_fallback(
        out,
        mv_path,
        mode="overwrite",
        remove_paths={a["path"] for a in adds},
        user_metadata=blob,
        domain_metadata={_MV_DOMAIN: blob},
        read_version=mv_version,
    )
    got = observed_metrics(obs, lambda: {"n": j.filter(touched).count()})
    return {**done, "groups_touched": int(got["n"])}
