"""CDC apply: turn change rows (insert/update/delete) into a merged table.

Parity: ``apply_cdc`` and helpers (reference: src/polars_incremental/cdc.py:8-220).
Everything is Catalyst-expressible DataFrame ops — window dedupe, anti-join,
``unionByName`` — so the merge distributes: the shuffle is on the merge keys
only, no driver-side materialization.  "Latest change wins" ties on
``_commit_version`` break by input row order, captured with
``monotonically_increasing_id`` at entry (the reference relies on Polars'
stable row order; Spark needs the explicit tiebreaker, SURVEY §7.3).
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"
COMMIT_TIMESTAMP_COL = "_commit_timestamp"
_ROW_ORDER_COL = "__cdc_row_order"

CDC_COLUMNS = (CHANGE_TYPE_COL, COMMIT_VERSION_COL, COMMIT_TIMESTAMP_COL)


def normalize_change_types(
    df: DataFrame,
    change_type_map: Mapping[str, str] | None,
    change_type_col: str = CHANGE_TYPE_COL,
) -> DataFrame:
    """Map custom change codes (e.g. {"I": "insert"}) — unmapped values pass through."""
    if not change_type_map:
        return df
    col = F.col(change_type_col)
    expr = col
    for src, dst in change_type_map.items():
        expr = F.when(col == F.lit(src), F.lit(dst)).otherwise(expr)
    return df.withColumn(change_type_col, expr)


def prepare_changes(
    df: DataFrame,
    *,
    mode: str = "merge",
    ignore_delete: bool = False,
    ignore_update_preimage: bool = True,
    change_type_col: str = CHANGE_TYPE_COL,
) -> DataFrame:
    """Filter the change set down to rows the merge should act on."""
    col = F.col(change_type_col)
    if mode == "append_only":
        return df.filter(col == "insert")
    if ignore_update_preimage:
        df = df.filter(col != "update_preimage")
    if ignore_delete:
        df = df.filter(col != "delete")
    return df


def dedupe_changes(
    df: DataFrame,
    keys: list[str],
    *,
    change_type_col: str = CHANGE_TYPE_COL,
    commit_version_col: str = COMMIT_VERSION_COL,
    commit_timestamp_col: str = COMMIT_TIMESTAMP_COL,
) -> DataFrame:
    """Keep the latest change per key: commit_version desc, then commit_timestamp
    desc, then input row order desc (later rows win)."""
    order = []
    cols = set(df.columns)
    if commit_version_col in cols:
        order.append(F.col(commit_version_col).desc_nulls_last())
    if commit_timestamp_col in cols:
        order.append(F.col(commit_timestamp_col).desc_nulls_last())
    if _ROW_ORDER_COL not in cols:
        df = df.withColumn(_ROW_ORDER_COL, F.monotonically_increasing_id())
    order.append(F.col(_ROW_ORDER_COL).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__cdc_rn", F.row_number().over(w))
        .filter(F.col("__cdc_rn") == 1)
        .drop("__cdc_rn", _ROW_ORDER_COL)
    )


def strip_cdc_columns(df: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    drop = [c for c in (*CDC_COLUMNS, _ROW_ORDER_COL, *extra) if c in df.columns]
    return df.drop(*drop) if drop else df


def apply_cdc(
    changes: DataFrame,
    existing: DataFrame | None,
    *,
    keys: list[str],
    change_type_col: str = CHANGE_TYPE_COL,
    change_type_map: Mapping[str, str] | None = None,
    mode: str = "merge",
    ignore_delete: bool = False,
    ignore_update_preimage: bool = True,
    dedupe_by_latest_commit: bool = True,
    commit_version_col: str = COMMIT_VERSION_COL,
    commit_timestamp_col: str = COMMIT_TIMESTAMP_COL,
) -> DataFrame:
    """Apply a change DataFrame onto ``existing``; returns the merged table.

    ``mode="merge"``: latest change per key wins; deletes remove, upserts
    replace, inserts add.  ``mode="append_only"``: only insert rows are
    appended.  ``existing=None`` treats the target as empty.
    """
    if mode not in ("merge", "append_only"):
        raise ValueError(f"unknown mode {mode!r}")
    if not keys:
        raise ValueError("keys must be non-empty")
    if change_type_col not in changes.columns:
        raise ValueError(f"changes missing change-type column {change_type_col!r}")

    changes = acting_changes(
        changes,
        keys=keys,
        change_type_col=change_type_col,
        change_type_map=change_type_map,
        mode=mode,
        ignore_delete=ignore_delete,
        ignore_update_preimage=ignore_update_preimage,
        dedupe_by_latest_commit=dedupe_by_latest_commit,
        commit_version_col=commit_version_col,
        commit_timestamp_col=commit_timestamp_col,
    )
    if mode == "append_only":
        appended = strip_cdc_columns(changes)
        if existing is None:
            return appended
        return existing.unionByName(appended, allowMissingColumns=True)
    return merge_acting(
        changes,
        existing,
        keys=keys,
        change_type_col=change_type_col,
        dedupe_by_latest_commit=dedupe_by_latest_commit,
    )


def acting_changes(
    changes: DataFrame,
    *,
    keys: list[str],
    change_type_col: str = CHANGE_TYPE_COL,
    change_type_map: Mapping[str, str] | None = None,
    mode: str = "merge",
    ignore_delete: bool = False,
    ignore_update_preimage: bool = True,
    dedupe_by_latest_commit: bool = True,
    commit_version_col: str = COMMIT_VERSION_COL,
    commit_timestamp_col: str = COMMIT_TIMESTAMP_COL,
) -> DataFrame:
    """The change rows that act on the target: codes mapped, ignored types
    dropped, and (``dedupe_by_latest_commit``) the latest change per key
    kept.  In merge mode ``merge_acting`` and ``merge_change_feed`` both
    take this frame, so a table and its change feed see the same rows."""
    # capture arrival order before any shuffle so ties break deterministically
    changes = changes.withColumn(_ROW_ORDER_COL, F.monotonically_increasing_id())
    changes = prepare_changes(
        normalize_change_types(changes, change_type_map, change_type_col),
        mode=mode,
        ignore_delete=ignore_delete,
        ignore_update_preimage=ignore_update_preimage,
        change_type_col=change_type_col,
    )
    if dedupe_by_latest_commit:
        changes = dedupe_changes(
            changes,
            keys,
            change_type_col=change_type_col,
            commit_version_col=commit_version_col,
            commit_timestamp_col=commit_timestamp_col,
        )
    return changes


# whitelist, not "!= delete": preimages (when kept) and unmapped custom
# codes must not merge as upserts (reference cdc.py:166-192)
_UPSERT_TYPES = ("insert", "update_postimage", "update")
# the change types whose key a merge matches against the target
MATCHING_TYPES = (*_UPSERT_TYPES, "delete")


def merge_acting(
    changes: DataFrame,
    existing: DataFrame | None,
    *,
    keys: list[str],
    change_type_col: str = CHANGE_TYPE_COL,
    dedupe_by_latest_commit: bool = True,
) -> DataFrame:
    """Merge ``acting_changes`` output onto ``existing``: target rows whose
    key any upsert or delete names drop out, every upsert goes in."""
    ct = F.col(change_type_col)
    upserts = strip_cdc_columns(changes.filter(ct.isin(*_UPSERT_TYPES)))
    # feeds only a left anti join, which repeated keys do not change
    acting_keys = changes.filter(ct.isin(*MATCHING_TYPES)).select(*keys)

    if existing is None:
        if dedupe_by_latest_commit:
            # latest change per key is either a delete or an upsert — disjoint
            return upserts
        delete_keys = changes.filter(ct == "delete").select(*keys).distinct()
        return upserts.join(delete_keys, on=keys, how="left_anti")
    survivors = existing.join(acting_keys, on=keys, how="left_anti")
    return survivors.unionByName(upserts, allowMissingColumns=True)


def merge_change_feed(
    changes: DataFrame,
    existing: DataFrame,
    *,
    keys: list[str],
    change_type_col: str = CHANGE_TYPE_COL,
) -> DataFrame:
    """The change feed of ``merge_acting(changes, existing)``: its rows,
    with the Delta ``_change_type`` column saying which change each is:

    - ``delete``: a target row whose key only deletes name (the stored
      row, not the change's values);
    - ``update_preimage``: a target row whose key an upsert names;
    - ``update_postimage``: an upsert whose key matches a target row;
    - ``insert``: an upsert whose key matches none.

    Removing the delete and preimage rows from ``existing`` and adding the
    postimage and insert rows gives the merged table, row for row."""
    ct = F.col(change_type_col)
    upserts = strip_cdc_columns(changes.filter(ct.isin(*_UPSERT_TYPES)))
    key_upserts = (
        changes.filter(ct.isin(*MATCHING_TYPES))
        .groupBy(*keys)
        .agg(F.max(ct.isin(*_UPSERT_TYPES)).alias("__cdc_up"))
    )
    removed = existing.join(key_upserts, on=keys, how="inner").select(
        *existing.columns,
        F.when(F.col("__cdc_up"), F.lit("update_preimage"))
        .otherwise(F.lit("delete"))
        .alias(CHANGE_TYPE_COL),
    )
    hit_keys = existing.select(*keys).distinct().withColumn("__cdc_hit", F.lit(True))
    added = upserts.join(hit_keys, on=keys, how="left").select(
        *upserts.columns,
        F.when(F.col("__cdc_hit"), F.lit("update_postimage"))
        .otherwise(F.lit("insert"))
        .alias(CHANGE_TYPE_COL),
    )
    return removed.unionByName(added, allowMissingColumns=True)
