"""CDC merge semantics (reference tests/test_cdc_frame.py / test_cdc_apply.py
analog): latest-change-wins, delete handling, change_type_map, commit-version
dedupe, append_only, table-level apply round-trip."""

import json

import pytest

from polars_incremental_spark import apply_cdc, apply_cdc_table


CH_SCHEMA = "id long, name string, amount double, _change_type string, _commit_version long"


def _df(spark, rows, cols):
    if cols == ["id", "name", "amount", "_change_type", "_commit_version"]:
        return spark.createDataFrame(rows, CH_SCHEMA)
    return spark.createDataFrame(rows, cols)


@pytest.fixture()
def existing(spark):
    return _df(
        spark,
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        ["id", "name", "amount"],
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_merge_insert_update_delete(spark, existing):
    changes = _df(
        spark,
        [
            (4, "dave", 40.0, "insert", 1),
            (2, "bobby", 25.0, "update_postimage", 1),
            (3, None, None, "delete", 1),
        ],
        ["id", "name", "amount", "_change_type", "_commit_version"],
    )
    out = apply_cdc(changes, existing, keys=["id"])
    assert _rows(out) == [(1, "alice", 10.0), (2, "bobby", 25.0), (4, "dave", 40.0)]
    assert "_change_type" not in out.columns


def test_latest_change_wins_by_commit_version(spark, existing):
    changes = _df(
        spark,
        [
            (2, "v1", 1.0, "update_postimage", 1),
            (2, "v2", 2.0, "update_postimage", 2),
            (2, "v3", 3.0, "update_postimage", 3),
        ],
        ["id", "name", "amount", "_change_type", "_commit_version"],
    )
    out = apply_cdc(changes, existing, keys=["id"])
    assert (2, "v3", 3.0) in _rows(out)


def test_latest_delete_wins(spark, existing):
    changes = _df(
        spark,
        [
            (2, "upd", 99.0, "update_postimage", 1),
            (2, None, None, "delete", 2),
        ],
        ["id", "name", "amount", "_change_type", "_commit_version"],
    )
    out = apply_cdc(changes, existing, keys=["id"])
    assert [r[0] for r in _rows(out)] == [1, 3]


def test_tie_breaks_by_input_row_order(spark, existing):
    # same commit version: the LATER input row wins (reference cdc.py:195-209)
    changes = _df(
        spark,
        [
            (2, "first", 1.0, "update_postimage", 7),
            (2, "second", 2.0, "update_postimage", 7),
        ],
        ["id", "name", "amount", "_change_type", "_commit_version"],
    )
    out = apply_cdc(changes, existing, keys=["id"])
    assert (2, "second", 2.0) in _rows(out)


def test_change_type_map(spark, existing):
    changes = _df(
        spark,
        [(5, "eve", 50.0, "I", 1), (1, None, None, "D", 1)],
        ["id", "name", "amount", "_change_type", "_commit_version"],
    )
    out = apply_cdc(
        changes,
        existing,
        keys=["id"],
        change_type_map={"I": "insert", "U": "update_postimage", "D": "delete"},
    )
    ids = [r[0] for r in _rows(out)]
    assert ids == [2, 3, 5]


def test_update_preimage_ignored(spark, existing):
    changes = _df(
        spark,
        [
            (2, "old", 20.0, "update_preimage", 1),
            (2, "new", 21.0, "update_postimage", 1),
        ],
        ["id", "name", "amount", "_change_type", "_commit_version"],
    )
    out = apply_cdc(changes, existing, keys=["id"])
    assert (2, "new", 21.0) in _rows(out)


def test_ignore_delete(spark, existing):
    changes = _df(
        spark,
        [(3, None, None, "delete", 1)],
        ["id", "name", "amount", "_change_type", "_commit_version"],
    )
    out = apply_cdc(changes, existing, keys=["id"], ignore_delete=True)
    assert len(_rows(out)) == 3


def test_append_only_keeps_inserts_only(spark, existing):
    changes = _df(
        spark,
        [
            (6, "f", 60.0, "insert", 1),
            (2, "x", 0.0, "update_postimage", 1),
            (1, None, None, "delete", 1),
        ],
        ["id", "name", "amount", "_change_type", "_commit_version"],
    )
    out = apply_cdc(changes, existing, keys=["id"], mode="append_only")
    ids = [r[0] for r in _rows(out)]
    assert ids == [1, 2, 3, 6]


def test_merge_into_empty_target(spark):
    changes = _df(
        spark,
        [(1, "a", 1.0, "insert", 1)],
        ["id", "name", "amount", "_change_type", "_commit_version"],
    )
    out = apply_cdc(changes, None, keys=["id"])
    assert _rows(out) == [(1, "a", 1.0)]


def test_apply_cdc_table_roundtrip(spark, tmp_path):
    target = str(tmp_path / "target")
    first = _df(
        spark,
        [(1, "a", 1.0, "insert", 1), (2, "b", 2.0, "insert", 1)],
        ["id", "name", "amount", "_change_type", "_commit_version"],
    )
    res = apply_cdc_table(spark, first, target, keys=["id"])
    assert res["action"] == "merge" and res["rows_out"] == 2
    second = _df(
        spark,
        [(1, "a2", 9.0, "update_postimage", 2), (2, None, None, "delete", 2)],
        ["id", "name", "amount", "_change_type", "_commit_version"],
    )
    res2 = apply_cdc_table(spark, second, target, keys=["id"])
    assert res2["rows_out"] == 1
    # read through the table API: the target is a log-backed delta table and
    # overwritten files stay on disk (invisible to the snapshot) until vacuum
    from polars_incremental_spark.sinks.delta import read_table

    final = sorted(tuple(r) for r in read_table(spark, target).collect())
    assert final == [(1, "a2", 9.0)]


def test_apply_cdc_table_noop_on_empty(spark, tmp_path):
    empty = spark.createDataFrame([], "id long, _change_type string")
    res = apply_cdc_table(spark, empty, str(tmp_path / "t"), keys=["id"])
    assert res == {"rows_in": 0, "rows_out": 0, "action": "noop"}
    # into a table that holds rows, rows_out is what the table holds
    from polars_incremental_spark.sinks.delta import write_table

    path = str(tmp_path / "held")
    write_table(spark.createDataFrame([(1,), (2,)], "id long"), path)
    res = apply_cdc_table(spark, empty, path, keys=["id"])
    assert res == {"rows_in": 0, "rows_out": 2, "action": "noop"}


def test_apply_cdc_randomized_differential(spark):
    """200 random changes vs a pure-Python replay oracle: latest change per
    key (by commit version) wins; delete removes, upsert replaces."""
    import random

    rng = random.Random(42)
    keys = list(range(30))
    changes = []
    for version in range(1, 201):
        k = rng.choice(keys)
        ct = rng.choice(["insert", "update_postimage", "update", "delete", "update_preimage"])
        changes.append((k, f"v{version}", ct, version))

    existing_rows = [(k, f"base{k}") for k in keys if k % 3 == 0]

    changes_df = spark.createDataFrame(
        changes, ["k", "v", "_change_type", "_commit_version"]
    )
    existing_df = spark.createDataFrame(existing_rows, ["k", "v"])
    got = {r["k"]: r["v"] for r in apply_cdc(changes_df, existing_df, keys=["k"]).collect()}

    # oracle: preimages are FILTERED before dedupe (reference cdc.py:86-100),
    # so the latest NON-preimage change per key governs the outcome
    latest = {}
    for k, v, ct, _version in changes:
        if ct != "update_preimage":
            latest[k] = (v, ct)
    base = dict(existing_rows)
    for k in keys:
        if k in latest:
            v, ct = latest[k]
            expected_k = None if ct == "delete" else v
        else:
            expected_k = base.get(k)  # untouched (or preimage-only) key
        if expected_k is None:
            assert k not in got, k
        else:
            assert got.get(k) == expected_k, (k, got.get(k), expected_k)


# --------------------------------------------------------------------------
# apply_cdc_table's file-selective jar-less merge: differential against
# apply_cdc over the whole table, on multi-file range-clustered Delta tables


def _counter(rows, cols):
    from collections import Counter

    return Counter(tuple(r.asDict().get(c) for c in cols) for r in rows)


def _clustered_table(spark, path, scenario):
    """80 rows, ids 0..79, range-clustered by id into 4 files (one file per
    ``grp = id // 20`` partition on the partition-key table)."""
    from polars_incremental_spark.sinks.delta import delete_rows, write_table
    from polars_incremental_spark.sinks.deltalog import (
        enable_column_mapping,
        rename_column,
        set_table_properties,
    )

    rows = [(i, f"n{i}", float(i), i // 20) for i in range(80)]
    if scenario == "null_keys":
        rows += [(None, "null-a", -1.0, 0), (None, "null-b", -2.0, 0)]
    df = spark.createDataFrame(rows, "id long, name string, amount double, grp long")
    if scenario == "partition_key":
        write_table(df.repartition(1), path, partition_by=["grp"])
    else:
        write_table(df.repartitionByRange(4, "id"), path)
    if scenario == "deletion_vector":
        set_table_properties(path, {"delta.enableDeletionVectors": "true"})
        delete_rows(spark, path, "id = 5")  # a file the batch does not touch
        delete_rows(spark, path, "id = 70")  # a candidate file
    if scenario == "column_mapping":
        enable_column_mapping(path)
        rename_column(path, "id", "key_id")  # logical name != stats key
        return "key_id"
    return "id"


_MERGE_SCENARIOS = {
    "dedupe": {},
    "no_dedupe": {"dedupe_by_latest_commit": False},
    "ignore_delete": {"ignore_delete": True},
    "type_map": {"change_type_map": {"I": "insert", "U": "update_postimage", "D": "delete"}},
    "null_keys": {},
    "two_column_key": {},
    "partition_key": {},
    "column_mapping": {},
    "deletion_vector": {},
    "new_column": {},
}


def _random_batch(spark, rng, scenario, kcol, n=16):
    """Changes confined to the top of the key range (ids 60..85, 80+ new),
    with repeated keys across commit versions."""
    codes = {"insert": "I", "update_postimage": "U", "delete": "D"}
    rows = []
    for i in range(n):
        k = rng.randrange(60, 86)
        ct = rng.choice(["insert", "update_postimage", "update", "delete", "update_preimage"])
        if scenario == "type_map":
            ct = codes.get(ct, "X")  # "X" is an unmapped code: never acts
        if scenario == "null_keys" and rng.random() < 0.3:
            k = None
        grp = None if k is None else k // 20
        if scenario == "two_column_key" and rng.random() < 0.3:
            grp = 9  # right id, wrong second key column: an insert
        rows.append((k, f"c{i}", float(rng.randrange(1000)), grp, ct, rng.randrange(1, 4), f"note{i}"))
    schema = f"{kcol} long, name string, amount double, grp long, _change_type string, _commit_version long, note string"
    df = spark.createDataFrame(rows, schema)
    return df if scenario == "new_column" else df.drop("note")


def _key_bounds(add, meta, col):
    """(min, max) of ``col`` in one add, from its partition value or stats."""
    fields = json.loads(meta["schemaString"])["fields"]
    phys = next(
        (f.get("metadata") or {}).get("delta.columnMapping.physicalName", col)
        for f in fields
        if f["name"] == col
    )
    if phys in (add.get("partitionValues") or {}):
        v = int(add["partitionValues"][phys])
        return v, v
    stats = json.loads(add["stats"])
    return stats["minValues"].get(phys), stats["maxValues"].get(phys)


@pytest.mark.parametrize("scenario", sorted(_MERGE_SCENARIOS))
def test_selective_merge_matches_full_table_apply(spark, tmp_path, scenario):
    """The jar-less merge rewrites only files whose key stats overlap the
    batch, yet equals apply_cdc over the whole table; untouched files keep
    their paths, rows_out matches a scan, and the change feed applied to
    the previous snapshot gives the new one."""
    import random

    from polars_incremental_spark.checkpoints.delta import DeltaLog
    from polars_incremental_spark.sinks.delta import read_table
    from polars_incremental_spark.sinks.deltalog import read_change_feed

    t = str(tmp_path / "t")
    kcol = _clustered_table(spark, t, scenario)
    keys = {"two_column_key": [kcol, "grp"], "partition_key": ["grp", kcol]}.get(
        scenario, [kcol]
    )
    opts = _MERGE_SCENARIOS[scenario]
    rng = random.Random(f"selective-merge-{scenario}")
    batches = [_random_batch(spark, rng, scenario, kcol)]
    if scenario == "null_keys":
        # every key NULL: nothing can match, so no file is a candidate
        batches.append(
            spark.createDataFrame(
                [(None, "z", 1.0, 0, "insert", 5), (None, None, None, 0, "delete", 5)],
                f"{kcol} long, name string, amount double, grp long, "
                "_change_type string, _commit_version long",
            )
        )
    if scenario == "no_dedupe":
        # above every file: no candidate, so the merge runs against an
        # EMPTY target, where an insert survives a same-batch delete
        batches.append(
            spark.createDataFrame(
                [(200, "new", 1.0, 10, "insert", 5), (200, None, None, 10, "delete", 6)],
                f"{kcol} long, name string, amount double, grp long, "
                "_change_type string, _commit_version long",
            )
        )
    if scenario == "deletion_vector":
        log = DeltaLog(t)
        assert sum(
            "deletionVector" in a for a in log.snapshot_files(log.latest_version())
        ) == 2

    for changes in batches:
        log = DeltaLog(t)
        meta = log.table_metadata()
        before = log.snapshot_files(log.latest_version())
        prev = read_table(spark, t).collect()
        expected = apply_cdc(changes, read_table(spark, t), keys=keys, **opts).collect()

        res = apply_cdc_table(spark, changes, t, keys=keys, write_change_feed=True, **opts)

        got_df = read_table(spark, t)
        cols = got_df.columns
        got = got_df.collect()
        assert _counter(got, cols) == _counter(expected, cols)
        assert res["rows_out"] == len(got)
        assert res["rows_in"] == changes.count()

        # files whose key range misses the batch's on some key column were
        # neither read nor rewritten: they keep their paths
        change_rows = changes.collect()
        after = {a["path"] for a in log.snapshot_files(log.latest_version())}
        outside = []
        for a in before:
            for k in keys:
                vals = [r[k] for r in change_rows if r[k] is not None]
                lo, hi = _key_bounds(a, meta, k)
                if not vals or (lo is not None and (hi < min(vals) or lo > max(vals))):
                    outside.append(a["path"])
                    break
        assert outside, "the batch must leave some file untouched"
        assert set(outside) <= after

        version = log.latest_version()
        feed = read_change_feed(spark, t, starting_version=version, ending_version=version).collect()
        removed = _counter(
            [r for r in feed if r["_change_type"] in ("delete", "update_preimage")], cols
        )
        added = _counter(
            [r for r in feed if r["_change_type"] in ("insert", "update_postimage")], cols
        )
        old = _counter(prev, cols)
        assert not removed - old
        assert old - removed + added == _counter(got, cols)


def test_change_feed_carries_target_rows(spark, tmp_path):
    """The feed names the stored rows a merge removes: a preimage for an
    update, the deleted row's values for a delete (not the change's)."""
    from polars_incremental_spark.sinks.delta import write_table
    from polars_incremental_spark.sinks.deltalog import read_change_feed

    t = str(tmp_path / "t")
    write_table(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k long, v string, n long"),
        t,
    )
    changes = spark.createDataFrame(
        [(1, "a2", 11, "update_postimage"), (2, None, None, "delete")],
        "k long, v string, n long, _change_type string",
    )
    apply_cdc_table(spark, changes, t, keys=["k"], write_change_feed=True)
    feed = read_change_feed(spark, t, starting_version=1, ending_version=1)
    got = sorted(tuple(r) for r in feed.select("_change_type", "k", "v", "n").collect())
    assert got == [
        ("delete", 2, "b", 20),
        ("update_postimage", 1, "a2", 11),
        ("update_preimage", 1, "a", 10),
    ]


def test_selective_merge_nan_keys_fail_open(spark, tmp_path):
    """NaN keys: Spark joins NaN = NaN, but Python compares nothing with
    NaN as true.  Neither a NaN in a file's logged max nor a NaN in the
    batch's key range may prune the file that holds the matching row."""
    import math

    from polars_incremental_spark.sinks.delta import read_table, write_table

    t = str(tmp_path / "t")
    nan = float("nan")
    # file 1 logs min 1.0 / max NaN; file 2 holds 10.0 and 11.0
    for rows in ([(1.0, "a"), (nan, "n"), (3.0, "c")], [(10.0, "x"), (11.0, "y")]):
        write_table(spark.createDataFrame(rows, "x double, v string").coalesce(1), t)
    schema = "x double, v string, _change_type string"

    def state():
        return sorted(
            (r["v"], "nan" if math.isnan(r["x"]) else r["x"])
            for r in read_table(spark, t).collect()
        )

    # key 3.0 lives in the file whose logged max is NaN
    apply_cdc_table(
        spark, spark.createDataFrame([(3.0, "c2", "update_postimage")], schema), t, keys=["x"]
    )
    assert state() == [("a", 1.0), ("c2", 3.0), ("n", "nan"), ("x", 10.0), ("y", 11.0)]
    # the batch's key range is [10.0, NaN]: its NaN bound must not prune
    # file 2 (10.0 <= NaN is False in Python)
    res = apply_cdc_table(
        spark,
        spark.createDataFrame(
            [(nan, "n2", "update_postimage"), (10.0, "x2", "update_postimage")], schema
        ),
        t,
        keys=["x"],
    )
    assert state() == [("a", 1.0), ("c2", 3.0), ("n2", "nan"), ("x2", 10.0), ("y", 11.0)]
    assert res["rows_out"] == 5


def test_selective_merge_conflicts_with_a_concurrent_append(spark, tmp_path, monkeypatch):
    """An append that lands after the merge read its candidates may hold a
    key the merge upserts: the merge must raise, not commit a duplicate."""
    from polars_incremental_spark.sinks import deltalog
    from polars_incremental_spark.sinks.delta import read_table, write_table

    t = str(tmp_path / "t")
    write_table(spark.createDataFrame([(1, "a")], "id long, v string"), t)
    real = deltalog.key_range_candidates

    def race(*args, **kwargs):
        got = real(*args, **kwargs)
        write_table(spark.createDataFrame([(2, "late")], "id long, v string"), t)
        return got

    monkeypatch.setattr(deltalog, "key_range_candidates", race)
    changes = spark.createDataFrame(
        [(2, "b", "insert")], "id long, v string, _change_type string"
    )
    with pytest.raises(deltalog.CommitConflictError):
        apply_cdc_table(spark, changes, t, keys=["id"])
    assert sorted(tuple(r) for r in read_table(spark, t).collect()) == [
        (1, "a"),
        (2, "late"),
    ]


def _two_file_table(spark, path):
    """Ids 1..10 in one file, 100..110 in another; returns their paths."""
    from polars_incremental_spark.checkpoints.delta import DeltaLog
    from polars_incremental_spark.sinks.delta import write_table

    for lo, hi in ((1, 11), (100, 111)):
        rows = [(i, f"v{i}") for i in range(lo, hi)]
        write_table(spark.createDataFrame(rows, "id long, v string").coalesce(1), path)
    log = DeltaLog(path)
    adds = log.snapshot_files(log.latest_version())
    low, high = sorted(adds, key=lambda a: json.loads(a["stats"])["minValues"]["id"])
    return low["path"], high["path"]


def _live_paths(path):
    from polars_incremental_spark.checkpoints.delta import DeltaLog

    log = DeltaLog(path)
    return {a["path"] for a in log.snapshot_files(log.latest_version())}


_NON_MATCHING = {
    "update_preimage": ([(105, "old", "update_preimage", 1)], {}),
    "ignored_delete": ([(105, None, "delete", 1)], {"ignore_delete": True}),
    # the latest change of key 105 is an unmapped code, which never acts
    "superseded": ([(105, "x", "update_postimage", 1), (105, "y", "X", 2)], {}),
}


@pytest.mark.parametrize("case", sorted(_NON_MATCHING))
def test_rows_that_match_no_target_key_leave_their_file_live(spark, tmp_path, case):
    """A change row the merge never matches (a preimage, an ignored delete,
    a row superseded by a non-acting one) does not widen the key range, so
    the only file holding its key keeps its path; rows_in still counts it."""
    from polars_incremental_spark.sinks.delta import read_table

    t = str(tmp_path / "t")
    low, high = _two_file_table(spark, t)
    rows, opts = _NON_MATCHING[case]
    changes = spark.createDataFrame(
        [(5, "five", "update_postimage", 1), *rows],
        "id long, v string, _change_type string, _commit_version long",
    )
    expected = apply_cdc(changes, read_table(spark, t), keys=["id"], **opts).collect()

    res = apply_cdc_table(spark, changes, t, keys=["id"], **opts)

    live = _live_paths(t)
    assert high in live and low not in live
    assert res["rows_in"] == 1 + len(rows)
    assert _rows(read_table(spark, t)) == sorted(tuple(r) for r in expected)


def test_merge_rewrite_is_written_by_size_not_by_task(spark, tmp_path, monkeypatch):
    """A small merge adds exactly one data file however many tasks feed it;
    with a tiny file-size floor it adds several."""
    from polars_incremental_spark.functions import layout
    from polars_incremental_spark.sinks.delta import read_table, write_table

    t = str(tmp_path / "t")
    rows = [(i, f"v{i}") for i in range(200)]
    write_table(spark.createDataFrame(rows, "id long, v string").repartitionByRange(4, "id"), t)
    schema = "id long, v string, _change_type string"

    def merge(ids):
        before = _live_paths(t)
        changes = spark.createDataFrame(
            [(i, f"u{i}", "update_postimage") for i in ids] + [(1000 + ids[0], "n", "insert")],
            schema,
        ).repartition(4)
        apply_cdc_table(spark, changes, t, keys=["id"])
        return _live_paths(t) - before

    assert len(merge(list(range(0, 200, 10)))) == 1
    monkeypatch.setattr(layout, "MIN_FILE_BYTES", 64)
    assert len(merge(list(range(5, 200, 10)))) > 1
    got = {r[0]: r[1] for r in read_table(spark, t).collect()}
    assert len(got) == 202
    assert got[10] == "u10" and got[15] == "u15" and got[11] == "v11"


def test_merge_releases_its_checkpoint(spark, tmp_path, monkeypatch):
    """The merge's materialized change rows are unpersisted when it
    returns, and when its commit raises CommitConflictError."""
    from polars_incremental_spark.functions.iterutils import persistent_rdd_ids
    from polars_incremental_spark.sinks import deltalog
    from polars_incremental_spark.sinks.delta import write_table

    t = str(tmp_path / "t")
    _two_file_table(spark, t)
    schema = "id long, v string, _change_type string"
    before = persistent_rdd_ids(spark)
    apply_cdc_table(
        spark, spark.createDataFrame([(5, "u", "update_postimage")], schema), t, keys=["id"]
    )
    assert not persistent_rdd_ids(spark) - before

    real = deltalog.key_range_candidates

    def race(*args, **kwargs):
        got = real(*args, **kwargs)
        write_table(spark.createDataFrame([(7, "late")], "id long, v string"), t)
        return got

    monkeypatch.setattr(deltalog, "key_range_candidates", race)
    with pytest.raises(deltalog.CommitConflictError):
        apply_cdc_table(
            spark, spark.createDataFrame([(6, "u", "update_postimage")], schema), t, keys=["id"]
        )
    assert not persistent_rdd_ids(spark) - before


def test_compute_counts_off_still_prunes_by_key_range(spark, tmp_path):
    """Without counts the merge still rewrites only the file its keys hit."""
    from polars_incremental_spark.sinks.delta import read_table

    t = str(tmp_path / "t")
    low, high = _two_file_table(spark, t)
    changes = spark.createDataFrame(
        [(3, "three", "update_postimage"), (4, None, "delete")],
        "id long, v string, _change_type string",
    )
    res = apply_cdc_table(spark, changes, t, keys=["id"], compute_counts=False)
    assert res == {"rows_in": None, "rows_out": None, "action": "merge"}
    live = _live_paths(t)
    assert high in live and low not in live
    got = {r[0]: r[1] for r in read_table(spark, t).collect()}
    assert got[3] == "three" and 4 not in got and len(got) == 20
