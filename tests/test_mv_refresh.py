"""Incremental aggregate MV maintenance: every refresh must land the MV
exactly where a full recompute would — through appends, CDF deletes,
group-migrating updates, group birth/death, and randomized DML storms.
The watermark travels in the MERGE commit's userMetadata, so state and
data advance atomically (verified by the interrupted-refresh test).
"""

import json
import random

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark.checkpoints.delta import DeltaLog
from polars_incremental_spark.mv import create_agg_mv, refresh_agg_mv
from polars_incremental_spark.sinks.deltalog import (
    delete_where,
    read_change_feed,
    read_delta_fallback,
    update_where,
    write_delta_fallback,
)


def _rows(spark, data):
    return spark.createDataFrame(data, "g string, x long")


def _recompute(spark, base):
    return {
        (r["g"],): (r["cnt"], r["sum_x"])
        for r in read_delta_fallback(spark, base)
        .groupBy("g")
        .agg(F.count("*").cast("long").alias("cnt"), F.sum("x").alias("sum_x"))
        .collect()
    }


def _mv_rows(spark, mv):
    return {
        (r["g"],): (r["cnt"], r["sum_x"])
        for r in read_delta_fallback(spark, mv).collect()
    }


def test_create_then_append_refresh_matches_recompute(spark, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(_rows(spark, [("a", 1), ("a", 2), ("b", 5)]), base)
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    assert _mv_rows(spark, mv) == {("a",): (2, 3), ("b",): (1, 5)}
    write_delta_fallback(
        _rows(spark, [("a", 10), ("c", 7)]), base, mode="append"
    )
    res = refresh_agg_mv(spark, base, mv)
    assert res["refreshed"] and res["groups_touched"] == 2
    assert _mv_rows(spark, mv) == _recompute(spark, base)
    assert _mv_rows(spark, mv)[("c",)] == (1, 7)  # group birth -> insert


def test_noop_refresh_and_idempotence(spark, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(_rows(spark, [("a", 1)]), base)
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    res = refresh_agg_mv(spark, base, mv)
    assert res == {
        "refreshed": False,
        "from_version": 0,
        "to_version": 0,
        "groups_touched": 0,
    }
    # MV untouched by a no-op
    assert DeltaLog(mv).latest_version() == 0


def test_cdf_delete_kills_group(spark, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(_rows(spark, [("a", 1), ("b", 2), ("b", 3)]), base)
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    delete_where(spark, base, "g = 'a'", write_cdf=True)
    refresh_agg_mv(spark, base, mv)
    got = _mv_rows(spark, mv)
    assert ("a",) not in got  # count hit zero -> MERGE delete clause
    assert got == _recompute(spark, base) == {("b",): (2, 5)}


def test_update_migrates_between_groups(spark, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(_rows(spark, [("a", 1), ("a", 4), ("b", 2)]), base)
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    # move one 'a' row into group 'b': preimage -1/-4 on a, postimage +1/+4 on b
    update_where(spark, base, "g = 'a' and x = 4", {"g": "'b'"}, write_cdf=True)
    refresh_agg_mv(spark, base, mv)
    assert _mv_rows(spark, mv) == _recompute(spark, base) == {
        ("a",): (1, 1),
        ("b",): (2, 6),
    }


def test_in_group_update_changes_sum_only(spark, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(_rows(spark, [("a", 1), ("a", 4)]), base)
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    update_where(spark, base, "x = 4", {"x": "40"}, write_cdf=True)
    refresh_agg_mv(spark, base, mv)
    assert _mv_rows(spark, mv) == {("a",): (2, 41)}  # cnt delta 0, sum +36


def test_watermark_atomic_with_merge(spark, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(_rows(spark, [("a", 1)]), base)
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    write_delta_fallback(_rows(spark, [("a", 2)]), base, mode="append")
    refresh_agg_mv(spark, base, mv)
    # the merge commit itself carries the new watermark — as domain
    # metadata (the durable source) AND mirrored into its userMetadata
    log = DeltaLog(mv)
    head = log.latest_version()
    assert json.loads(log.domain_metadata()["pis.mv"])["base_version"] == 1
    info = next(
        a["commitInfo"] for a in log.actions(head) if "commitInfo" in a
    )
    assert json.loads(info["userMetadata"])["base_version"] == 1
    # a re-run folds nothing (watermark advanced atomically)
    res = refresh_agg_mv(spark, base, mv)
    assert res["refreshed"] is False
    assert _mv_rows(spark, mv) == {("a",): (2, 3)}


def test_mv_state_survives_checkpoint_and_expiry(spark, tmp_path):
    from polars_incremental_spark.sinks.deltalog import checkpoint_log, expire_log

    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(_rows(spark, [("a", 1), ("b", 2)]), base)
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    write_delta_fallback(_rows(spark, [("a", 5)]), base, mode="append")
    refresh_agg_mv(spark, base, mv)
    # summarize the MV's OWN log away: commitInfo (and its userMetadata)
    # die with the JSON commits, but the domain-metadata state survives
    checkpoint_log(mv)
    expire_log(mv)
    assert DeltaLog(mv).versions() == []
    write_delta_fallback(_rows(spark, [("c", 9)]), base, mode="append")
    res = refresh_agg_mv(spark, base, mv)
    assert res["refreshed"] and res["groups_touched"] == 1
    assert _mv_rows(spark, mv) == _recompute(spark, base)


def test_refresh_on_partitioned_base(spark, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(
        _rows(spark, [("a", 1), ("a", 2), ("b", 5)]),
        base,
        partition_by=["g"],
    )
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    # add-fallback CDF entries are DATA files: the partition column exists
    # only in the col=value/ layout, so the CDF read must be basePath-aware
    write_delta_fallback(
        _rows(spark, [("a", 10), ("c", 7)]), base, mode="append"
    )
    delete_where(spark, base, "g = 'b'", write_cdf=True)
    refresh_agg_mv(spark, base, mv)
    assert _mv_rows(spark, mv) == _recompute(spark, base) == {
        ("a",): (3, 13),
        ("c",): (1, 7),
    }


def test_unreconstructable_cdf_gap_fails_closed(spark, tmp_path):
    """A CDF-less delete is now RECONSTRUCTED by per-commit file diff
    (round 11; tests/test_cdf_reconstruct.py) — the refresh fails closed
    only when the diff genuinely cannot be exact, e.g. the removed file
    was vacuumed away.  The failed refresh must leave the MV untouched."""
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(_rows(spark, [("a", 1), ("b", 2)]), base)
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    delete_where(spark, base, "g = 'a'")  # NO write_cdf
    from polars_incremental_spark.errors import ChangeDataFeedError
    from polars_incremental_spark.sinks.deltalog import vacuum_fallback

    vacuum_fallback(base, retention_hours=0.0)
    with pytest.raises(ChangeDataFeedError):
        refresh_agg_mv(spark, base, mv)
    # failed refresh left the MV untouched
    assert _mv_rows(spark, mv) == {("a",): (1, 1), ("b",): (1, 2)}


def test_null_group_key_rejected(spark, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(
        spark.createDataFrame([(None, 1), ("a", 2)], "g string, x long"), base
    )
    with pytest.raises(ValueError, match="NULL group key"):
        create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])


@pytest.mark.slow  # round-13 tiering: long randomized/property probe
def test_randomized_dml_storm_always_matches_recompute(spark, tmp_path):
    rng = random.Random(20260815)
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    groups = ["g0", "g1", "g2", "g3"]
    nxt = [0]

    def batch(n):
        rows = [(rng.choice(groups), nxt[0] + i) for i in range(n)]
        nxt[0] += n
        return _rows(spark, rows)

    write_delta_fallback(batch(20), base)
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    for step in range(8):
        if step == 4:
            # schema-add mid-storm (round-8 ask): a mergeSchema append
            # adding a column the MV ignores must not disturb refreshes —
            # older change rows surface it as null, newer ones carry it
            write_delta_fallback(
                spark.createDataFrame(
                    [("g0", nxt[0], "tag")], "g string, x long, note string"
                ),
                base,
                mode="append",
            )
            nxt[0] += 1
        op = rng.random()
        if op < 0.5:
            write_delta_fallback(batch(rng.randint(1, 6)), base, mode="append")
        elif op < 0.8:
            g = rng.choice(groups)
            delete_where(spark, base, f"g = '{g}' and x % 3 = {step % 3}", write_cdf=True)
        else:
            g = rng.choice(groups)
            update_where(
                spark,
                base,
                f"g = '{g}' and x % 4 = 1",
                {"x": "x + 100"},
                write_cdf=True,
            )
        if rng.random() < 0.6:
            refresh_agg_mv(spark, base, mv)
            assert _mv_rows(spark, mv) == _recompute(spark, base), f"step {step}"
    refresh_agg_mv(spark, base, mv)
    assert _mv_rows(spark, mv) == _recompute(spark, base)


def test_minmax_mv_folds_inserts_and_retracts_deletes(spark, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(
        spark.createDataFrame(
            [("a", 5, 5), ("a", 2, None), ("b", 9, 1)],
            "g string, x long, y long",
        ),
        base,
    )
    create_agg_mv(
        spark, base, mv, group_cols=["g"], sum_cols=["x"],
        min_cols=["x", "y"], max_cols=["x"],
    )
    write_delta_fallback(
        spark.createDataFrame(
            [("a", 1, 3), ("b", 20, None), ("c", 7, 7)],
            "g string, x long, y long",
        ),
        base,
        mode="append",
    )
    refresh_agg_mv(spark, base, mv)
    got = {
        r["g"]: (r["cnt"], r["sum_x"], r["min_x"], r["min_y"], r["max_x"])
        for r in read_delta_fallback(spark, mv).collect()
    }
    # null y values skip (least/greatest semantics = agg min over non-null)
    assert got == {
        "a": (3, 8, 1, 3, 5),
        "b": (2, 29, 9, 1, 20),
        "c": (1, 7, 7, 7, 7),
    }
    # deleting the current max retracts it via the bounded per-group
    # re-aggregation: group b re-derives max 9 from the base, the
    # untouched groups keep their incremental fold
    delete_where(spark, base, "g = 'b' and x = 20", write_cdf=True)
    refresh_agg_mv(spark, base, mv)
    after = {
        r["g"]: (r["cnt"], r["sum_x"], r["min_x"], r["max_x"])
        for r in read_delta_fallback(spark, mv).collect()
    }
    assert after["b"] == (1, 9, 9, 9)
    assert after["a"] == (3, 8, 1, 5)
    # killing a whole group deletes its MV row
    delete_where(spark, base, "g = 'c'", write_cdf=True)
    refresh_agg_mv(spark, base, mv)
    assert "c" not in {
        r["g"] for r in read_delta_fallback(spark, mv).collect()
    }


def test_minmax_mv_update_retracts_extremum(spark, tmp_path):
    """An update that moves the extremum re-derives min/max for the
    touched group only; a mixed batch folds insert-only groups."""
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(_rows(spark, [("a", 1), ("a", 9), ("b", 5)]), base)
    create_agg_mv(
        spark, base, mv, group_cols=["g"], sum_cols=["x"],
        min_cols=["x"], max_cols=["x"],
    )
    # one commit window holding an update (retraction in 'a') AND an
    # append (pure insert into 'b' and new group 'c')
    update_where(spark, base, "g = 'a' and x = 9", {"x": "2"}, write_cdf=True)
    write_delta_fallback(_rows(spark, [("b", 7), ("c", 4)]), base, mode="append")
    refresh_agg_mv(spark, base, mv)
    got = {
        r["g"]: (r["cnt"], r["sum_x"], r["min_x"], r["max_x"])
        for r in read_delta_fallback(spark, mv).collect()
    }
    assert got == {
        "a": (2, 3, 1, 2),   # max 9 retracted, re-derived as 2
        "b": (2, 12, 5, 7),  # insert-only fold
        "c": (1, 4, 4, 4),   # group birth
    }


@pytest.mark.slow  # round-13 tiering: long randomized/property probe
def test_minmax_mv_randomized_dml_storm(spark, tmp_path):
    """min/max MVs under a full insert/delete/update storm always match
    a recompute — the retracted-group re-aggregation is exact."""
    rng = random.Random(20260816)
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    groups = ["g0", "g1", "g2"]
    nxt = [0]

    def batch(n):
        rows = [(rng.choice(groups), (nxt[0] + i * 37) % 101) for i in range(n)]
        nxt[0] += n
        return _rows(spark, rows)

    def recompute():
        return {
            r["g"]: (r["cnt"], r["sum_x"], r["min_x"], r["max_x"])
            for r in read_delta_fallback(spark, base)
            .groupBy("g")
            .agg(
                F.count("*").cast("long").alias("cnt"),
                F.sum("x").alias("sum_x"),
                F.min("x").alias("min_x"),
                F.max("x").alias("max_x"),
            )
            .collect()
        }

    def mv_rows():
        return {
            r["g"]: (r["cnt"], r["sum_x"], r["min_x"], r["max_x"])
            for r in read_delta_fallback(spark, mv).collect()
        }

    write_delta_fallback(batch(15), base)
    create_agg_mv(
        spark, base, mv, group_cols=["g"], sum_cols=["x"],
        min_cols=["x"], max_cols=["x"],
    )
    for step in range(8):
        op = rng.random()
        if op < 0.4:
            write_delta_fallback(batch(rng.randint(1, 5)), base, mode="append")
        elif op < 0.75:
            g = rng.choice(groups)
            delete_where(
                spark, base, f"g = '{g}' and x % 3 = {step % 3}", write_cdf=True
            )
        else:
            g = rng.choice(groups)
            update_where(
                spark, base, f"g = '{g}' and x % 5 = 2",
                {"x": "x + 50"}, write_cdf=True,
            )
        if rng.random() < 0.6:
            refresh_agg_mv(spark, base, mv)
            assert mv_rows() == recompute(), f"step {step}"
    refresh_agg_mv(spark, base, mv)
    assert mv_rows() == recompute()


def _none_safe(rows):
    return sorted(
        map(tuple, rows), key=lambda t: tuple((v is None, v) for v in t)
    )


def _join_recompute(spark, lp, rp):
    l = read_delta_fallback(spark, lp)
    r = read_delta_fallback(spark, rp)
    return _none_safe(l.join(r, "k").collect())


def _join_mv_rows(spark, mv):
    from polars_incremental_spark.mv import read_join_mv

    return _none_safe(read_join_mv(spark, mv).collect())


def test_join_mv_appends_both_sides(spark, tmp_path):
    from polars_incremental_spark.mv import create_join_mv, refresh_join_mv

    lp, rp, mv = str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "j")
    write_delta_fallback(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, lval string"), lp
    )
    write_delta_fallback(
        spark.createDataFrame([(1, 10.0), (3, 30.0)], "k long, rval double"), rp
    )
    create_join_mv(spark, lp, rp, mv, on=["k"])
    assert _join_mv_rows(spark, mv) == _join_recompute(spark, lp, rp)
    # appends on BOTH sides, including a pair that matches ONLY delta-delta
    write_delta_fallback(
        spark.createDataFrame([(3, "c"), (4, "d")], "k long, lval string"),
        lp,
        mode="append",
    )
    write_delta_fallback(
        spark.createDataFrame([(2, 20.0), (4, 40.0)], "k long, rval double"),
        rp,
        mode="append",
    )
    res = refresh_join_mv(spark, mv)
    assert res["refreshed"]
    assert _join_mv_rows(spark, mv) == _join_recompute(spark, lp, rp)
    # ΔL⋈ΔR counted exactly once: key 4 exists only in the two deltas
    assert sum(1 for t in _join_mv_rows(spark, mv) if t[0] == 4) == 1
    # no-op re-run
    assert refresh_join_mv(spark, mv) == {
        "refreshed": False,
        "tuples_touched": 0,
    }


@pytest.mark.slow  # round-13 tiering: long randomized/property probe
def test_join_mv_one_sided_appends_and_storm(spark, tmp_path):
    import random

    from polars_incremental_spark.mv import create_join_mv, refresh_join_mv

    rng = random.Random(7)
    lp, rp, mv = str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "j")
    write_delta_fallback(
        spark.createDataFrame([(k, f"l{k}") for k in range(5)], "k long, lval string"),
        lp,
    )
    write_delta_fallback(
        spark.createDataFrame([(k, float(k)) for k in range(0, 10, 2)], "k long, rval double"),
        rp,
    )
    create_join_mv(spark, lp, rp, mv, on=["k"])
    nxt = [100]
    for _ in range(5):
        side = rng.random()
        if side < 0.6:
            ks = [rng.randint(0, 8) for _ in range(rng.randint(1, 3))]
            write_delta_fallback(
                spark.createDataFrame(
                    [(k, f"l{nxt[0] + i}") for i, k in enumerate(ks)],
                    "k long, lval string",
                ),
                lp,
                mode="append",
            )
        else:
            ks = [rng.randint(0, 8) for _ in range(rng.randint(1, 3))]
            write_delta_fallback(
                spark.createDataFrame(
                    [(k, float(nxt[0] + i)) for i, k in enumerate(ks)],
                    "k long, rval double",
                ),
                rp,
                mode="append",
            )
        nxt[0] += 10
        if rng.random() < 0.7:
            refresh_join_mv(spark, mv)
            assert _join_mv_rows(spark, mv) == _join_recompute(spark, lp, rp)
    refresh_join_mv(spark, mv)
    assert _join_mv_rows(spark, mv) == _join_recompute(spark, lp, rp)


def test_join_mv_delete_and_update_fold_through(spark, tmp_path):
    """Counting IVM: deletes retract exactly the affected joined tuples
    (multiplicities decrement; zero kills the row) and updates fold as
    retract-preimage + assert-postimage."""
    from polars_incremental_spark.mv import create_join_mv, refresh_join_mv

    lp, rp, mv = str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "j")
    write_delta_fallback(
        spark.createDataFrame(
            [(1, "a"), (1, "a"), (1, "b"), (2, "c")], "k long, lval string"
        ),
        lp,
    )
    write_delta_fallback(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, rval double"), rp
    )
    create_join_mv(spark, lp, rp, mv, on=["k"])
    assert _join_mv_rows(spark, mv) == _join_recompute(spark, lp, rp)
    delete_where(spark, lp, "k = 2", write_cdf=True)
    update_where(spark, rp, "k = 1", {"rval": "11.0"}, write_cdf=True)
    res = refresh_join_mv(spark, mv)
    assert res["refreshed"]
    assert _join_mv_rows(spark, mv) == _join_recompute(spark, lp, rp)
    # key 2 vanished (left delete), key 1 rval rewrote (right update)
    got = _join_mv_rows(spark, mv)
    assert all(t[0] == 1 for t in got)
    assert {t[2] for t in got} == {11.0}
    # idempotent no-op re-run
    assert refresh_join_mv(spark, mv) == {
        "refreshed": False,
        "tuples_touched": 0,
    }


def test_join_mv_duplicate_multiplicities_decrement(spark, tmp_path):
    """A tuple with multiplicity n survives n-1 retractions, then dies."""
    from polars_incremental_spark.mv import create_join_mv, refresh_join_mv

    lp, rp, mv = str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "j")
    write_delta_fallback(
        spark.createDataFrame([(1, "a")] * 3, "k long, lval string"), lp
    )
    write_delta_fallback(
        spark.createDataFrame([(1, 10.0)], "k long, rval double"), rp
    )
    create_join_mv(spark, lp, rp, mv, on=["k"])
    assert len(_join_mv_rows(spark, mv)) == 3
    # the jar-less delete_where removes ALL matching rows; retract one at
    # a time by rewriting through the base: delete all three then re-add two
    delete_where(spark, lp, "k = 1", write_cdf=True)
    write_delta_fallback(
        spark.createDataFrame([(1, "a")] * 2, "k long, lval string"),
        lp,
        mode="append",
    )
    refresh_join_mv(spark, mv)
    assert _join_mv_rows(spark, mv) == _join_recompute(spark, lp, rp)
    assert len(_join_mv_rows(spark, mv)) == 2  # net -1 on multiplicity 3


def test_join_mv_null_payload_tuples_merge_safely(spark, tmp_path):
    """MERGE keys are null-unsafe; the tuple-digest rowkey keeps
    null-bearing payloads maintainable."""
    from polars_incremental_spark.mv import create_join_mv, refresh_join_mv

    lp, rp, mv = str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "j")
    write_delta_fallback(
        spark.createDataFrame([(1, None), (1, "x")], "k long, lval string"), lp
    )
    write_delta_fallback(
        spark.createDataFrame([(1, 10.0), (1, None)], "k long, rval double"), rp
    )
    create_join_mv(spark, lp, rp, mv, on=["k"])
    assert _join_mv_rows(spark, mv) == _join_recompute(spark, lp, rp)
    # retract the null-payload left row: both its joined tuples decrement
    delete_where(spark, lp, "lval is null", write_cdf=True)
    refresh_join_mv(spark, mv)
    assert _join_mv_rows(spark, mv) == _join_recompute(spark, lp, rp)


@pytest.mark.slow  # round-13 tiering: long randomized/property probe
def test_join_mv_randomized_dml_storm(spark, tmp_path):
    """Counting IVM under a full two-sided insert/delete/update storm
    always matches the recomputed join (bag semantics)."""
    import random

    from polars_incremental_spark.mv import create_join_mv, refresh_join_mv

    rng = random.Random(20260817)
    lp, rp, mv = str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "j")
    write_delta_fallback(
        spark.createDataFrame(
            [(k % 4, f"l{k % 3}") for k in range(8)], "k long, lval string"
        ),
        lp,
    )
    write_delta_fallback(
        spark.createDataFrame(
            [(k % 4, float(k % 2)) for k in range(6)], "k long, rval double"
        ),
        rp,
    )
    create_join_mv(spark, lp, rp, mv, on=["k"])
    nxt = [100]
    for step in range(8):
        path = lp if rng.random() < 0.5 else rp
        op = rng.random()
        if op < 0.45:
            if path is lp:
                rows = spark.createDataFrame(
                    [(rng.randint(0, 4), f"l{rng.randint(0, 3)}")
                     for _ in range(rng.randint(1, 3))],
                    "k long, lval string",
                )
            else:
                rows = spark.createDataFrame(
                    [(rng.randint(0, 4), float(rng.randint(0, 2)))
                     for _ in range(rng.randint(1, 3))],
                    "k long, rval double",
                )
            write_delta_fallback(rows, path, mode="append")
        elif op < 0.75:
            delete_where(
                spark, path, f"k = {rng.randint(0, 4)}", write_cdf=True
            )
        else:
            if path is lp:
                update_where(
                    spark, path, f"k = {rng.randint(0, 3)}",
                    {"lval": f"'u{nxt[0]}'"}, write_cdf=True,
                )
            else:
                update_where(
                    spark, path, f"k = {rng.randint(0, 3)}",
                    {"rval": f"{float(nxt[0])}"}, write_cdf=True,
                )
        nxt[0] += 1
        if rng.random() < 0.6:
            refresh_join_mv(spark, mv)
            assert _join_mv_rows(spark, mv) == _join_recompute(
                spark, lp, rp
            ), f"step {step}"
    refresh_join_mv(spark, mv)
    assert _join_mv_rows(spark, mv) == _join_recompute(spark, lp, rp)


def test_join_mv_column_clash_rejected(spark, tmp_path):
    from polars_incremental_spark.mv import create_join_mv

    lp, rp, mv = str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "j")
    write_delta_fallback(
        spark.createDataFrame([(1, "a")], "k long, v string"), lp
    )
    write_delta_fallback(
        spark.createDataFrame([(1, "b")], "k long, v string"), rp
    )
    with pytest.raises(ValueError, match="both sides"):
        create_join_mv(spark, lp, rp, mv, on=["k"])


def test_read_change_feed_direct(spark, tmp_path):
    base = str(tmp_path / "b")
    write_delta_fallback(_rows(spark, [("a", 1), ("b", 2)]), base)
    write_delta_fallback(_rows(spark, [("c", 3)]), base, mode="append")
    delete_where(spark, base, "g = 'a'", write_cdf=True)
    cdf = read_change_feed(spark, base, starting_version=0).collect()
    by_type = {}
    for r in cdf:
        by_type.setdefault(r["_change_type"], []).append(r)
    assert len(by_type["insert"]) == 3  # adds injected as inserts
    assert [r["g"] for r in by_type["delete"]] == ["a"]
    assert {r["_commit_version"] for r in cdf} == {0, 1, 2}
    # bounded range
    only_v1 = read_change_feed(
        spark, base, starting_version=1, ending_version=1
    ).collect()
    assert [r["g"] for r in only_v1] == ["c"]


def test_join_mv_timestamp_payload_survives_session_tz_change(spark, tmp_path):
    """Tuple digests must not depend on spark.sql.session.timeZone:
    to_json renders tz-aware timestamps in the session zone, so without
    epoch-micros canonicalization a refresh under a different zone would
    mismatch every stored rowkey (duplicate inserts, spurious
    inconsistency errors).  NTZ columns stay as wall-clock strings —
    session-stable by definition."""
    from pyspark.sql import functions as F  # noqa: F401

    from polars_incremental_spark.mv import create_join_mv, refresh_join_mv

    lp, rp, mv = str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "j")
    write_delta_fallback(
        spark.sql(
            "SELECT * FROM VALUES "
            "(1, timestamp'2024-03-01 10:00:00', timestamp_ntz'2024-03-01 10:00:00'),"
            "(2, timestamp'2024-06-01 12:30:00', timestamp_ntz'2024-06-01 12:30:00')"
            " AS t(k, ts, ts_ntz)"
        ),
        lp,
    )
    write_delta_fallback(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, tag string"), rp
    )
    create_join_mv(spark, lp, rp, mv, on=["k"])
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        # retraction under the NEW zone must hit the stored rowkeys
        delete_where(spark, lp, "k = 2", write_cdf=True)
        refresh_join_mv(spark, mv)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert _join_mv_rows(spark, mv) == _join_recompute(spark, lp, rp)
    assert [t[0] for t in _join_mv_rows(spark, mv)] == [1]


def test_agg_mv_survives_base_column_add(spark, tmp_path):
    """mergeSchema append adding a column the MV does not reference: the
    CDF rows gain a null field and the refresh keeps folding."""
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(_rows(spark, [("a", 1), ("b", 5)]), base)
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    write_delta_fallback(
        spark.createDataFrame(
            [("a", 10, "hello"), ("c", 7, None)],
            "g string, x long, note string",
        ),
        base,
        mode="append",
    )
    res = refresh_agg_mv(spark, base, mv)
    assert res["refreshed"]
    assert _mv_rows(spark, mv) == _recompute(spark, base)
    assert _mv_rows(spark, mv)[("c",)] == (1, 7)


def test_create_agg_mv_missing_column_fails_closed(spark, tmp_path):
    """An MV referencing a column that does not exist yet fails at CREATE
    with a clear message, not an unresolved-column AnalysisException."""
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(_rows(spark, [("a", 1)]), base)
    with pytest.raises(ValueError, match="missing MV column.*appears"):
        create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["y"])


def test_refresh_agg_mv_missing_column_fails_closed(spark, tmp_path):
    """A refresh whose change feed lacks a referenced column (wrong base
    table / out-of-band schema change) fails closed with a recreate
    pointer instead of crashing mid-MERGE."""
    base, base2, mv = (
        str(tmp_path / "b"),
        str(tmp_path / "b2"),
        str(tmp_path / "m"),
    )
    write_delta_fallback(_rows(spark, [("a", 1)]), base)
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    write_delta_fallback(
        spark.createDataFrame([("a",), ("b",)], "g string"), base2
    )
    write_delta_fallback(
        spark.createDataFrame([("c",)], "g string"), base2, mode="append"
    )
    with pytest.raises(ValueError, match="create_agg_mv"):
        refresh_agg_mv(spark, base2, mv)


def test_join_mv_base_schema_add_fails_closed(spark, tmp_path):
    """A base gaining a column after join-MV creation changes the joined
    tuple shape — every stored rowkey would mismatch.  The refresh must
    fail closed naming the cause, not raise the generic inconsistency
    error or a MERGE schema clash."""
    from polars_incremental_spark.mv import create_join_mv, refresh_join_mv

    lp, rp, mv = str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "j")
    write_delta_fallback(
        spark.createDataFrame([(1, "a")], "k long, v string"), lp
    )
    write_delta_fallback(
        spark.createDataFrame([(1, "x")], "k long, tag string"), rp
    )
    create_join_mv(spark, lp, rp, mv, on=["k"])
    write_delta_fallback(
        spark.createDataFrame(
            [(2, "b", "new")], "k long, v string, extra string"
        ),
        lp,
        mode="append",
    )
    with pytest.raises(ValueError, match="schema evolved.*create_join_mv"):
        refresh_join_mv(spark, mv)


def test_create_join_mv_missing_key_fails_closed(spark, tmp_path):
    from polars_incremental_spark.mv import create_join_mv

    lp, rp, mv = str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "j")
    write_delta_fallback(
        spark.createDataFrame([(1, "a")], "k long, v string"), lp
    )
    write_delta_fallback(
        spark.createDataFrame([(1, "x")], "kk long, tag string"), rp
    )
    with pytest.raises(ValueError, match="missing MV column"):
        create_join_mv(spark, lp, rp, mv, on=["k"])


def test_join_mv_nested_timestamp_payload_survives_tz_change(spark, tmp_path):
    """Round-7 ADVICE: a tz-aware timestamp NESTED inside a struct/array
    payload column must also digest session-timezone-independently —
    _row_digest recurses with _canon_tz, so a retraction issued under a
    different spark.sql.session.timeZone still matches the stored rowkeys
    instead of duplicating rows or failing closed."""
    from polars_incremental_spark.mv import create_join_mv, refresh_join_mv

    lp, rp, mv = str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "j")
    write_delta_fallback(
        spark.sql(
            "SELECT k, named_struct('at', ts, 'tag', tag) AS meta, "
            "array(ts, ts + interval 1 hour) AS times FROM VALUES "
            "(1, timestamp'2024-03-01 10:00:00', 'a'),"
            "(2, timestamp'2024-06-01 12:30:00', 'b')"
            " AS t(k, ts, tag)"
        ),
        lp,
    )
    write_delta_fallback(
        spark.createDataFrame([(1, "x"), (2, "y")], "k long, side string"), rp
    )
    create_join_mv(spark, lp, rp, mv, on=["k"])
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        delete_where(spark, lp, "k = 2", write_cdf=True)
        refresh_join_mv(spark, mv)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert _join_mv_rows(spark, mv) == _join_recompute(spark, lp, rp)
    assert [t[0] for t in _join_mv_rows(spark, mv)] == [1]


def test_minmax_mv_group_born_and_died_within_window(spark, tmp_path):
    """A group inserted AND fully deleted inside one refresh window is a
    retracted group absent from both the MV and the base recompute — it
    must neither insert a zero row nor disturb the others."""
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(_rows(spark, [("a", 1)]), base)
    create_agg_mv(
        spark, base, mv, group_cols=["g"], sum_cols=["x"],
        min_cols=["x"], max_cols=["x"],
    )
    write_delta_fallback(_rows(spark, [("ghost", 9), ("a", 3)]), base, mode="append")
    delete_where(spark, base, "g = 'ghost'", write_cdf=True)
    refresh_agg_mv(spark, base, mv)
    got = {
        r["g"]: (r["cnt"], r["sum_x"], r["min_x"], r["max_x"])
        for r in read_delta_fallback(spark, mv).collect()
    }
    assert got == {"a": (2, 4, 1, 3)}  # no ghost row, fold intact


def test_join_mv_pre_counting_format_fails_with_recreate_message(
    spark, tmp_path
):
    """An MV written in the old plain-row format (valid domain metadata,
    no _mv_mult/_mv_rowkey) must fail with the recreate message, not an
    opaque unresolved-column error mid-merge."""
    import json as _json

    from polars_incremental_spark.mv import read_join_mv, refresh_join_mv

    lp, rp, mv = str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "j")
    write_delta_fallback(
        spark.createDataFrame([(1, "a")], "k long, lval string"), lp
    )
    write_delta_fallback(
        spark.createDataFrame([(1, 1.0)], "k long, rval double"), rp
    )
    state = _json.dumps(
        {"left_path": lp, "right_path": rp, "left_version": 0,
         "right_version": 0, "on": ["k"]}
    )
    # simulate the pre-counting layout: plain joined rows + the domain
    write_delta_fallback(
        spark.createDataFrame([(1, "a", 1.0)], "k long, lval string, rval double"),
        mv,
        domain_metadata={"pis.joinMv": state},
    )
    write_delta_fallback(
        spark.createDataFrame([(2, "b")], "k long, lval string"), lp, mode="append"
    )
    with pytest.raises(ValueError, match="pre-counting"):
        refresh_join_mv(spark, mv)
    with pytest.raises(ValueError, match="pre-counting"):
        read_join_mv(spark, mv)


def _mv_paths(mv):
    log = DeltaLog(mv)
    return {a["path"] for a in log.snapshot_files(log.latest_version())}


def _one_file_per_group_mv(spark, base, mv, groups):
    """An MV whose files hold disjoint group ranges: each append of a new
    group overlaps no MV file, so its refresh adds exactly one file."""
    write_delta_fallback(_rows(spark, [(groups[0], 1)]), base)
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    for g in groups[1:]:
        write_delta_fallback(_rows(spark, [(g, 1)]), base, mode="append")
        refresh_agg_mv(spark, base, mv)
    assert len(_mv_paths(mv)) == len(groups)


def test_null_group_key_in_later_append_rejected_at_refresh(spark, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(_rows(spark, [("a", 1)]), base)
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    write_delta_fallback(_rows(spark, [(None, 5), ("a", 2)]), base, mode="append")
    with pytest.raises(ValueError, match="NULL group key"):
        refresh_agg_mv(spark, base, mv)
    assert DeltaLog(mv).latest_version() == 0
    assert _mv_rows(spark, mv) == {("a",): (1, 1)}


def _group_files(spark, mv):
    """Each MV group's data file, as Spark reports it."""
    return {
        r["g"]: r["f"]
        for r in read_delta_fallback(spark, mv)
        .select("g", F.input_file_name().alias("f"))
        .collect()
    }


def test_append_rewrites_only_the_overlapping_mv_file(spark, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    _one_file_per_group_mv(spark, base, mv, ["a", "m", "z"])
    by_group = _group_files(spark, mv)
    write_delta_fallback(_rows(spark, [("m", 4)]), base, mode="append")
    before = _mv_paths(mv)
    res = refresh_agg_mv(spark, base, mv)
    after = _mv_paths(mv)
    assert res["groups_touched"] == 1
    replaced = before - after
    assert len(replaced) == 1 and by_group["m"].endswith(replaced.pop())
    assert len(after - before) == 1  # the rewritten 'm' file
    assert _mv_rows(spark, mv) == _recompute(spark, base)


def test_compaction_window_advances_watermark_without_rewrite(spark, tmp_path):
    from polars_incremental_spark.sinks.deltalog import compact_fallback

    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(_rows(spark, [("a", 1), ("b", 2)]).repartition(2), base)
    write_delta_fallback(_rows(spark, [("a", 3)]), base, mode="append")
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    compact_fallback(spark, base, target_partitions=1)
    head = DeltaLog(base).latest_version()
    before = _mv_paths(mv)
    res = refresh_agg_mv(spark, base, mv)
    assert res == {
        "refreshed": True,
        "from_version": head,
        "to_version": head,
        "groups_touched": 0,
    }
    assert _mv_paths(mv) == before
    state = json.loads(DeltaLog(mv).domain_metadata()["pis.mv"])
    assert state["base_version"] == head
    assert _mv_rows(spark, mv) == _recompute(spark, base)


@pytest.fixture()
def hit_pass_always(monkeypatch):
    """Run the hit-file pass on test-sized MVs, far below its byte floor."""
    from polars_incremental_spark.sinks import deltalog

    monkeypatch.setattr(deltalog, "HIT_PASS_MIN_BYTES", 0)


@pytest.mark.parametrize("write_cdf", [False, True])
def test_statless_change_files_fail_open(
    spark, tmp_path, write_cdf, hit_pass_always
):
    """A CDF-less delete (reconstructed from removes, which log no stats)
    or a delete with cdc files (no stats either) gives no key range: every
    MV file is a candidate and the fold still matches a recompute."""
    from polars_incremental_spark.sinks.deltalog import change_key_stats

    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    _one_file_per_group_mv(spark, base, mv, ["a", "m", "z"])
    write_delta_fallback(_rows(spark, [("a", 7)]), base, mode="append")
    delete_where(spark, base, "g = 'm'", write_cdf=write_cdf)
    head = DeltaLog(base).latest_version()
    files, key_range, null_free = change_key_stats(base, head - 1, head, ["g"])
    assert files >= 2 and key_range == {} and not null_free
    kept = _group_files(spark, mv)["z"]
    before = _mv_paths(mv)
    refresh_agg_mv(spark, base, mv)
    # every MV file was a candidate; the hit-file pass kept only 'z''s,
    # the one file holding no changed group
    assert {p for p in _mv_paths(mv) & before if kept.endswith(p)} == (
        _mv_paths(mv) & before
    )
    assert len(_mv_paths(mv) & before) == 1
    assert _mv_rows(spark, mv) == _recompute(spark, base) == {
        ("a",): (2, 8),
        ("z",): (1, 1),
    }


def test_nan_bounds_and_unprunable_key_types_fail_open(spark, tmp_path):
    from polars_incremental_spark.sinks.deltalog import change_key_stats

    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    rows = "f double, d date, x long"

    def batch(data):
        import datetime

        return spark.createDataFrame(
            [(f, datetime.date(2024, 1, day), x) for f, day, x in data], rows
        ).coalesce(1)

    write_delta_fallback(batch([(1.0, 1, 1), (2.0, 2, 2)]), base)
    create_agg_mv(spark, base, mv, group_cols=["f", "d"], sum_cols=["x"])
    write_delta_fallback(batch([(float("nan"), 1, 5), (1.0, 3, 7)]), base, mode="append")
    files, key_range, null_free = change_key_stats(base, 1, 1, ["f", "d", "x"])
    # NaN-bounded double and date keys drop out; the long column stays
    assert (files, key_range, null_free) == (1, {"x": (5, 7)}, True)
    refresh_agg_mv(spark, base, mv)

    def groups(df):
        return sorted(
            (str(r["f"]), r["d"], r["cnt"], r["sum_x"]) for r in df.collect()
        )

    want = (
        read_delta_fallback(spark, base)
        .groupBy("f", "d")
        .agg(F.count("*").cast("long").alias("cnt"), F.sum("x").alias("sum_x"))
    )
    assert groups(read_delta_fallback(spark, mv)) == groups(want)


def _hash_laid_out_mv(spark, base, mv, groups):
    """An MV written as hash slices of its groups, so the files' logged key
    ranges overlap: a one-group change overlaps several files by range."""
    write_delta_fallback(_rows(spark, [(g, 1) for g in groups]), base)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    finally:
        spark.conf.set(key, old)
    log = DeltaLog(mv)
    ranges = [
        (s["minValues"]["g"], s["maxValues"]["g"])
        for s in map(
            lambda a: json.loads(a["stats"]),
            log.snapshot_files(log.latest_version()),
        )
    ]
    assert len(ranges) > 2
    return ranges


def test_range_overlapping_files_narrow_to_the_hit_file(
    spark, tmp_path, hit_pass_always
):
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    groups = [f"g{i:02d}" for i in range(40)]
    ranges = _hash_laid_out_mv(spark, base, mv, groups)
    # a group inside the key range of at least three files
    g = next(g for g in groups if sum(lo <= g <= hi for lo, hi in ranges) >= 3)
    hit = _group_files(spark, mv)[g]
    before = _mv_paths(mv)
    write_delta_fallback(_rows(spark, [(g, 5)]), base, mode="append")
    assert refresh_agg_mv(spark, base, mv)["groups_touched"] == 1
    after = _mv_paths(mv)
    replaced = before - after
    assert len(replaced) == 1 and hit.endswith(replaced.pop())
    assert _mv_rows(spark, mv) == _recompute(spark, base)
    # groups the MV does not hold hit no file: nothing is rewritten
    before = after
    new_groups = _rows(spark, [("g05a", 1), ("g30a", 2)])
    write_delta_fallback(new_groups, base, mode="append")
    assert refresh_agg_mv(spark, base, mv)["groups_touched"] == 2
    assert before < _mv_paths(mv)
    assert _mv_rows(spark, mv) == _recompute(spark, base)


def test_interleaved_refreshes_fold_a_window_once(spark, tmp_path, monkeypatch):
    """Two refreshes of the same new-groups-only window: the second to
    commit read the MV before the first committed, and its remove set (no
    file: the new group overlaps none) cannot tell.  It must raise, not
    fold the window again."""
    from polars_incremental_spark import mv as mv_mod
    from polars_incremental_spark.sinks.deltalog import CommitConflictError

    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    write_delta_fallback(_rows(spark, [("a", 1)]), base)
    create_agg_mv(spark, base, mv, group_cols=["g"], sum_cols=["x"])
    write_delta_fallback(_rows(spark, [("z", 5)]), base, mode="append")
    real = mv_mod.key_range_candidates
    raced = []

    def race(*args, **kwargs):
        if not raced:
            raced.append(None)
            raced[0] = refresh_agg_mv(spark, base, mv)  # commits first
        return real(*args, **kwargs)

    monkeypatch.setattr(mv_mod, "key_range_candidates", race)
    with pytest.raises(CommitConflictError):
        refresh_agg_mv(spark, base, mv)
    assert raced[0]["groups_touched"] == 1
    assert DeltaLog(mv).latest_version() == 1
    assert _mv_rows(spark, mv) == _recompute(spark, base) == {
        ("a",): (1, 1),
        ("z",): (1, 5),
    }
    monkeypatch.undo()
    assert not refresh_agg_mv(spark, base, mv)["refreshed"]  # re-run: caught up


def test_agg_mv_with_backquote_and_dot_in_column_names(spark, tmp_path):
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    schema = "`g``k` string, `v.x` long"

    def rows(data):
        return spark.createDataFrame(data, schema)

    write_delta_fallback(rows([("a", 1), ("b", 2)]), base)
    create_agg_mv(
        spark, base, mv, group_cols=["g`k"], sum_cols=["v.x"],
        min_cols=["v.x"], max_cols=["v.x"],
    )
    write_delta_fallback(rows([("a", 5), ("c", 7)]), base, mode="append")
    delete_where(spark, base, "`g``k` = 'b'", write_cdf=True)
    refresh_agg_mv(spark, base, mv)
    got = sorted(tuple(r) for r in read_delta_fallback(spark, mv).collect())
    assert got == [("a", 2, 6, 1, 5), ("c", 1, 7, 7, 7)]


def test_small_candidate_sets_skip_the_hit_pass(spark, tmp_path):
    """Below HIT_PASS_MIN_BYTES every range candidate is rewritten: one job
    fewer than finding the hit files would take."""
    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    _one_file_per_group_mv(spark, base, mv, ["a", "m", "z"])
    write_delta_fallback(_rows(spark, [("a", 7)]), base, mode="append")
    delete_where(spark, base, "g = 'm'")  # statless: every file a candidate
    before = _mv_paths(mv)
    refresh_agg_mv(spark, base, mv)
    assert not (_mv_paths(mv) & before)
    assert _mv_rows(spark, mv) == _recompute(spark, base)
