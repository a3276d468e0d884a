"""Round-9 fixes: hot-shingle salting of the d17/d18 collision joins
(same output, skew split), per-caller guard remedies, error-path cache
hygiene, and the shared df-agg between guard and hot-filter."""

import pytest
from pyspark.sql import Row

from polars_incremental_spark.errors import CandidateVolumeError
from polars_incremental_spark.functions import dedup


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows], "doc_id long, text string"
    )


def _skewed_corpus():
    """One ubiquitous trigram (df=60) over otherwise-unique docs — a single
    join key holding ~all candidate volume, the shape that straggles one
    reducer — plus 4 clone docs so the pair output is non-trivial."""
    rows = [
        (i, "alpha beta gamma " + " ".join(f"u{i}_{j}" for j in range(8)))
        for i in range(60)
    ]
    rows += [(100 + i, "clone text body repeats verbatim here") for i in range(4)]
    return rows


@pytest.fixture()
def salt_spy(monkeypatch):
    """Record whether the salting branch actually fired."""
    calls = []
    orig = dedup._salt_collision_join_sides

    def spy(*args, **kwargs):
        calls.append(kwargs)
        return orig(*args, **kwargs)

    monkeypatch.setattr(dedup, "_salt_collision_join_sides", spy)
    return calls


@pytest.fixture()
def eight_partitions(spark):
    """Salting fires only when one key's pairs exceed 4·est/P, and est is at
    least that key's pairs, so it can never fire at P <= 4 shuffle
    partitions.  Pin P = 8 for the tests whose premise is that it fires."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "8")
    yield
    spark.conf.set(key, old)


def test_d17_salted_join_triggers_and_is_identical(spark, eight_partitions, salt_spy):
    df = _docs(spark, _skewed_corpus())
    salted = sorted(
        map(tuple, dedup.prefix_filter_pairs(df, threshold=0.5).collect())
    )
    assert salt_spy, "hot-key salting must fire on a single-dominant-key corpus"
    plain = sorted(
        map(
            tuple,
            dedup.prefix_filter_pairs(df, threshold=0.5, salt_hot=False).collect(),
        )
    )
    # 4 clones -> 6 exact pairs; salting must not add/drop/score-shift any
    assert len(plain) == 6
    assert salted == plain


def test_d18_salted_join_triggers_and_is_identical(spark, eight_partitions, salt_spy):
    df = _docs(spark, _skewed_corpus())
    salted = sorted(
        map(tuple, dedup.containment_pairs(df, threshold=0.9).collect())
    )
    assert salt_spy
    plain = sorted(
        map(
            tuple,
            dedup.containment_pairs(df, threshold=0.9, salt_hot=False).collect(),
        )
    )
    assert len(plain) == 12  # 4 clones, both orientations of 6 pairs
    assert salted == plain


def test_d18_salting_composes_with_max_doc_freq(spark, salt_spy):
    """The df agg is shared: capping hot shingles AND salting the survivors
    must still match the plain capped run."""
    df = _docs(spark, _skewed_corpus())
    kw = dict(threshold=0.9, max_doc_freq=50)  # cuts the df=60 trigram
    capped_salted = sorted(
        map(tuple, dedup.containment_pairs(df, **kw).collect())
    )
    capped_plain = sorted(
        map(tuple, dedup.containment_pairs(df, salt_hot=False, **kw).collect())
    )
    assert capped_salted == capped_plain
    assert len(capped_plain) == 12


def test_salting_skipped_on_uniform_corpus(spark, salt_spy):
    """No dominant key -> no salting machinery in the plan."""
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(10)]
    dedup.prefix_filter_pairs(_docs(spark, rows), threshold=0.5).collect()
    assert not salt_spy


def test_d17_remedy_does_not_name_max_doc_freq(spark):
    """d17 exposes no max_doc_freq parameter (capping would break its
    no-false-negatives contract) — its guard remedy must not tell the
    caller to tighten one (ADVICE r8)."""
    clones = [(i, "the quick brown fox jumps over the lazy dog") for i in range(12)]
    with pytest.raises(CandidateVolumeError) as e:
        dedup.prefix_filter_pairs(_docs(spark, clones), max_candidates=10)
    assert "max_doc_freq" not in str(e.value)
    assert "minhash_lsh_pairs" in str(e.value)


def test_d18_remedy_names_max_doc_freq(spark):
    clones = [(i, "the quick brown fox jumps over the lazy dog") for i in range(12)]
    with pytest.raises(CandidateVolumeError) as e:
        dedup.containment_pairs(_docs(spark, clones), max_candidates=10)
    assert "max_doc_freq" in str(e.value)


def test_guard_raise_does_not_leak_cache(spark):
    """A tripped guard must unpersist the postings/df caches it created
    (ADVICE r8 flagged the same leak shape in mv.refresh_agg_mv)."""
    clones = [(i, "the quick brown fox jumps over the lazy dog") for i in range(12)]
    df = _docs(spark, clones)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(CandidateVolumeError):
        dedup.prefix_filter_pairs(df, max_candidates=10)
    with pytest.raises(CandidateVolumeError):
        dedup.containment_pairs(df, max_candidates=10)
    assert jsc.getPersistentRDDs().size() == before


def test_join_mv_base_type_widen_fails_closed(spark, tmp_path):
    """A base overwrite that widens a payload column's TYPE (long ->
    double) keeps the payload NAMES identical yet changes every to_json
    rowkey digest — the round-8 name-only guard passed it, silently
    storing payload-duplicate rows under new rowkeys (ADVICE r8).  The
    created-at payload schema is now persisted and the refresh must fail
    closed naming the drifted column."""
    from polars_incremental_spark.mv import create_join_mv, refresh_join_mv
    from polars_incremental_spark.sinks.deltalog import write_delta_fallback

    lp, rp, mv = str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "j")
    write_delta_fallback(
        spark.createDataFrame([(1, 10)], "k long, n int"), lp
    )
    write_delta_fallback(
        spark.createDataFrame([(1, "x")], "k long, tag string"), rp
    )
    create_join_mv(spark, lp, rp, mv, on=["k"])
    # a legal within-chain widen (int -> long) — passes the write layer's
    # merge rules AND the round-8 name-only MV guard, yet redeclares the
    # payload type the stored digests were computed under
    write_delta_fallback(
        spark.createDataFrame([(2, 20)], "k long, n long"),
        lp,
        mode="overwrite",
    )
    with pytest.raises(ValueError, match="TYPE.*left.n: int -> bigint"):
        refresh_join_mv(spark, mv)


def test_cosine_guard_raise_does_not_leak_cache(spark):
    from polars_incremental_spark.functions import similarity

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(CandidateVolumeError):
        similarity.cosine_near_dup_pairs(df, dim=4, threshold=0.9, max_candidates=10)
    assert jsc.getPersistentRDDs().size() == before
