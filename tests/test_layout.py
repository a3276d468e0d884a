"""Partition pruning: proven by corrupting the partitions a pruned query
must never open — if pruning regressed, the query would crash."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark.functions import layout


@pytest.fixture()
def part_table(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders_by_pri")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "opri", F.col("o_orderpriority")
    )
    layout.write_partitioned(orders, path, partition_cols=["opri"])
    return path, orders


def test_partition_pruning_survives_corrupt_other_partition(spark, part_table):
    path, orders = part_table
    reader = spark.read.parquet(path)
    pruned = reader.filter(F.col("opri") == "1-URGENT")
    filters = layout.partition_filters(pruned)
    assert any("1-URGENT" in f for f in filters), filters

    # corrupt EVERY file of a different partition: a scan that still lists
    # or opens it would fail, so success == those directories were skipped
    victims = glob.glob(os.path.join(path, "opri=5-LOW", "*.parquet"))
    assert victims
    for v in victims:
        with open(v, "wb") as fh:
            fh.write(b"not a parquet file")

    expect = orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert pruned.count() == expect  # pruned query never touches 5-LOW
    with pytest.raises(Exception):
        reader.count()  # unpruned scan must hit the corruption


def test_pushed_filters_reach_parquet_scan(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_totalprice") > 1000.0
    )
    pushed = layout.pushed_filters(df)
    assert any("o_totalprice" in f and "GreaterThan" in f for f in pushed), pushed


def test_ivf_cell_partitioned_probe_prunes(spark, sf_dir, tmp_path):
    """The PLANS.md claim, proven: persist the IVF-assigned corpus
    partitioned BY CELL, probe a subset of cells, and corrupt every file of
    an unprobed cell — the probe succeeds (it never lists or opens that
    cell's directory), so probe-time reads really do prune to
    n_probe/n_cells of the data."""
    import glob
    import os

    from polars_incremental_spark.functions import similarity
    from polars_incremental_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = similarity._seed_centroids(emb, 8, "vec_id", "embedding")
    assigned = similarity.ivf_assign(emb, seeds).withColumnRenamed("__cell", "cell")
    path = str(tmp_path / "ivf_corpus")
    layout.write_partitioned(assigned, path, partition_cols=["cell"])

    reader = spark.read.parquet(path)
    probed_cells = [1, 2, 3]
    probe = reader.filter(F.col("cell").isin(probed_cells))
    assert any("cell" in f for f in layout.partition_filters(probe))

    victims = glob.glob(os.path.join(path, "cell=8", "*.parquet"))
    assert victims, "cell 8 must exist for the corruption to mean anything"
    for v in victims:
        with open(v, "wb") as fh:
            fh.write(b"not a parquet file")

    expect = assigned.filter(F.col("cell").isin(probed_cells)).count()
    assert probe.count() == expect  # unprobed cell never touched
    with pytest.raises(Exception):
        reader.count()  # full scan must hit the corruption


def test_parquet_aggregate_pushdown_answers_from_footers(spark, sf_dir):
    """COUNT/MIN/MAX can be answered from parquet footer statistics without
    scanning data pages — at 100 TB that's the difference between a
    metadata read and a full pass.  Requires the V2 parquet source; the
    plan must show PushedAggregation and the results must equal the
    scan-based answers."""
    from polars_incremental_spark.functions.bucketing import physical_plan

    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        cnt = df.groupBy().count()
        assert "PushedAggregation: [COUNT(*)]" in physical_plan(cnt)
        mm = df.groupBy().agg(
            F.min("l_quantity").alias("lo"), F.max("l_quantity").alias("hi")
        )
        plan = physical_plan(mm)
        assert "MIN(l_quantity)" in plan and "MAX(l_quantity)" in plan

        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
        expect_cnt = df.groupBy().count().collect()[0][0]
        expect_mm = df.groupBy().agg(F.min("l_quantity"), F.max("l_quantity")).collect()[0]
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        assert cnt.collect()[0][0] == expect_cnt
        got = mm.collect()[0]
        assert (got["lo"], got["hi"]) == (expect_mm[0], expect_mm[1])
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
        if old_v1 is None:
            spark.conf.unset("spark.sql.sources.useV1SourceList")
        else:
            spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)


def test_write_partitioned_cardinality_guard(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with pytest.raises(ValueError, match="coarser key"):
        layout.write_partitioned(
            orders,
            str(tmp_path / "bad"),
            partition_cols=["o_orderkey"],
            max_partitions=100,
        )
    with pytest.raises(ValueError, match="non-empty"):
        layout.write_partitioned(orders, str(tmp_path / "bad"), partition_cols=[])


def test_training_shards_deterministic_and_complete(spark, sf_dir, tmp_path):
    """Sharded layout is a pure function of (keys, seed, n_shards): two
    writes produce identical per-shard row sequences; every row lands in
    exactly one shard; shard count honors rows_per_shard."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    total = docs.count()
    p1, p2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    n1 = layout.write_training_shards(docs, p1, key_col="doc_id", rows_per_shard=40)
    n2 = layout.write_training_shards(docs, p2, key_col="doc_id", rows_per_shard=40)
    assert n1 == n2 == -(-total // 40)

    r1 = spark.read.parquet(p1)
    assert r1.count() == total
    assert r1.select("doc_id").distinct().count() == total  # exactly once
    assert r1.select("shard").distinct().count() == n1

    for shard in range(n1):
        s1 = [r["doc_id"] for r in spark.read.parquet(f"{p1}/shard={shard}").collect()]
        s2 = [r["doc_id"] for r in spark.read.parquet(f"{p2}/shard={shard}").collect()]
        assert s1 == s2 and len(s1) > 0  # same membership AND order

    with pytest.raises(ValueError, match="exactly one"):
        layout.write_training_shards(docs, str(tmp_path / "bad"), key_col="doc_id")
    with pytest.raises(ValueError, match="exactly one"):
        layout.write_training_shards(
            docs, str(tmp_path / "bad"), key_col="doc_id",
            rows_per_shard=10, n_shards=3,
        )


def test_pack_sequences_matches_hashlib_replay(spark):
    """Pack assignment is a pure function of (keys, seed, budget): a pure
    Python replay of the hash order and cumsum reproduces shard, pack_id,
    and pack_offset exactly; offsets stay in [0, budget)."""
    import hashlib

    rows = [(k, 3 + (k * 7) % 9) for k in range(1, 21)]  # tokens 3..11
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = layout.pack_sequences(
        df, key_col="doc_id", token_col="n_tokens", budget=10, n_shards=2
    )
    got = {
        r["doc_id"]: (r["shard"], r["pack_id"], r["pack_offset"])
        for r in out.collect()
    }

    def h(k):
        return int(hashlib.md5(f"pack{k}".encode()).hexdigest()[:15], 16)

    expect = {}
    for shard in (0, 1):
        cum = 0
        for k, tok in sorted(rows, key=lambda r: (h(r[0]), r[0])):
            if h(k) % 2 != shard:
                continue
            expect[k] = (shard, cum // 10, cum - (cum // 10) * 10)
            cum += tok
    assert got == expect
    assert all(0 <= off < 10 for _, _, off in got.values())
    with pytest.raises(ValueError, match="budget"):
        layout.pack_sequences(
            df, key_col="doc_id", token_col="n_tokens", budget=0
        )


def test_coalesce_to_size_floors_file_size_and_keeps_large_writes_parallel(spark):
    """At most one partition per MIN_FILE_BYTES of the estimate, at least
    one, and never more than the plan already has: a large rewrite keeps
    every task of the stage that feeds it."""
    df = spark.range(100).repartition(8)
    m = layout.MIN_FILE_BYTES
    n = lambda nbytes: layout.coalesce_to_size(df, nbytes).rdd.getNumPartitions()
    assert [n(0), n(m), n(3 * m + 1), n(100 * m)] == [1, 1, 4, 8]
