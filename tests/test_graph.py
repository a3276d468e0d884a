"""Node-set contract and edge-plan reuse of the iterative graph operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark.functions.graph import label_propagation, pagerank

# 3 is a sink: it has an in-edge but no out-edge
DIRECTED = [(1, 2), (2, 1), (1, 3)]


def _edges(spark):
    return spark.createDataFrame(DIRECTED, "src long, dst long")


def test_pagerank_directed_returns_sources_only(spark):
    ranks = {r["node"]: r["rank"] for r in pagerank(_edges(spark), iterations=2).collect()}
    # round 1: 1 <- 1e6 from 2; 2 <- 1e6 div 2 from 1.  Round 2 likewise.
    assert ranks == {1: 150_000 + 575_000 * 85 // 100, 2: 575_000}


def test_label_propagation_directed_returns_sources_only(spark):
    labels = {r["node"]: r["label"] for r in label_propagation(_edges(spark), iterations=1).collect()}
    assert labels == {1: 2, 2: 1}


@pytest.mark.parametrize("op", [pagerank, label_propagation])
def test_edge_plan_is_scanned_once(spark, op):
    """The caller's edge plan runs once, however often the operator reads it."""
    scanned = spark.sparkContext.accumulator(0)

    def tap(v):
        scanned.add(1)
        return v

    edges = _edges(spark).withColumn("src", F.udf(tap, "long")("src"))
    op(edges, iterations=2).collect()
    assert scanned.value == len(DIRECTED)
