"""Iterative graph algorithms over edge lists, Spark-first.

Companions to ``dedup.connected_components``: the same driver-side
iteration shape (bounded loop of equi-joins + groupBys, ``localCheckpoint``
per round to stop plan doubling) carrying different per-round math.

Determinism: ranks are EXACT scaled integers and every per-iteration step
is integer arithmetic (``div`` for contributions, integer multiply/divide
for damping), so the fixed iteration count yields bit-identical results
in any engine and under any partitioning — that is what lets an ITERATIVE
algorithm sit under the DuckDB hash oracle (unrolled-CTE replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..observability import observed_metrics
from .iterutils import CheckpointChain


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 1_000_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a DIRECTED edge list; symmetrize
    before calling for undirected graphs.  Returns (node, rank) with
    ranks as ``scale``-scaled integers.

    Per iteration: each node sends ``rank div out_degree`` along every
    out-edge; new rank = teleport + damping * received (all integer ops).
    Nodes are the DISTINCT SOURCES — an undirected (symmetrized) graph
    has no dangling nodes, so no teleport-mass correction is needed and
    the oracle replay stays a pure join/group chain.

    Scale shape: per iteration one equi-join (edges x ranks, both keyed
    by node) and one groupBy(dst) — shuffles keyed by node id throughout,
    cost = iterations, the same profile as connected_components.  The
    keep-every-node rule (a node with no in-edges still gets teleport
    rank) is folded INTO the aggregation instead of a per-round left join
    back to the node set: the checkpointed edge list carries a
    NULL-degree SELF-LOOP per node, whose contribution ``rank div NULL``
    is NULL — invisible to the sum when real contributions exist, and a
    NULL total (coalesced to 0 in the rank update, as the join-back
    already did) when none do, while guaranteeing every node a group row
    (same trick as label_propagation's weight-0 self-loops).  Lineage is
    truncated per round to keep the plan linear in iterations; pass
    ``checkpoint_dir`` (reliable storage) on a real cluster so an
    executor loss mid-iteration is recoverable — the default
    ``localCheckpoint`` stores blocks on executors only (see
    ``iterutils``).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1; got {iterations}")
    teleport = scale * (damping_den - damping_num) // damping_den
    # chain: every per-round checkpoint's blocks except the RETURNED
    # frame's release at the owner's release point (cache.py) instead of
    # lingering until JVM GC — measured 0.25-1.2 GB of stale storage
    # mid-suite before round 11
    chain = CheckpointChain(edges.sparkSession, checkpoint_dir)
    # materialize the edge list ONCE: the caller's edge plan (often a full
    # LSH-pair pipeline) would otherwise re-execute on every iteration's
    # join — measured 22.9s -> ~5s for the g1 query at sf0.1
    e = edges.select(
        F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
    )
    # lazy: cuts the caller's (often LSH-pipeline) lineage NOW, but lets
    # the materialization ride the e_deg checkpoint's job below instead of
    # paying a separate edge-sized job first
    e = chain.next(e, eager=False)
    deg = e.groupBy("__src").agg(F.count("*").cast("long").alias("__deg"))
    nodes = deg.select(F.col("__src").alias("node"))
    # fold the out-degree into the edge list ONCE: the loop previously
    # re-joined `deg` every round — one extra shuffle of the EDGE-sized
    # relation per iteration, the largest relation in the job.  After the
    # fold each round is exactly one edge⋈ranks join + one groupBy(dst).
    # (Measured negative, round 9: pre-partitioning/sorting this by __src
    # to pin a reusable layout made every scale WORSE — the explicit
    # repartition defeats AQE partition coalescing, and the ranks side is
    # node-sized so AQE broadcasts it anyway, leaving no per-round edge
    # exchange to save.  Revisit only if ranks ever outgrow broadcast.)
    e_deg = chain.next(
        e.join(deg, "__src").unionByName(
            nodes.select(
                F.col("node").alias("__src"),
                F.col("node").alias("__dst"),
                F.lit(None).cast("long").alias("__deg"),
            )
        )
    )
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for i in range(iterations):
        contribs = e_deg.join(
            ranks, e_deg["__src"] == ranks["node"]
        ).select(
            F.col("__dst").alias("node"),
            F.expr("rank div __deg").alias("__c"),
        )
        # every node has its NULL self-contribution row, so the group set
        # covers the node set and sum() ignores the NULL — no join-back
        # needed.  A sink-only dst of a directed edge also gets a group but
        # no self-loop row: the filter drops it, keeping the node set the
        # distinct sources (its rank never feeds a source's anyway).
        ranks = (
            contribs.groupBy("node")
            .agg(
                F.sum("__c").cast("long").alias("__s"),
                F.bool_or(F.col("__c").isNull()).alias("__is_src"),
            )
            .filter("__is_src")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"(coalesce(__s, CAST(0 AS BIGINT)) * {damping_num}) "
                        f"div {damping_den}"
                    )
                )
                .cast("long")
                .alias("rank"),
            )
        )
        if (i + 1) % 2 == 0 or i + 1 == iterations:
            # every 2nd round (and the last): the ranks frame is node-sized
            # (tiny next to the edges), so per-round materialization jobs
            # dominated the runtime — the same cadence lesson as
            # label_propagation's every-4th-round checkpoint.  eager=False:
            # the lineage cut is what stops plan doubling; with no
            # convergence probe to resolve, materialization can ride the
            # caller's one final action instead of one job per cut.
            ranks = chain.next(ranks, eager=False)
    # the final cadence round always checkpoints, so the returned plan
    # references only that round's blocks
    chain.defer_release(keep=ranks)
    return ranks


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    max_hops: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Multi-source BFS over a DIRECTED edge list — symmetrize before
    calling for undirected graphs.  Returns (node, dist) for every node
    within ``max_hops`` of ANY seed, dist = MIN hop count (seeds get 0).

    FRONTIER-based: each round joins the edge list against only the nodes
    discovered LAST round (not the whole reached set), so per-round join
    cost tracks the frontier size — on a 100 TB graph the frontier is the
    working set, the reached set only pays a node-keyed anti-join.  One
    equi-join + distinct + anti-join per round, all keyed by node id; the
    reached set checkpoints per round (pass ``checkpoint_dir`` on a real
    cluster, same contract as pagerank).  Early-exits when a frontier
    empties — the count action is against an already-materialized
    (checkpointed) frame, so it costs no recompute.

    Determinism: hop counts are exact integers and min() is
    order-independent, so the iterative result is replayable as an
    unrolled CTE chain (the g1/g4 hash-oracle contract): round i's reached
    set equals ``min(d_{i-1} ∪ (edges ⋈ d_{i-1}) + 1)`` relaxation.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1; got {max_hops}")
    from pyspark.sql import Observation

    chain = CheckpointChain(edges.sparkSession, checkpoint_dir)
    e = chain.next(
        edges.select(
            F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
        )
    )
    dist = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    dist = chain.next(dist, eager=False)
    frontier = dist.select("node")
    for hop in range(1, max_hops + 1):
        reached = (
            e.join(frontier, e["__src"] == frontier["node"])
            .select(F.col("__dst").alias("node"))
            .distinct()
        )
        # the frontier-empty probe rides the checkpoint's own
        # materialization job via an Observation (the connected_components
        # trick) — previously a separate isEmpty() job per hop
        obs = Observation()
        new = (
            reached.join(dist, "node", "left_anti")
            .withColumn("dist", F.lit(hop).cast("long"))
            .observe(obs, F.count(F.lit(1)).alias("n_new"))
        )
        new = chain.next(new)
        n_new = int(
            observed_metrics(
                obs, lambda: {"n_new": 0 if new.isEmpty() else 1}
            )["n_new"]
            or 0
        )
        if n_new == 0:
            break
        dist = chain.next(dist.unionByName(new), eager=False)
        frontier = new.select("node")
    # on early exit the returned dist is a PRIOR round's checkpoint, not
    # the last next() — keep maps frames to rounds exactly
    chain.defer_release(keep=dist)
    return dist


def label_propagation(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Synchronous label propagation (community detection) over a
    DIRECTED edge list — symmetrize before calling for undirected graphs.
    Returns (node, label) for every DISTINCT SOURCE node (as pagerank):
    each node's label after ``iterations`` rounds of "adopt the most
    frequent label among my in-neighbors, ties to the SMALLEST label"
    starting from label = own id.

    The mode-with-min-tiebreak update is fully deterministic (no random
    visit order, unlike classic async LPA), so the iterative result is
    engine-independent and replayable as an unrolled CTE chain — the same
    contract that lets pagerank sit under a hash oracle.

    Scale shape: per iteration one equi-join (edges x labels keyed by
    node) and TWO hash aggs — groupBy(dst, label) weight sum, then the
    per-node argmax as ``max(struct(sum, -label))`` instead of a
    row_number window (same result, no per-partition sort; measured
    5.5s -> 2.8s for the g4 query at sf0.1).  The keep-own-label rule for
    isolated nodes is folded INTO the aggregation instead of a per-round
    left join back to the label set: the checkpointed edge list carries a
    weight-0 SELF-LOOP per node, so every node's own current label enters
    the argmax with weight 0 — it loses to any real in-neighbor label
    (weight >= 1) and wins exactly when there are none, which is the old
    coalesce semantics; a label that arrives both ways sums c + 0 = c.
    One join per round instead of two, and the labels subtree is
    referenced once per round (the old shape referenced it twice, so the
    unmaterialized plan doubled per round: g4's plan had 52 Exchange
    nodes, now 22).  Wall-neutral at sf0.1 where the LSH edge build
    dominates g4; the removed per-round shuffle of the full label set is
    the piece that grows with node count.
    Labels checkpoint every 4th round (not every round: the frame is
    tiny, so per-round materialization jobs dominated the runtime); pass
    ``checkpoint_dir`` (reliable storage) on a real cluster — same
    contract as pagerank.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1; got {iterations}")
    chain = CheckpointChain(edges.sparkSession, checkpoint_dir)
    raw = edges.select(
        F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
    )
    # cut the caller's edge plan first (lazily, as pagerank does): the union
    # below reads it twice, and each read would otherwise re-run that plan
    raw = chain.next(raw, eager=False)
    e = chain.next(
        raw.withColumn("__w", F.lit(1)).unionByName(
            raw.select(F.col("__src").alias("node"))
            .distinct()
            .select(
                F.col("node").alias("__src"),
                F.col("node").alias("__dst"),
                F.lit(0).alias("__w"),
            )
        )
    )
    # the node set IS the self-loop set — read it back off the checkpoint
    labels = e.filter(F.col("__w") == 0).select(
        F.col("__src").alias("node"), F.col("__src").cast("long").alias("label")
    )
    last_ckpt = None
    for i in range(iterations):
        nbr = e.join(labels, e["__src"] == labels["node"]).select(
            F.col("__dst").alias("node"), "label", "__w"
        )
        counts = nbr.groupBy("node", "label").agg(
            F.sum("__w").alias("__c"),
            F.bool_or(F.col("__w") == 0).alias("__self"),
        )
        # argmax(weight, tie -> min label) = max over (sum, -label):
        # exact integer struct comparison, deterministic in any engine.
        # Only nodes with a self-loop (the sources) keep a row: a sink-only
        # dst of a directed edge gets counts but never feeds a label back.
        labels = (
            counts.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("__c"), (-F.col("label")).alias("__nl"))
                ).alias("__m"),
                F.bool_or("__self").alias("__is_src"),
            )
            .filter("__is_src")
            .select("node", (-F.col("__m.__nl")).cast("long").alias("label"))
        )
        if (i + 1) % 4 == 0 and i + 1 < iterations:
            # lazy: the lineage cut is the point; materialization rides the
            # caller's one final action (no convergence probe here)
            labels = chain.next(labels, eager=False)
            last_ckpt = labels
    # the returned plan references the edge checkpoint AND (when the
    # cadence fired) the last labels checkpoint — both must survive
    chain.defer_release(keep=[e, last_ckpt] if last_ckpt is not None else e)
    return labels
