"""Lineage truncation for driver-side iterative operators.

Every bounded-loop operator (pagerank, connected_components, LSH index
compaction) must cut its lineage once per round or the logical plan doubles
per iteration and Catalyst re-optimization dominates after ~10 rounds.  Two
ways to cut it, chosen by the caller:

- ``localCheckpoint()`` (default): blocks live on the EXECUTORS only.
  Cheapest, right for local mode and short interactive runs — but on a real
  cluster an executor loss mid-iteration kills the job, because the
  truncated lineage cannot recompute the lost blocks.
- ``checkpoint()`` with a reliable ``checkpoint_dir`` (HDFS/S3/…): blocks
  are written to fault-tolerant storage, so a 1000-executor run survives
  preemptions and node loss at the cost of one distributed write per round.
  This is the 100 TB setting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def iter_checkpoint(
    df: DataFrame, checkpoint_dir: str | None, *, eager: bool = True
) -> DataFrame:
    """Truncate ``df``'s lineage: reliable ``checkpoint()`` into
    ``checkpoint_dir`` when given, else executor-local ``localCheckpoint()``.

    ``setCheckpointDir`` is idempotent per SparkContext; calling it with the
    same directory every round is a no-op, and distinct operators may point
    at distinct directories (last one wins for subsequent calls, which is
    fine — each ``checkpoint()`` resolves the dir at call time).

    ``eager=False`` truncates the lineage NOW (the plan becomes a
    LogicalRDD either way) but defers materialization to the first
    downstream action.  For fixed-iteration loops with no per-round
    convergence probe this removes one JOB per round — under real
    executors each eager in-loop checkpoint paid scheduling plus a
    node-sized network shuffle per round, the barrier premium
    SCALING_DATA_r08 measured at 1.8-2.4x on the iterative queries.
    Loops that read a per-round Observation (connected_components, BFS's
    frontier-empty probe) must keep ``eager=True`` — the observation only
    resolves when the observed plan executes."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=eager)


def persistent_rdd_ids(spark) -> set[int]:
    """JVM-side ids of every RDD currently registered persistent (the
    ``getPersistentRDDs`` map).  Empty set on sessions without JVM access
    (Spark Connect) — callers treat that as "nothing trackable"."""
    try:
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    except Exception:
        return set()
    out = set()
    while it.hasNext():
        out.add(int(it.next()._1()))
    return out


def _checkpointed_rdd_id(df: DataFrame) -> int | None:
    """The JVM id of the RDD backing a just-localCheckpointed Dataset —
    its analyzed plan is a ``LogicalRDD`` wrapping exactly that RDD
    (eager or lazy; localCheckpoint registers it persistent at call
    time).  EXACT attribution: unlike an id-diff around the call, a
    CacheManager RDD that happens to materialize inside an eager
    checkpoint's job can never be picked up by mistake.  None when the
    plan shape or JVM access differs (reliable checkpoint(), Connect)."""
    try:
        plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
        if not plan.getClass().getName().endswith(".LogicalRDD"):
            return None
        return int(plan.rdd().id())
    except Exception:
        return None


def checkpointed_bytes(df: DataFrame) -> int:
    """Bytes the block manager holds, in memory and on disk, for a
    materialized ``localCheckpoint`` of ``df`` — a size estimate that runs
    no Spark job.  The blocks are deserialized rows, so the figure is above
    the same rows' parquet size.  0 when ``df`` is not such a checkpoint
    or JVM access is missing (Spark Connect)."""
    rid = _checkpointed_rdd_id(df)
    if rid is None:
        return 0
    try:
        infos = df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo()
    except Exception:
        return 0
    return sum(
        int(i.memSize()) + int(i.diskSize()) for i in infos if int(i.id()) == rid
    )


def unpersist_rdd_ids(spark, ids, *, blocking: bool = False) -> int:
    """Unpersist the JVM RDDs with these ids, skipping ids already gone
    and ids with ZERO cached partitions (a lazy localCheckpoint that was
    never materialized must keep its storage level — clearing it would
    fail the checkpoint assertion at its eventual first action; leaving
    it costs nothing today and reverts to the old GC lifecycle).
    Returns how many were released."""
    if not ids:
        return 0
    wanted = set(ids)
    jsc = spark.sparkContext._jsc.sc()
    cached = set()
    for info in jsc.getRDDStorageInfo():
        if info.numCachedPartitions() > 0:
            cached.add(int(info.id()))
    released = 0
    it = jsc.getPersistentRDDs().iterator()
    handles = []
    while it.hasNext():
        kv = it.next()
        rid = int(kv._1())
        if rid in wanted and rid in cached:
            handles.append(kv._2())
    for h in handles:
        try:
            h.unpersist(blocking)
            released += 1
        except Exception:
            pass
    return released


class CheckpointChain:
    """Deterministic lifecycle for a LOOP of ``iter_checkpoint`` calls.

    Each round's local checkpoint caches executor blocks that previously
    lived until JVM GC collected the Dataset — measured at 20-37 stale
    persisted RDDs / 0.25-1.2 GB of storage residue mid-suite (round-11
    sf1 instrumentation), a GC-timing-dependent eviction pressure on
    whatever runs next.  The chain records each checkpoint's backing JVM
    RDD id at creation — read EXACTLY off the Dataset's ``LogicalRDD``
    plan, so concurrent persists or CacheManager RDDs materializing
    inside an eager checkpoint's job can never be misattributed — and
    releases every round's blocks EXCEPT those the RETURNED plan
    references through the operator cache registry, i.e. at the same
    owned point the rest of the operator's persists release (after the
    caller materializes).  The release handle additionally guards on the
    kept checkpoints being materialized, so an early
    ``release_operator_caches`` (before the caller's first action) is a
    safe no-op rather than a lineage truncation.  Under reliable
    ``checkpoint()`` or Spark Connect the chain degrades to plain
    ``iter_checkpoint`` (nothing trackable, nothing released).
    """

    def __init__(self, spark, checkpoint_dir: str | None = None) -> None:
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self._rounds: list[set[int]] = []

    def next(self, df: DataFrame, *, eager: bool = True) -> DataFrame:
        out = iter_checkpoint(df, self.checkpoint_dir, eager=eager)
        rid = _checkpointed_rdd_id(out)
        ids = {rid} if rid is not None else set()
        self._rounds.append(ids)
        # ride the ids on the frame so defer_release(keep=...) can map the
        # RETURNED plan's checkpoints back to their rounds.  Under
        # reliable checkpoint() or Spark Connect the set is empty and the
        # chain degrades to plain iter_checkpoint (no tracking, no-op
        # release) — never a crash, never a misattributed unpersist.
        out._pis_chain_ids = ids  # noqa: SLF001
        return out

    def defer_release(self, *, keep: "DataFrame | tuple | list" = ()) -> None:
        """Hand the loop's checkpoint blocks to the operator cache
        registry (cache.py): they free at the owner's release point — per
        bench query, per Pipeline micro-batch — instead of at JVM GC.

        ``keep`` lists the chain frames the RETURNED plan still
        references (they must outlive release so the caller can
        re-execute the result).  Default: the LAST ``next()`` frame.
        Call once, at loop end.

        The kept checkpoints themselves release one point LATER
        (``register_release_next``): alive through the owning query's
        release so the caller can re-execute, freed when the harness
        moves on — no cross-suite accumulation of final checkpoints."""
        if not self._rounds:
            return
        if isinstance(keep, DataFrame):
            keep = (keep,)
        if keep:
            keep_ids = set().union(
                *(getattr(k, "_pis_chain_ids", set()) for k in keep)
            )
        else:
            keep_ids = set(self._rounds[-1])
        stale = set().union(*self._rounds) - keep_ids
        if stale or keep_ids:
            # Registered at the OWNER's release point even when there are
            # no stale rounds (single-checkpoint chains: duplicated_spans'
            # digest frame, g2's pair list, dedupe_new_ids' batch cut —
            # before round 12 these were bare localCheckpoints whose
            # blocks lived until JVM GC, one leaked RDD per call, measured
            # 4 stale RDDs / ~39 MB after 4 bench repeats of d16).  The
            # handle releases the stale ids (no-op when empty) and only
            # THEN hands the kept ids to the next release point — a
            # direct register_release_next here would fire at the owning
            # query's own release, truncating a plan the caller may still
            # re-execute (caught by test_cache_lifecycle on a CC run that
            # converges in its first round).
            from ..cache import register_release_handle

            register_release_handle(
                self.spark,
                _RddReleaseHandle(self.spark, stale, guard_ids=keep_ids),
            )
        self._rounds = [keep_ids]


class _RddReleaseHandle:
    """Duck-typed registry entry: release_operator_caches calls
    ``unpersist(blocking=...)`` on whatever is registered.

    ``guard_ids`` are the KEPT (final) checkpoints' ids: when any of
    them is still registered but NOT yet materialized, the returned lazy
    plan has not run its first action — releasing the stale rounds now
    would truncate the lineage that action needs ("Checkpoint block not
    found").  The handle then skips entirely (the blocks revert to the
    pre-round-11 GC lifecycle), so release_operator_caches stays safe to
    call at ANY time, matching its documented contract.

    Materialization is read from the JVM RDD's ``isCheckpointed()`` flag,
    which is STICKY once the first action runs — a materialized
    checkpoint whose blocks were later fully evicted still releases its
    stale rounds (a zero-cached-partitions probe, as used before round
    12, could not tell eviction-after-materialization from
    never-materialized and deferred forever, re-creating the GC-lifecycle
    leak the chain exists to fix).

    A deferring handle re-registers itself for the NEXT release point
    (bounded by ``max_deferrals``) instead of vanishing — before round
    12, a deferred release was lost forever because
    ``release_operator_caches`` pops the registry before firing.

    ``release_guards_next=True`` (the stale-rounds handle) additionally
    hands the KEPT checkpoints to the next release point once the stale
    rounds free: the kept blocks must outlive THIS release (the returned
    plan references them) but are dead once the harness moves to the
    next query / micro-batch — round-11 verdict measured 12 accumulated
    kept RDDs / 20.8 MB on late-suite queries.  NOTE this narrows the
    registry's re-execution window for ITERATIVE results: the returned
    plan stays re-executable after its own release point but not after
    the following one (its local checkpoint's blocks are gone and the
    truncated lineage cannot recompute)."""

    def __init__(
        self,
        spark,
        ids: set[int],
        *,
        guard_ids: set[int] = frozenset(),
        release_guards_next: bool = True,
        max_deferrals: int = 8,
    ) -> None:
        self.spark = spark
        self.ids = set(ids)
        self.guard_ids = set(guard_ids)
        self.release_guards_next = release_guards_next
        self.max_deferrals = max_deferrals
        self._deferrals = 0

    def _defer(self) -> None:
        # revert to the GC lifecycle after the cap: an abandoned result
        # that never materializes must not keep an immortal handle alive
        if self._deferrals >= self.max_deferrals:
            return
        self._deferrals += 1
        from ..cache import register_release_next

        register_release_next(self.spark, self)

    def unpersist(self, blocking: bool = False) -> None:
        if self.guard_ids:
            try:
                registered: dict[int, object] = {}
                jsc = self.spark.sparkContext._jsc.sc()  # noqa: SLF001
                it = jsc.getPersistentRDDs().iterator()
                while it.hasNext():
                    kv = it.next()
                    registered[int(kv._1())] = kv._2()
            except Exception:
                return
            for g in self.guard_ids:
                rdd = registered.get(g)
                if rdd is None:
                    # kept checkpoint no longer registered (caller
                    # unpersisted it / context GC) — it cannot be waiting
                    # on a first action; don't block the release
                    continue
                try:
                    if not rdd.isCheckpointed():
                        self._defer()  # not materialized yet — retry later
                        return
                except Exception:
                    return
        unpersist_rdd_ids(self.spark, self.ids, blocking=blocking)
        if self.release_guards_next:
            kept = self.guard_ids - self.ids
            if kept:
                from ..cache import register_release_next

                register_release_next(
                    self.spark,
                    _RddReleaseHandle(
                        self.spark,
                        kept,
                        guard_ids=kept,
                        release_guards_next=False,
                    ),
                )
