"""Partitioned storage layout: make the engine skip data, then PROVE it.

Hive-style ``partitionBy`` directories are the first lever at 100 TB: a
time/tenant-partitioned table turns a full scan into reading only the
matching directories.  But layouts rot silently — a filter that stops
matching the partition column (a cast, a renamed column, an expression
wrap) falls back to a full scan with no error.  So alongside the writer
this module exposes plan inspectors (``partition_filters`` /
``pushed_filters``) that tests and jobs can assert on, the same way
``bucketing.n_shuffle_exchanges`` guards join plans.

Partition-column cardinality guidance (encoded in ``write_partitioned``'s
guard): directories are metadata ops — a column with millions of distinct
values creates millions of tiny files and a listing bottleneck.  Partition
on coarse keys (date, tenant, source); bucket or sort WITHIN partitions
for fine keys.

Reference parity: greenfield — the reference scans files it is given;
directory layout/pruning is the Spark-native path to its "only read what
changed" goal at rest.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bucketing import physical_plan

# Smallest average file a rewrite writes, unless its whole output is
# smaller: Spark's cost of opening a file (spark.sql.files.openCostInBytes'
# default), below which its own scans pack files together.  A rewrite
# under it is one quick task; above it, each task still handles at most a
# few of these, so the stage keeps its parallelism.
MIN_FILE_BYTES = 4 << 20


def coalesce_to_size(df: DataFrame, nbytes: int) -> DataFrame:
    """``df`` coalesced to at most one partition per ``MIN_FILE_BYTES``
    of ``nbytes`` (at least one), so a small write makes one file instead
    of one per Spark task.  ``nbytes`` is the caller's estimate of the
    data's size, taken without a Spark job.  ``coalesce`` adds no shuffle
    and never raises the partition count, and it shrinks the whole final
    stage, not only the write: that is why the floor is small.  A large
    write keeps the partitions its plan already has (a scan's are at most
    ``spark.sql.files.maxPartitionBytes``)."""
    return df.coalesce(max(1, -(-int(nbytes) // MIN_FILE_BYTES)))


def _plan_field(df: DataFrame, field: str) -> list[str]:
    """Extract a bracketed scan-node field (e.g. PartitionFilters) from the
    formatted physical plan; [] when absent or empty."""
    plan = physical_plan(df)
    out: list[str] = []
    for m in re.finditer(rf"{field}: \[(.*?)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def partition_filters(df: DataFrame) -> list[str]:
    """Predicates the scan applies to DIRECTORIES (pruning) — empty means
    every partition is read."""
    return _plan_field(df, "PartitionFilters")


def pushed_filters(df: DataFrame) -> list[str]:
    """Predicates pushed into the parquet reader (row-group / page skip via
    min-max stats) — empty means filtering happens after full IO."""
    return _plan_field(df, "PushedFilters")


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_cols: Sequence[str],
    format: str = "parquet",
    mode: str = "overwrite",
    max_partitions: int | None = 10_000,
) -> None:
    """Write a Hive-partitioned table, guarding against the
    millions-of-directories layout mistake.

    ``max_partitions`` caps the distinct combinations of the partition
    columns (one aggregate over the partition columns only — cheap next to
    the write); pass None to skip the check for columns known coarse.
    """
    if not partition_cols:
        raise ValueError("partition_cols must be non-empty")
    if max_partitions is not None:
        n = df.select(*partition_cols).distinct().limit(max_partitions + 1).count()
        if n > max_partitions:
            raise ValueError(
                f"partition_cols {list(partition_cols)} produce more than "
                f"{max_partitions} distinct partitions — this layout creates a "
                f"directory-listing bottleneck; partition on a coarser key and "
                f"bucket/sort within partitions, or raise max_partitions"
            )
    df.write.mode(mode).partitionBy(*partition_cols).format(format).save(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    key_col: str,
    rows_per_shard: int | None = None,
    n_shards: int | None = None,
    seed: str = "shard",
    format: str = "parquet",
    mode: str = "overwrite",
) -> int:
    """Materialize a corpus as deterministically-shuffled, roughly
    equal-size shards for a training data loader; returns the shard count.

    Training runs need (a) a global pseudo-random order decoupled from
    ingestion order (source files arrive clustered by crawl/source, and a
    model fed source-ordered data sees non-stationary batches), and (b) a
    reshardable layout where shard membership is reproducible for
    checkpoint/resume.  A true global sort by random key is a full-sort
    bottleneck; instead shard = hash(key) mod n_shards (map-side, no skew
    — md5 spreads uniformly) and rows sort by that hash WITHIN each shard,
    so the whole layout — membership and order — is a pure function of
    (keys, seed, n_shards): rewriting the same corpus reproduces it
    byte-for-byte, any engine with md5 can predict a row's shard.

    ``rows_per_shard`` sizes shards from one count() (a metadata-scale
    action, same class as the watermark extract); pass ``n_shards``
    directly to skip it.  Shards land as ``shard=K`` directories, one file
    per shard (each shard's rows are hash-partitioned to one task).
    """
    from .sampling import sample_hash

    if (rows_per_shard is None) == (n_shards is None):
        raise ValueError("pass exactly one of rows_per_shard / n_shards")
    if n_shards is None:
        if rows_per_shard < 1:
            raise ValueError(f"rows_per_shard must be >= 1; got {rows_per_shard}")
        total = df.count()
        n_shards = max(1, -(-total // rows_per_shard))
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1; got {n_shards}")

    from pyspark.sql import functions as F

    h = sample_hash(F.col(key_col), seed)
    (
        df.withColumn("__h", h)
        .withColumn("shard", (F.col("__h") % n_shards).cast("int"))
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "__h", key_col)
        .drop("__h")
        .write.mode(mode)
        .partitionBy("shard")
        .format(format)
        .save(path)
    )
    return n_shards


def token_balanced_shards(
    df: DataFrame,
    *,
    token_col: str,
    key_col: str,
    tokens_per_shard: int,
    seed: str = "shard",
    n_buckets: int = 1024,
) -> DataFrame:
    """Assign each row a shard id by GREEDY TOKEN PACKING in deterministic
    hash order: shard = floor(running_token_total_before_row /
    tokens_per_shard).  ``write_training_shards`` balances ROW counts;
    training loaders actually budget TOKENS per shard — a shard of 10k
    tiny docs and a shard of 10k books differ 100× in step count.

    The hard part is the global running total: one whole-corpus window is
    a single-reducer funnel.  Same cure as ``mixture_sample_tokens``, taken
    further: the 60-bit hash space splits into ``n_buckets`` ranges,
    per-bucket token sums prefix-scan as an (n_buckets)-row metadata frame
    broadcast back, and EVERY bucket computes its rows' exact global
    running totals with a window bounded to ~1/n_buckets of the corpus —
    1024 parallel bounded windows instead of one global one, exact to the
    last token.  Output = input columns + ``shard`` (int).

    Deterministic across engines/reruns/partitionings: order is
    (hash(seed, key), key), totals are exact longs — a SQL oracle replays
    it as one global window cumsum.
    """
    if tokens_per_shard < 1:
        raise ValueError(f"tokens_per_shard must be >= 1; got {tokens_per_shard}")
    if n_buckets < 2 or n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two >= 2; got {n_buckets}")
    from pyspark.sql import Window

    from .sampling import sample_hash

    shift = 61 - n_buckets.bit_length()
    base = (
        df.withColumn("__h", sample_hash(F.col(key_col), seed))
        .withColumn("__tok", F.coalesce(F.col(token_col).cast("long"), F.lit(0)))
        .withColumn("__b", F.shiftright(F.col("__h"), shift))
    )
    offsets = (
        base.groupBy("__b")
        .agg(F.sum("__tok").alias("__btok"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__btok").over(
                    Window.partitionBy(F.lit(1))
                    .orderBy("__b")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .drop("__btok")
    )
    w_in = Window.partitionBy("__b").orderBy(F.col("__h").asc(), F.col(key_col).asc())
    return (
        base.join(F.broadcast(offsets), "__b")
        .withColumn(
            "__cum_prev", F.col("__off") + F.sum("__tok").over(w_in) - F.col("__tok")
        )
        .withColumn(
            "shard",
            F.floor(F.col("__cum_prev") / F.lit(int(tokens_per_shard))).cast("int"),
        )
        .drop("__h", "__tok", "__b", "__off", "__cum_prev")
    )


def pack_sequences(
    df: DataFrame,
    *,
    key_col: str,
    token_col: str,
    budget: int,
    n_shards: int = 256,
    seed: str = "pack",
) -> DataFrame:
    """Sequence packing: group documents into packs of ~``budget`` tokens
    for training (short docs padded alone waste step compute; packing fills
    each context window).  Adds (shard, pack_id, pack_offset).

    Greedy first-fit packing is inherently sequential, so a global pass
    would serialize on one task.  Instead documents are hash-scattered into
    ``n_shards`` independent streams and packed WITHIN each shard by a
    running token cumsum over the deterministic hash order: pack boundary =
    exclusive-cumsum div budget.  Each shard's packing is one ranking
    window on the shard's partition — n_shards-way parallel, no global
    sort, reproducible from (keys, seed, budget) in any engine.

    A document longer than ``budget`` gets a pack of its own (it is never
    split — chunk upstream with ``chunk_dedup``-style windows if splitting
    is wanted); the pack it starts still closes at the boundary, matching
    greedy next-fit semantics.  Expected residual padding is ~half a doc
    per pack — the standard next-fit loss — versus a whole context window
    per short doc unpacked.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1; got {budget}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1; got {n_shards}")
    from pyspark.sql import Window

    from .sampling import sample_hash

    h = sample_hash(F.col(key_col), seed)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("__h").asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("__h", h)
        .withColumn("shard", (F.col("__h") % n_shards).cast("int"))
        .withColumn("__cum", F.sum(F.col(token_col)).over(w))
        .withColumn(
            "pack_id",
            ((F.col("__cum") - F.col(token_col)) / budget).cast("long"),
        )
        .withColumn(
            "pack_offset",
            (F.col("__cum") - F.col(token_col) - F.col("pack_id") * budget).cast(
                "long"
            ),
        )
        .drop("__h", "__cum")
    )


def sliding_chunks(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Split each document into overlapping ``chunk_tokens``-token windows
    every ``stride`` tokens — the standard long-document → training-example
    (or embedding-input) expansion, where overlap keeps context that a hard
    split would cut mid-thought.

    Chunk starts are the multiples of ``stride`` in ``[0, n_tokens)``, so
    every token is covered and tail chunks may be short (callers filter on
    ``n_tokens`` for strict fixed-width examples).  Output per chunk:
    ``(id, chunk_index, start, n_tokens, chunk_text)``.

    Scale shape: pure map-side array ops (one split, one bounded sequence
    explode — fan-out ≈ n_tokens/stride per doc, not per-token).  No
    shuffle, no UDF: chunking 100 TB is embarrassingly parallel and this
    stays entirely inside whole-stage codegen.  Deterministic: chunk
    membership is a pure function of the text, so re-chunking after an
    append only adds rows.

    Greenfield Spark work (no reference counterpart): the north-star
    LLM-data operators from BASELINE.json.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1; got {chunk_tokens}")
    if stride < 1:
        raise ValueError(f"stride must be >= 1; got {stride}")
    base = df.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__t"),
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("__t") - 1, F.lit(0)), F.lit(stride)
    )
    ex = base.select(
        F.col(id_col),
        F.size("__t").alias("__n"),
        F.col("__t"),
        F.posexplode(starts).alias("chunk_index", "start"),
    )
    return ex.select(
        F.col(id_col),
        F.col("chunk_index"),
        F.col("start"),
        F.least(F.col("__n") - F.col("start"), F.lit(chunk_tokens))
        .cast("long")
        .alias("n_tokens"),
        F.array_join(
            F.slice(F.col("__t"), F.col("start") + 1, F.lit(chunk_tokens)), " "
        ).alias("chunk_text"),
    )


def interleave_bits(cols: Sequence, bits: int) -> "F.Column":
    """Morton (Z-order) key: interleave the low ``bits`` bits of each
    already-quantized non-negative integer column.  Pure bit arithmetic —
    whole-stage-codegen'd, no UDF."""
    out = F.lit(0).cast("long")
    n = len(cols)
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1)).cast("long")
            out = out.bitwiseOR(F.shiftleft(bit, i * n + j))
    return out


def zorder_by(
    df: DataFrame,
    cols: Sequence[str],
    *,
    bits: int = 12,
    num_files: int | None = None,
) -> DataFrame:
    """Cluster rows along a Z-order (Morton) curve over ``cols`` so that
    files written from the result have SMALL min/max bounding boxes on
    EVERY listed column — the multi-column file-skipping lever (what
    Delta's OPTIMIZE ZORDER BY does): a plain sort clusters only its
    leading column; the space-filling curve lets parquet row-group
    stats prune scans filtered on any participating column.

    Each column is quantized to ``2**bits`` buckets by linear min/max
    normalization (numeric columns; cast dates/timestamps to their epoch
    numbers first).  The min/max pass is one 1-row aggregate broadcast
    back (the allowlisted scalar-attach shape — never a corpus shuffle),
    the Z-key is pure bit arithmetic, and the clustering itself is ONE
    repartitionByRange + in-partition sort — the same cost as a global
    sort by a single key.  Skew caveat: value-skewed columns quantize
    unevenly (most rows land in few buckets); pre-transform (log, rank)
    heavy-tailed columns for best pruning.

    Returns the clustered DataFrame ready to write; pruning is PROVEN in
    tests by reading back per-file footer ranges (tests/test_round5_ops).
    """
    if not cols:
        raise ValueError("zorder_by needs at least one column")
    if bits < 1 or bits * len(cols) > 63:
        raise ValueError(
            f"bits * len(cols) must fit a long; got {bits} * {len(cols)}"
        )
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"__zmin_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__zmax_{c}"),
        ]
    stats = df.agg(*aggs)
    j = df.crossJoin(F.broadcast(stats))
    top = (1 << bits) - 1
    quantized = []
    for c in cols:
        lo, hi = F.col(f"__zmin_{c}"), F.col(f"__zmax_{c}")
        rng = hi - lo
        q = (
            F.when(rng > 0, F.floor((F.col(c).cast("double") - lo) / rng * top))
            .otherwise(F.lit(0))
            .cast("long")
        )
        quantized.append(F.least(F.greatest(q, F.lit(0)), F.lit(top)))
    out = j.withColumn("__zkey", interleave_bits(quantized, bits)).drop(
        *[f"__zmin_{c}" for c in cols], *[f"__zmax_{c}" for c in cols]
    )
    n = num_files or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    return (
        out.repartitionByRange(n, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
