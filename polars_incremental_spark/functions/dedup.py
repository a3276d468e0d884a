"""Deduplication operators for document corpora at 100 TB scale.

Four tiers, cheapest-first, all shuffle-on-key distributed plans:

- exact: md5-hash group-by (one shuffle on the 128-bit digest, never on the
  raw text — at scale the digest is ~100× narrower than the document).
- fingerprint: exact dedup after normalization (case/punct/word order).
- n-gram Jaccard: shingle-inverted-index join — candidate pairs are only
  docs sharing ≥1 shingle, so the quadratic blowup is bounded per posting
  list; equivalent to one LSH band per shingle.
- MinHash + LSH: fixed-size signatures + banding; candidate generation cost
  is O(docs × bands) independent of document length.  Hashes are md5-derived
  so the DuckDB oracle can reproduce signatures bit-for-bit.
- SimHash: 64-bit near-dup signature via per-bit majority vote.

No collect(), no driver loops — every step is a DataFrame op.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import scoped_persist
from ..observability import observed_metrics
from .iterutils import CheckpointChain
from .text import fingerprint, md5_long, word_chunks, word_shingles

N_MINHASHES = 32
N_BANDS = 8  # 4 rows per band

# affine MinHash: h_i(s) = (a_i * md5_32(s) + b_i) mod P — ONE md5 per
# shingle instead of num_hashes md5s (30× less hash compute at corpus
# scale); constants are md5-derived so any engine can reproduce them.
MINHASH_PRIME = 2_147_483_647  # 2^31 − 1


def minhash_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for hash i: a odd < 2^28 (keeps a*h < 2^60,
    no 64-bit overflow on h < 2^32), b < 2^28."""
    import hashlib

    a = int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:7], 16) | 1
    b = int(hashlib.md5(f"b:{i}".encode()).hexdigest()[:7], 16)
    return a, b


def spread(df: DataFrame) -> DataFrame:
    """Rebalance compute-bound inputs across all cores.

    Shingling/hashing cost is per-row CPU, not I/O: a corpus that arrives in
    few partitions (one small parquet file, a coalesced upstream stage)
    would otherwise run single-threaded.  The shuffle moves each doc once —
    negligible next to the explode it feeds.  No-op when the input is
    already at least as parallel as the cluster.

    Parallelism is probed from scan metadata (``inputFiles``), not
    ``df.rdd.getNumPartitions()`` — the RDD conversion forces a full
    physical-planning pass (~1s of driver time per call).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        # scan-backed: partition count is bounded by file count unless files
        # span many row groups; over-repartitioning small inputs is harmless
        if len(files) >= target:
            return df
        return df.repartition(target)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (dup_hash, n_copies, keeper_id).

    keeper_id = min id per group (the deterministic survivor).
    Only groups with >1 copy are returned.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("dup_hash"), F.col(id_col))
        .groupBy("dup_hash")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_copies") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per distinct text; returns the surviving rows."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def fingerprint_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup groups under the normalized-bag-of-words fingerprint."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_docs") > 1)
    )


def shingle_posting_list(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    *,
    with_h32: bool = False,
) -> DataFrame:
    """(shingle_hash, doc_id) inverted index over distinct word n-grams.

    Shingles are hashed to 60-bit longs before the shuffle so the exchange
    moves 8-byte keys, not strings.  ``with_h32`` additionally emits the
    32-bit MinHash base hash — both derive from ONE md5 of the shingle, so
    LSH can share a single corpus explode between signatures and
    verification postings.
    """
    df = spread(df)
    exploded = df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("__shingle"),
    ).select(F.col(id_col), F.md5(F.col("__shingle")).alias("__md5"))
    cols = [
        F.col(id_col),
        F.conv(F.substring("__md5", 1, 15), 16, 10).cast("long").alias("shingle_hash"),
    ]
    if with_h32:
        cols.append(
            F.conv(F.substring("__md5", 1, 8), 16, 10).cast("long").alias("__h32")
        )
    return exploded.select(*cols)


def _guard_candidate_volume(
    dfreq: DataFrame,
    max_candidates: int | None,
    *,
    caller: str,
    pairs_per_collision: int = 1,
    remedy: str = "",
) -> tuple[int, int]:
    """Fail fast when Σ df·(df-1)/2 over the per-shingle document
    frequencies in ``dfreq`` (column ``__df``) — the EXACT number of
    candidate pairs the posting self-join will generate before dedup —
    exceeds ``max_candidates``.  Returns ``(total_pairs, max_df)`` so the
    caller can reuse the SAME action to decide hot-key salting (the join's
    worst reducer does max_df·(max_df-1)/2 of the work; no second pass
    needed to see it coming).

    SCALING.md measured the cliff this exists for: on a low-entropy corpus
    d17's candidate volume grew 58× for 10× data (Σdf² is the DATA's
    property, not the plan's), turning a 6-minute run into hours at the
    next scale step.  The estimate costs one small agg over frequencies
    the caller already computes; hitting the budget raises with a
    per-caller ``remedy`` (only operators that EXPOSE max_doc_freq should
    name it — d17's exactness contract forbids capping doc frequency).
    ``pairs_per_collision=2`` for directional operators that keep both
    orientations."""
    row = dfreq.agg(
        F.sum(
            F.col("__df").cast("double") * (F.col("__df") - 1) / 2
        ).alias("c"),
        F.max("__df").alias("m"),
    ).collect()[0]
    est = int(row["c"] or 0) * pairs_per_collision
    max_df = int(row["m"] or 0)
    if max_candidates is not None and est > max_candidates:
        from ..errors import CandidateVolumeError

        raise CandidateVolumeError(
            f"{caller}: estimated candidate volume {est:,} pairs exceeds "
            f"max_candidates={max_candidates:,}. Exact pair enumeration is "
            "quadratic in per-shingle document frequency; on this corpus "
            "it would run for hours, not minutes. " + remedy
        )
    return est, max_df


def _salt_collision_join_sides(
    a: DataFrame,
    b: DataFrame,
    dfreq: DataFrame,
    *,
    id_col: str,
    hot_df: int,
    num_salts: int,
) -> tuple[DataFrame, DataFrame]:
    """Split the hottest shingle keys of a posting/prefix self-join across
    ``num_salts`` reducers: the probe (``a``) side gets a deterministic
    salt from its doc id, the build (``b``) side replicates hot rows to
    every salt, and the caller joins on ``(shingle_hash, __salt)``.

    Why AQE's skew-join does NOT cover this: OptimizeSkewedJoin splits by
    shuffle-input BYTES, but a hot shingle's input partition is modest —
    it is the df·(df-1)/2 JOIN OUTPUT that is quadratic, invisible to the
    byte heuristic.  Hot keys are detected from the already-computed
    df agg (``__df > hot_df``), so only Σ_hot df b-side rows replicate —
    cold keys pay one broadcast left-anti-shaped null check and a constant
    salt.  Every qualifying (a, b) pair still meets exactly once, at
    salt = xxhash64(a.id) mod num_salts, so output is hash-identical to
    the unsalted join (gated by the d17/d18 driver oracles)."""
    hot = F.broadcast(
        dfreq.filter(F.col("__df") > hot_df)
        .select("shingle_hash")
        .withColumn("__hot", F.lit(True))
    )
    a_salted = a.join(hot, "shingle_hash", "left").withColumn(
        "__salt",
        F.when(
            F.col("__hot"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_salts)),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    ).drop("__hot")
    # generators must sit at the top level of a projection — no .cast()
    # chained onto the explode (sequence/array of int lits is already int)
    b_salted = (
        b.join(hot, "shingle_hash", "left")
        .withColumn(
            "__salt",
            F.explode(
                F.when(
                    F.col("__hot"),
                    F.sequence(F.lit(0), F.lit(num_salts - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .drop("__hot")
    )
    return a_salted, b_salted


def _filter_hot_shingles(postings: DataFrame, max_doc_freq: int | None) -> DataFrame:
    """Drop shingles appearing in more than ``max_doc_freq`` docs.

    A ubiquitous shingle ("of the and") creates a quadratic posting-list
    blowup on one shuffle key — the classic skew-killer for inverted-index
    self-joins at corpus scale.  Capping document frequency bounds the worst
    posting list; near-dup pairs lose only evidence that carried no signal.
    """
    if max_doc_freq is None:
        return postings
    hot = (
        postings.groupBy("shingle_hash")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("shingle_hash")
    )
    return postings.join(F.broadcast(hot), on="shingle_hash", how="left_anti")


def _jaccard_for_pairs(
    pairs: DataFrame,
    postings: DataFrame,
    id_col: str,
    threshold: float,
    *,
    narrow_postings: bool = True,
    cache_intermediate: bool = True,
) -> DataFrame:
    """Exact Jaccard for an explicit (id_a, id_b) candidate set — the
    shared verify behind every banded/prefix candidate generator.

    ``narrow_postings=True`` (sparse candidates — LSH banding, d6/d9/d13/
    g1-g5 edges): the postings are first semi-joined down to the docs
    that appear in ANY candidate pair, ONE pass over the corpus-sized
    posting table, so array building touches only candidate docs.  No
    broadcast hint on the semi-join: AQE broadcasts the candidate-id set
    while it is small and falls back to a shuffle semi-join when a
    degenerate corpus makes it huge.  The round-9 sf1 measure put this
    cut at 2-4x on sparse verifies (and it removed the local-cluster
    verify premium); corpus-DENSE callers (d17: candidates touch most
    docs, p_small ≈ postings) pass ``False`` and skip the pairs-persist +
    distinct + semi-join, measured +24% of pure overhead there (438s vs
    352s at sf1, round-9 shape).

    The intersection itself is the array verify
    (``_jaccard_for_pairs_arrays``), not a pairs×shingles explode —
    measured 13x on the dense caller and ~1.3x on the sparse ones.
    """
    if narrow_postings:
        # the candidate plan is consumed twice (id set + pair join) and is
        # often the expensive part (band/prefix self-join) — cache once;
        # scoped: released by the caller's operator_cache_scope / the
        # pipeline's per-batch release (cache.py)
        if cache_intermediate:
            pairs = scoped_persist(pairs)
        cand_ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .unionByName(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        postings = postings.join(cand_ids, id_col, "left_semi")
    return _jaccard_for_pairs_arrays(
        pairs, postings, id_col, threshold, cache_intermediate=cache_intermediate
    )


def _jaccard_for_pairs_arrays(
    pairs: DataFrame,
    postings: DataFrame,
    id_col: str,
    threshold: float,
    *,
    cache_intermediate: bool = True,
) -> DataFrame:
    """Exact Jaccard for an explicit (id_a, id_b) candidate set via
    per-doc shingle ARRAYS: one groupBy builds each doc's shingle array,
    then each candidate pair costs two hash-join probes plus one JVM-side
    ``array_intersect`` — no pairs×shingles explode and no
    (id_a, id_b, shingle) groupBy shuffle, which is what dominated the
    corpus-DENSE exact join (d17 at sf1: the explode verify shuffled
    |pairs|·|doc-shingles| rows; this moves |pairs| rows carrying one
    ~8·|doc| byte array per side, same bytes, one row per pair, no
    wide aggregation).  Gated by the d17/d6 driver oracles.  Only pairs
    sharing ≥1 shingle can pass a threshold > 0, so dropping zero-overlap
    pairs at the filter (instead of at an inner intersection join) changes
    nothing — thresholds are validated positive by the public callers."""
    # the array table feeds both join probes (a-side and b-side); uncached
    # the groupBy — and the semi-join/posting scan beneath it — runs twice.
    # cache_intermediate=False honors the caller's no-persist contract
    # (the whole chain then re-executes once per probe side).
    sets_ = postings.groupBy(id_col).agg(
        F.collect_list("shingle_hash").alias("__shs")
    )
    if cache_intermediate:
        sets_ = scoped_persist(sets_)
    a = sets_.select(F.col(id_col).alias("id_a"), F.col("__shs").alias("__sha"))
    b = sets_.select(F.col(id_col).alias("id_b"), F.col("__shs").alias("__shb"))
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__ni", inter)
        .withColumn(
            "jaccard",
            F.round(
                F.col("__ni")
                / (F.size("__sha") + F.size("__shb") - F.col("__ni")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.4,
    max_doc_freq: int | None = None,
    cache_intermediate: bool = True,
) -> DataFrame:
    """Exact Jaccard-similar pairs via the inverted-index join.

    jaccard(A,B) = |A∩B| / (|A|+|B|−|A∩B|) computed from shingle-set sizes;
    only pairs sharing at least one shingle are ever materialized.
    ``max_doc_freq`` caps posting-list length (skew guard); when set, set
    sizes and Jaccard are computed over the capped shingle universe so the
    metric stays internally consistent.  ``cache_intermediate`` persists the
    posting list, which feeds three plan branches (both join sides + sizes)
    — uncached, the corpus would be re-shingled once per branch.
    """
    postings = _filter_hot_shingles(
        shingle_posting_list(df, text_col, id_col, n), max_doc_freq
    )
    if cache_intermediate:
        postings = scoped_persist(postings)
    sizes = postings.groupBy(id_col).agg(F.count("*").alias("set_size"))
    a = postings.alias("a")
    b = postings.alias("b")
    common = (
        a.join(b, on="shingle_hash")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = N_MINHASHES,
) -> DataFrame:
    """(id, minhash array<long>) — k affine min-hashes over word shingles.

    h_i(s) = (a_i * md5_32(s) + b_i) mod (2^31−1): one md5 per shingle,
    k cheap integer ops — deterministic and engine-portable.
    One explode + one groupBy: shuffle volume is O(total shingles).
    """
    shingled = spread(df).select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("shingle")
    ).withColumn("__h32", md5_long(F.col("shingle"), 8))
    return _signatures_from_h32(shingled, id_col, num_hashes)


def _signatures_from_h32(hashed: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(id, minhash) from a pre-hashed (id, __h32) shingle table.

    Aggregates are built as SQL-expression strings — one Py4J call each
    instead of ~6 per Column composition; with 32 hash functions that is
    the difference between ~0.9s and ~0.1s of driver-side plan build.
    """
    hash_cols = []
    for i in range(num_hashes):
        a, b = minhash_params(i)
        hash_cols.append(
            F.expr(f"min(({a}L * __h32 + {b}L) % {MINHASH_PRIME}L) AS h{i}")
        )
    arr = ", ".join(f"h{i}" for i in range(num_hashes))
    return (
        hashed.groupBy(id_col)
        .agg(*hash_cols)
        .selectExpr(id_col, f"array({arr}) AS minhash")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = N_MINHASHES,
    num_bands: int = N_BANDS,
    threshold: float = 0.4,
    cache_intermediate: bool = True,
) -> DataFrame:
    """Candidate pairs via LSH banding, verified with exact Jaccard.

    Docs colliding in ≥1 band (md5 of the band's signature slice) become
    candidates; candidates are then verified against the true shingle-set
    Jaccard so the output has no false positives.  At 100 TB the band join
    is the only shuffle that touches all docs, and its key is 8 bytes.

    ``cache_intermediate`` persists the band entries and posting lists —
    both are referenced on two+ sides of self-joins, and without caching
    Spark re-shingles the whole corpus once per reference (~5 full passes).
    At warehouse scale, write signatures to a table instead and pass the
    cached frames through.
    """
    # the array verify drops zero-overlap band collisions at the
    # jaccard >= threshold filter — only sound for threshold > 0, so
    # enforce the docstring's contract here (ADVICE r10)
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1]; got {threshold}")
    candidates, postings = lsh_candidate_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        n=n,
        num_hashes=num_hashes,
        num_bands=num_bands,
        cache_intermediate=cache_intermediate,
    )
    # verify ONLY the candidate pairs — never the full posting self-join
    # (that would recompute the exact all-pairs cost LSH exists to avoid)
    return _jaccard_for_pairs(
        candidates,
        postings.drop("__h32"),
        id_col,
        threshold,
        cache_intermediate=cache_intermediate,
    )


def lsh_candidate_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = N_MINHASHES,
    num_bands: int = N_BANDS,
    cache_intermediate: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """(candidate id pairs, shingle postings) from MinHash-LSH banding —
    the shared candidate generator under every fuzzy-verification flavor
    (Jaccard in ``minhash_lsh_pairs``, edit distance in
    ``edit_distance_pairs``).  The band join is the only shuffle that
    touches all docs and its key is 8 bytes."""
    rows_per_band = num_hashes // num_bands
    # ONE corpus explode feeds both halves: signatures (via __h32) and the
    # verification postings (via shingle_hash) — both derive from the same
    # md5, so the shingling pass isn't paid twice
    postings = shingle_posting_list(df, text_col, id_col, n, with_h32=True)
    if cache_intermediate:
        postings = scoped_persist(postings)
    sigs = _signatures_from_h32(postings, id_col, num_hashes)
    band_entries = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("minhash")[b * rows_per_band + r].cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), F.col("bb.band"), F.col("bb.bucket"))

    if cache_intermediate:
        band_entries = scoped_persist(band_entries)
    a = band_entries.alias("a")
    b = band_entries.alias("b")
    candidates = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return candidates, postings


def edit_distance_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = N_MINHASHES,
    num_bands: int = N_BANDS,
    max_distance: int = 16,
    prefix_chars: int = 64,
    cache_intermediate: bool = True,
) -> DataFrame:
    """Near-dup pairs verified by LEVENSHTEIN over a text prefix — the
    fuzzy-match primitive for short/templated strings where set-based
    Jaccard is too coarse (it ignores token order and small edits).

    Candidate generation is the same MinHash-LSH banding as
    ``minhash_lsh_pairs`` (no all-pairs O(N²) — edit distance is O(len²)
    per pair, so the candidate set must be sparse BEFORE verification);
    only candidates pay the levenshtein, and only on a bounded
    ``prefix_chars`` slice so a pathological 1 GB document can't make a
    single comparison quadratic in document size.

    Output: (id_a, id_b, edit_distance) for candidates within
    ``max_distance``.
    """
    if max_distance < 0:
        raise ValueError(f"max_distance must be >= 0; got {max_distance}")
    if prefix_chars < 1:
        raise ValueError(f"prefix_chars must be >= 1; got {prefix_chars}")
    candidates, _postings = lsh_candidate_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        n=n,
        num_hashes=num_hashes,
        num_bands=num_bands,
        cache_intermediate=cache_intermediate,
    )
    texts = df.select(
        F.col(id_col), F.substring(F.col(text_col), 1, prefix_chars).alias("__pfx")
    )
    return (
        candidates.join(
            texts.select(F.col(id_col).alias("id_a"), F.col("__pfx").alias("__pa")),
            "id_a",
        )
        .join(
            texts.select(F.col(id_col).alias("id_b"), F.col("__pfx").alias("__pb")),
            "id_b",
        )
        .withColumn(
            "edit_distance", F.levenshtein(F.col("__pa"), F.col("__pb")).cast("int")
        )
        .filter(F.col("edit_distance") <= max_distance)
        .select("id_a", "id_b", "edit_distance")
    )


def simhash(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """(id, simhash long) — per-bit majority vote over token hashes.

    ``bits`` defaults to 16 (not 60) to keep the bit-unpivot expression
    compact; near-dup candidates are rows whose signatures match exactly or
    within small Hamming distance.  Max is 60: the per-token md5_long hash
    carries 60 bits, and bit 63 would overflow a signed LongType literal.
    """
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60] (md5_long is 60-bit); got {bits}")
    toks = spread(df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        ).alias("tok"),
    ).withColumn("th", md5_long(F.col("tok")))
    bit_votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("th").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return bit_votes.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs whose simhash signatures differ in at
    most ``max_hamming`` bits — EXACT under blocking, not approximate.

    Pigeonhole blocking: the signature splits into ``max_hamming + 1``
    bands, and any pair within the hamming radius must agree exactly on at
    least one band, so the band equi-join has recall 1.0 by construction;
    the xor-popcount verify then removes false candidates.  Shuffle key is
    the (band, band-bits) pair; per-band bucket fan-out is bounded by
    2^(bits/(max_hamming+1)) buckets — at corpus scale use ``bits=60`` so
    each band carries 15 bits (32k buckets/band) instead of the compact
    default of 4.
    """
    n_bands = max_hamming + 1
    if bits % n_bands:
        raise ValueError(f"bits={bits} must be divisible by {n_bands} bands")
    width = bits // n_bands
    mask = (1 << width) - 1
    sigs = scoped_persist(simhash(df, text_col=text_col, id_col=id_col, bits=bits))
    banded = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), F.col("simhash"), F.col("bb.band"), F.col("bb.key"))
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(b, on=["band", "key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("__sa"),
            F.col("b.simhash").alias("__sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )


def minhash_band_entries(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    num_hashes: int = N_MINHASHES,
    num_bands: int = N_BANDS,
) -> DataFrame:
    """(id, band, bucket) LSH band entries derived from stored signatures —
    the md5-of-slice banding shared by batch and index sides of the
    incremental join (recomputing it from the 256-byte signature is far
    cheaper than persisting the exploded entries)."""
    rows_per_band = num_hashes // num_bands
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("minhash")[b * rows_per_band + r].cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), F.col("bb.band"), F.col("bb.bucket"))


def _minhash_agreement(a: str, b: str, num_hashes: int):
    """Estimated Jaccard: fraction of agreeing signature components."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(num_hashes))


def incremental_lsh_dedup(
    df: DataFrame,
    index_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = N_MINHASHES,
    num_bands: int = N_BANDS,
    threshold: float = 0.5,
    batch_id: int | None = None,
) -> DataFrame:
    """Cross-batch near-dup dedup: drop rows of ``df`` that near-duplicate
    the persisted corpus OR a lower-id row of the same batch, then append
    the survivors' signatures to the index.  Returns the surviving rows.

    The index at ``index_path`` stores only (id, minhash) — ~260 B/doc; the
    band join derives entries on both sides, candidates are verified with
    the minhash-estimated Jaccard (component agreement ≥ ``threshold``), so
    no text or posting list is ever persisted.  Batch-internal survivors
    are the min-id of each duplicate chain (any row pairing with a lower id
    drops — the d2/keep-first rule).  At warehouse scale, partition the
    index table by a bucket prefix so the band join co-locates without a
    full shuffle of the corpus signatures.

    Idempotent replay: pass the Pipeline ``batch_id`` and the signature
    append goes to ``index_path/batch_{id}`` (overwritten on retry — the
    same contract as write_parquet_batch); without it, appends go to
    ``index_path/batch_adhoc_<uuid>``.  Replay excludes the batch's own
    prior signatures twice over: its ``batch_{id}`` dir is filtered out of
    the index read, and same-id candidates are dropped — the latter also
    covers a replay whose signatures were already folded into a
    ``compact_lsh_index`` dir.

    Caching: only the (small) dropped-id set stays cached after return —
    the caller's first action on the result reuses it; signatures are
    unpersisted once the index append completes.

    Mirrors reference W4 cross-batch dedupe (deduplication_strategies.py:
    60-79) upgraded from exact-id to near-dup semantics.
    """
    import glob as _glob
    import uuid as _uuid

    spark = df.sparkSession
    sigs = minhash_signatures(
        df, text_col=text_col, id_col=id_col, n=n, num_hashes=num_hashes
    ).persist()
    batch_bands = minhash_band_entries(
        sigs, id_col=id_col, num_hashes=num_hashes, num_bands=num_bands
    )

    # explicit existence probe — a corrupt or unreadable index must FAIL the
    # batch, not silently disable cross-batch dedup and pollute the index.
    # Replay safety: a retried batch must not dedupe against its OWN
    # previously-appended signatures (every row would match itself), so its
    # dir is excluded from the path list.  Concrete paths (not the glob
    # pattern) go to the reader — a glob makes Spark's streaming-sink probe
    # log a spurious FileNotFoundException stack at WARN on every read.
    index_dirs = [
        d
        for d in sorted(_glob.glob(f"{index_path}/batch_*"))
        if batch_id is None or d != f"{index_path}/batch_{batch_id}"
    ]
    have_index = bool(index_dirs)
    if have_index:
        index = spark.read.parquet(*index_dirs)

    agree = _minhash_agreement("__ma", "__mb", num_hashes)
    dropped_cols = [F.col(id_col).alias("__drop_id")]

    # ---- new-vs-corpus: any index match drops the new row (corpus wins)
    if have_index:
        idx_bands = minhash_band_entries(
            index, id_col=id_col, num_hashes=num_hashes, num_bands=num_bands
        ).select(F.col(id_col).alias("__old_id"), "band", "bucket")
        cand_idx = (
            batch_bands.join(idx_bands, on=["band", "bucket"])
            .filter(F.col(id_col) != F.col("__old_id"))
            .select(F.col(id_col), F.col("__old_id"))
            .distinct()
            .join(sigs.select(F.col(id_col), F.col("minhash").alias("__ma")), id_col)
            .join(
                index.select(
                    F.col(id_col).alias("__old_id"), F.col("minhash").alias("__mb")
                ),
                "__old_id",
            )
        )
        drops_idx = cand_idx.filter(agree >= threshold).select(*dropped_cols).distinct()
    else:
        drops_idx = None

    # ---- batch-internal: a row pairing with a LOWER id drops (keep-first)
    a = batch_bands.alias("a")
    b = batch_bands.alias("b")
    cand_in = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("__ida"), F.col(f"b.{id_col}").alias("__idb"))
        .distinct()
        .join(
            sigs.select(F.col(id_col).alias("__ida"), F.col("minhash").alias("__ma")),
            "__ida",
        )
        .join(
            sigs.select(F.col(id_col).alias("__idb"), F.col("minhash").alias("__mb")),
            "__idb",
        )
    )
    drops_in = (
        cand_in.filter(agree >= threshold)
        .select(F.col("__idb").alias("__drop_id"))
        .distinct()
    )
    drops = drops_in if drops_idx is None else drops_in.unionByName(drops_idx).distinct()
    drops = scoped_persist(drops)

    new_sigs = sigs.join(
        drops, on=sigs[id_col] == drops["__drop_id"], how="left_anti"
    )
    suffix = f"batch_{batch_id}" if batch_id is not None else f"batch_adhoc_{_uuid.uuid4().hex}"
    new_sigs.write.mode("overwrite").parquet(f"{index_path}/{suffix}")
    # the write materialized the drop-id cache; the survivor frame below
    # depends only on it, so the heavyweight signature cache can go now
    sigs.unpersist()
    return df.join(drops, on=df[id_col] == drops["__drop_id"], how="left_anti")


def compact_lsh_index(
    spark, index_path: str, *, target_partitions: int = 1, id_col: str = "doc_id"
) -> int:
    """Merge the accumulated ``batch_*`` signature dirs of an
    ``incremental_lsh_dedup`` index into one compacted dir (small-file
    maintenance — thousands of micro-batch appends otherwise degrade the
    band-join scan).  Returns the number of source dirs removed.

    Crash-safe ordering: the compacted dir is fully written BEFORE the
    source dirs are deleted, and its name sorts into the same ``batch_*``
    glob the reader uses, so a crash mid-compaction leaves duplicate
    signatures (harmless for dedup — the same doc matching twice drops the
    same rows) rather than lost ones.  Run it from the pipeline's
    single-writer lock like any other maintenance op.

    Interplay with batch replay: a batch retried AFTER its signatures were
    compacted re-appends them under ``batch_{id}`` (its dir-exclusion no
    longer sees them in the compact dir — same-id matching keeps the dedup
    itself correct), so compaction dedupes rows by ``id_col``; the
    transient duplicates self-heal at the next compaction.
    """
    import glob as _glob
    import shutil as _shutil
    import uuid as _uuid

    dirs = sorted(_glob.glob(f"{index_path}/batch_*"))
    if len(dirs) <= 1:
        return 0
    sigs = spark.read.parquet(*dirs).dropDuplicates([id_col])
    out = f"{index_path}/batch_compact_{_uuid.uuid4().hex}"
    sigs.coalesce(target_partitions).write.mode("overwrite").parquet(out)
    for d in dirs:
        _shutil.rmtree(d, ignore_errors=True)
    return len(dirs)


def connected_components(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "doc_id",
    comp_col: str = "cluster_id",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min node
    id of its connected component.  Turns near-dup PAIRS (minhash_lsh_pairs,
    simhash_near_dup_pairs, cosine_near_dup_pairs) into duplicate CLUSTERS,
    so "keep one doc per duplicate group" is a groupBy(component) away —
    pairwise drop-one rules over-delete on chains (A~B, B~C: B and C both
    drop even though A~C may not hold).

    Hash-min label propagation: each iteration every node takes the min of
    its own and its neighbours' labels — one equi-join + one groupBy over
    the (symmetrized, distinct) edge set per iteration, both shuffling the
    8-byte (node, label) pairs only.  Converges in O(component diameter)
    iterations; near-dup clusters are shallow (dups of a common source), so
    the default bound is generous.  Per-iteration ``localCheckpoint``
    truncates lineage — without it the logical plan doubles per iteration
    and Catalyst re-optimization dominates after ~10 rounds.  The per-round
    driver visit is a 1-row convergence probe (same class as the watermark
    extract in patterns.py), not a data collect; raises if the bound is hit
    before the fixpoint so a non-converged labeling can never be mistaken
    for clusters.  Iterative ⇒ verified against a DuckDB recursive-CTE
    transitive-closure oracle (d9_dup_clusters).
    """
    # Symmetrize + dedup with ONE edge-sized exchange: hash-repartition by
    # n, then dedup partition-locally — HashPartitioning(n) satisfies the
    # (n, m) clustered distribution, so dropDuplicates adds no second
    # exchange, and the persisted sym comes out n-partitioned (the label
    # init's groupBy("n") then reads it exchange-free).  A plain
    # .distinct() shuffled on (n, m) and the init agg re-shuffled on n —
    # two edge-sized exchanges where one suffices (guide §2.4).
    sym = (
        edges.select(F.col(src).alias("n"), F.col(dst).alias("m"))
        .unionByName(edges.select(F.col(dst).alias("n"), F.col(src).alias("m")))
        .repartition("n")
        .dropDuplicates()
        .persist()
    )
    # chain: intermediate rounds' checkpoint blocks release at the
    # operator-cache release point instead of JVM GC (round-11 finding:
    # 3-15 stale persisted RDDs per iterative query)
    chain = CheckpointChain(edges.sparkSession, checkpoint_dir)
    # Label init FOLDS the first propagation round: round 1 of hash-min
    # starting from lbl=n computes exactly least(n, min(neighbors)) — one
    # groupBy over sym, the same shuffle the old `select(n).distinct()`
    # init paid, so the fold removes a whole join+agg+checkpoint round
    # (and its eager materialization job) without changing the fixpoint.
    # With >=1 edge round 1 always changes >=1 label (the larger endpoint
    # adopts the smaller), so skipping its convergence probe is safe; the
    # loop below starts at round 2.  No checkpoint here: the plan is one
    # agg over the persisted sym, and round 2's checkpoint truncates it.
    labels = (
        sym.groupBy("n")
        .agg(F.min("m").alias("__mn"))
        .select("n", F.least(F.col("n"), F.col("__mn")).alias("lbl"))
    )
    try:
        for _ in range(max_iter):
            # One round = one join + ONE grouped agg: the neighbor
            # contributions (m <- lbl[n]) union the nodes' own labels and a
            # single min-per-node folds both, with the old label carried
            # through as max(__old) (each node contributes its own row
            # exactly once, so the max IS the old label — every
            # symmetrized node appears on the n side).  Equivalent to the
            # former nbr-min agg + left-join-back (least(own, min nbrs)),
            # minus one shuffle/job per round (round-12 profile: d9
            # 34 -> 30 jobs).
            contribs = sym.join(labels, on="n").select(
                F.col("m").alias("n"),
                "lbl",
                F.lit(None).cast("long").alias("__old"),
            )
            own = labels.select(
                "n", "lbl", F.col("lbl").alias("__old")
            )
            # The convergence count rides the checkpoint's own
            # materialization job via an Observation — the eager
            # (local)checkpoint executes the observed plan, so detecting
            # the fixpoint costs ZERO extra jobs per round (previously a
            # separate filter+limit count over the checkpointed
            # partitions).  Non-blocking probe + filter fallback
            # (observability.observed_metrics).
            from pyspark.sql import Observation

            obs = Observation()
            new = (
                own.unionByName(contribs)
                .groupBy("n")
                .agg(
                    F.min("lbl").alias("new_lbl"),
                    F.max("__old").alias("__o"),
                )
                .select(
                    "n",
                    "new_lbl",
                    (F.col("new_lbl") < F.col("__o")).alias("chg"),
                )
                .observe(obs, F.sum(F.col("chg").cast("long")).alias("n_chg"))
            )
            new = chain.next(new)
            changed = int(
                observed_metrics(
                    obs, lambda: {"n_chg": new.filter("chg").limit(1).count()}
                )["n_chg"]
                or 0
            )
            labels = new.select("n", F.col("new_lbl").alias("lbl"))
            if changed == 0:
                # the returned plan references only the FINAL round's
                # checkpoint — every earlier round releases with the
                # operator caches
                chain.defer_release(keep=new)
                return labels.select(
                    F.col("n").alias(node_col), F.col("lbl").alias(comp_col)
                )
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations — "
            f"component diameter exceeds the bound; raise max_iter"
        )
    finally:
        sym.unpersist()


def chunk_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 50,
    sep: str = " ",
) -> DataFrame:
    """Sub-document (paragraph-style) dedup: split each document into
    fixed-width word chunks, keep only the FIRST corpus-wide occurrence of
    every chunk, and reassemble the surviving chunks in order.

    The RefinedWeb/Dolma pipelines dedup at paragraph granularity because
    boilerplate (headers, license blocks, navigation) repeats across
    documents that are not near-duplicates as wholes.  With no paragraph
    delimiter in a corpus, fixed ``chunk_words`` windows are the delimiter-
    free equivalent; pass a corpus with real paragraphs pre-split on
    ``\\n\\n`` upstream to get true paragraph dedup.

    First occurrence = lexicographically smallest ``(id, chunk_idx)`` over
    each distinct chunk text, so the result is deterministic under any
    partitioning.  Documents whose every chunk is a repeat survive with
    ``clean_text = ''`` (callers filter on ``n_kept``).

    Scale shape: chunking is map-side array ops (split → slice → join, no
    explode-regroup per word).  The global first-occurrence rank is ONE
    shuffle partitioned on the 128-bit chunk digest — fixed-width key, and
    hot chunks (the boilerplate this op exists to remove) spread over
    distinct digests rather than one key.  Reassembly is the second,
    per-document shuffle.  Output: (id, clean_text, n_chunks, n_kept).

    Reference parity: greenfield — the reference engine has no sub-document
    dedup; tiering mirrors its exact-dedup semantics (dedup.py tiers above).
    """
    if chunk_words < 1:
        raise ValueError(f"chunk_words must be >= 1; got {chunk_words}")
    w = chunk_words
    # n_chunks = size(__chunks): word_chunks yields exactly ceil(n_tok/w)
    # chunks for every input (tokens() is the same split the old separate
    # meta branch used), so no second text pass or meta join is needed —
    # a document whose every chunk is a repeat still rides through ``base``
    # with its true chunk count.
    base = df.select(
        F.col(id_col),
        word_chunks(F.col(text_col), w, sep).alias("__chunks"),
    ).withColumn("n_chunks", F.size("__chunks").cast("long"))
    # Chunk TEXT never crosses a shuffle.  The winner agg moves only
    # (md5-digest, id, chunk_idx) — fixed ~48 bytes/row with map-side
    # min-combine on the digest — and reassembly REBUILDS the chunk array
    # from the original document after joining the (tiny, int-list) kept
    # indexes back per id.  The previous window formulation sort-shuffled
    # every occurrence's full chunk text twice (rank + regroup); at 100 TB
    # that shuffle IS the job, this one is ~5% of it.
    digests = base.select(
        id_col, F.posexplode("__chunks").alias("chunk_idx", "chunk")
    ).select(
        id_col, "chunk_idx", F.md5(F.col("chunk")).alias("__dig")
    )
    keep_lists = (
        digests.groupBy("__dig")
        .agg(F.min(F.struct(id_col, "chunk_idx")).alias("__w"))
        .groupBy(F.col(f"__w.{id_col}").alias(id_col))
        .agg(
            F.sort_array(F.collect_list("__w.chunk_idx")).alias("__keep_idx")
        )
    )
    withkeep = base.join(keep_lists, id_col, "left")
    return withkeep.select(
        id_col,
        F.when(F.col("__keep_idx").isNull(), F.lit("")).otherwise(
            F.array_join(
                F.transform(
                    F.col("__keep_idx"),
                    lambda i: F.element_at(F.col("__chunks"), i + 1),
                ),
                sep,
            )
        ).alias("clean_text"),
        "n_chunks",
        F.coalesce(F.size("__keep_idx"), F.lit(0)).cast("long").alias("n_kept"),
    )


def contamination_stats(
    train: DataFrame,
    test: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    min_hits: int = 1,
    broadcast_test: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per training document, how many of its
    distinct word n-grams also appear anywhere in the held-out ``test``
    corpus — the GPT-3/PaLM-style overlap check run before training so
    eval benchmarks aren't memorized.

    Output: (id, n_ngrams, n_contaminated, contaminated_frac,
    is_contaminated) for EVERY train document (zero hits included), so the
    caller can either drop flagged docs or strip them for reporting.

    Scale shape: both sides shingle map-side into 60-bit md5 keys (never
    joining on raw text).  The test side collapses to its DISTINCT n-gram
    hash set — benchmarks are tiny next to a 100 TB corpus, so with
    ``broadcast_test`` (default) the join is a broadcast hash join and the
    TRAIN SIDE NEVER SHUFFLES; set it False for a test corpus too large to
    broadcast and the join becomes a shuffle join on fixed-width keys.

    Reference parity: greenfield — no reference counterpart; the overlap
    semantics follow the published decontamination recipes (n-gram
    collision, doc-level flag at ``min_hits``).
    """
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1; got {ngram}")
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1; got {min_hits}")

    def shingle_hashes(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), ngram)).alias("__s"),
        ).select(id_col, md5_long(F.col("__s")).alias("__h"))

    tr = shingle_hashes(train)
    te = shingle_hashes(test).select("__h").distinct()
    if broadcast_test:
        te = F.broadcast(te)
    totals = tr.groupBy(id_col).agg(F.count("*").cast("long").alias("n_ngrams"))
    hits = (
        tr.join(te, "__h")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_contaminated"))
    )
    n_hit = F.coalesce("n_contaminated", F.lit(0).cast("long"))
    return totals.join(hits, id_col, "left").select(
        id_col,
        "n_ngrams",
        n_hit.alias("n_contaminated"),
        F.round(n_hit / F.col("n_ngrams"), 6).alias("contaminated_frac"),
        (n_hit >= min_hits).alias("is_contaminated"),
    )


def _bloom_position(col, i: int, m_bits: int):
    """Salted md5 double-hashing position i for one shingle (shared by the
    one-shot and incremental bloom paths — MUST stay identical or an index
    built by one is garbage to the other)."""
    return F.pmod(md5_long(F.concat(col, F.lit(f":{i}"))), F.lit(m_bits))


def _pack_positions_to_words(positions: DataFrame) -> DataFrame:
    """(distinct position) rows -> (word, bits) rows via bit_or — 64
    positions per output row, the packed form both collected bitsets and
    the persisted index store."""
    return (
        positions.select(
            (F.col("__p") / 64).cast("long").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(__p, 64) AS INT))").alias(
                "bits"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )


def _words_to_bitset(packed_rows, m_bits: int):
    """Collected (word, bits) rows -> numpy bool array of m_bits."""
    import numpy as np

    words = np.zeros((m_bits + 63) // 64, dtype=np.uint64)
    for r in packed_rows:
        words[r["word"]] = np.uint64(r["bits"] & 0xFFFFFFFFFFFFFFFF)
    return np.unpackbits(words.view(np.uint8), bitorder="little")[:m_bits].astype(bool)


def update_bloom_index(
    test: DataFrame,
    index_path: str,
    *,
    text_col: str = "text",
    ngram: int = 3,
    m_bits: int = 1 << 20,
    k_hashes: int = 2,
    batch_id: int | None = None,
) -> None:
    """Fold one held-out batch into a PERSISTED bloom index — the
    incremental form of ``bloom_decontaminate``'s test side: eval sets
    arrive over time (new benchmarks, new held-out splits), and each batch
    appends only its packed (word, bits) rows (≤ m_bits/64 of them) instead
    of rebuilding the filter from every test document seen so far.

    The filter parameters are pinned in ``meta.json`` on first write and
    validated on every update — mixing (ngram, m_bits, k_hashes) across
    batches would silently corrupt membership.  Idempotent replay: with a
    Pipeline ``batch_id`` the append goes to ``index_path/batch_{id}``
    (overwritten on retry — same contract as ``incremental_lsh_dedup``).
    Without one, the subdir is derived from a content digest of the packed
    bits, so retrying the same ad-hoc batch overwrites its own directory
    instead of accumulating orphan ``batch_adhoc_*`` dirs forever.
    """
    import json
    import os

    meta = {"ngram": ngram, "m_bits": m_bits, "k_hashes": k_hashes}
    os.makedirs(index_path, exist_ok=True)
    meta_path = os.path.join(index_path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            existing = json.load(fh)
        if existing != meta:
            raise ValueError(
                f"bloom index at {index_path} was built with {existing}; "
                f"refusing update with {meta}"
            )
    else:
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, meta_path)

    sh = test.select(F.explode(word_shingles(F.col(text_col), ngram)).alias("__s"))
    pos = sh.select(
        F.explode(
            F.array(*[_bloom_position(F.col("__s"), i, m_bits) for i in range(k_hashes)])
        ).alias("__p")
    ).distinct()
    packed = _pack_positions_to_words(pos)
    if batch_id is not None:
        sub = f"batch_{batch_id}"
    else:
        # content-addressed subdir: bit_xor of hash(word, bits) is
        # order-insensitive and deterministic (Murmur3, fixed seed), so an
        # identical ad-hoc batch always lands in — and overwrites — the
        # same directory (idempotent replay without a batch_id).  The
        # digest aggregate is bounded by m_bits/64 packed rows.
        packed = packed.persist()
        row = packed.agg(
            F.count("*").cast("long").alias("__n"),
            # 60-bit md5 xor (not 32-bit Murmur3): a digest collision
            # OVERWRITES another ad-hoc batch's subdir and loses its bits
            F.coalesce(
                F.expr(
                    "bit_xor(cast(conv(substring(md5(concat_ws(char(1), "
                    "word, bits)), 1, 15), 16, 10) as bigint))"
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("__x"),
        ).collect()[0]
        sub = f"batch_adhoc_{row['__x'] & 0xFFFFFFFFFFFFFFFF:016x}_{row['__n']}"
    try:
        packed.write.mode("overwrite").parquet(os.path.join(index_path, sub))
    finally:
        if batch_id is None:
            packed.unpersist()


def bloom_decontaminate_indexed(
    spark,
    train: DataFrame,
    index_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_hits: int = 1,
) -> DataFrame:
    """``bloom_decontaminate`` against a PERSISTED index built by
    ``update_bloom_index`` across any number of batches.  Reads the packed
    words (bit_or-merged across batches — bloom union IS bitwise or),
    collects at most m_bits/64 longs, and probes with the same Arrow
    bitset UDF as the one-shot path.  Output schema matches
    ``bloom_decontaminate``.
    """
    import glob as _glob
    import json
    import os

    import numpy as np  # noqa: F401  (bitset dependency surfaced early)
    from pyspark.sql.functions import pandas_udf

    with open(os.path.join(index_path, "meta.json")) as fh:
        meta = json.load(fh)
    ngram, m_bits, k_hashes = meta["ngram"], meta["m_bits"], meta["k_hashes"]
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1; got {min_hits}")

    batch_dirs = sorted(_glob.glob(os.path.join(index_path, "batch_*")))
    if not batch_dirs:
        raise ValueError(f"bloom index at {index_path} has no batches")
    merged = (
        spark.read.parquet(*batch_dirs)
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
        .collect()
    )
    bits = _words_to_bitset(merged, m_bits)

    tr = train.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), ngram)).alias("__s")
    ).select(
        id_col,
        *[_bloom_position(F.col("__s"), i, m_bits).alias(f"__p{i}") for i in range(k_hashes)],
    )

    @pandas_udf("boolean")
    def _probe(ps: pd.Series) -> pd.Series:
        import numpy as np

        if len(ps) == 0:
            return pd.Series([], dtype=bool)
        mat = np.stack(ps.to_numpy())
        return pd.Series(bits[mat].all(axis=1))

    probed = tr.withColumn(
        "__hit", _probe(F.array(*[F.col(f"__p{i}") for i in range(k_hashes)]))
    )
    n_pos = F.coalesce(F.sum(F.col("__hit").cast("long")), F.lit(0)).cast("long")
    return probed.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_ngrams"),
        n_pos.alias("n_bloom_positive"),
    ).select(
        id_col,
        "n_ngrams",
        "n_bloom_positive",
        F.round(F.col("n_bloom_positive") / F.col("n_ngrams"), 6).alias("positive_frac"),
        (F.col("n_bloom_positive") >= min_hits).alias("is_flagged"),
    )


def keep_canonical(
    df: DataFrame,
    clusters: DataFrame,
    *,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Resolve near-dup clusters to a deduped corpus: drop every clustered
    document except its cluster's canonical (min-id) member; unclustered
    documents pass through untouched.

    The drop set is (id, cluster) rows where id != cluster — at most one
    row per duplicate, fixed-width ids — so the anti join's build side
    stays proportional to the duplicate count, not the corpus.  Composes
    with ``connected_components`` output directly (its ``cluster_id`` IS
    the min reachable id).
    """
    dropped = clusters.filter(F.col(id_col) != F.col(cluster_col)).select(id_col)
    return df.join(dropped, id_col, "left_anti")


def bloom_decontaminate(
    train: DataFrame,
    test: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    min_hits: int = 1,
    m_bits: int = 1 << 20,
    k_hashes: int = 2,
    probe: str = "join",
) -> DataFrame:
    """Decontamination via a Bloom-filter membership test — the scale path
    for when the held-out set's exact n-gram hash set outgrows a broadcast
    (``contamination_stats`` broadcasts ~8 B per distinct test n-gram; the
    bloom needs ``m_bits/8`` bytes TOTAL, independent of test-set size).

    Each n-gram maps to ``k_hashes`` bit positions via salted md5 double
    hashing (pos_i = md5(shingle || ':' || i) mod m_bits); a train n-gram
    is bloom-positive iff every position is set by some test n-gram.
    Deliberately deterministic — false positives are a pure function of
    (m_bits, k_hashes, corpus), so a SQL oracle reproduces them exactly.

    ``probe="join"``: the set-position table (≤ m_bits rows, fixed-width
    ints) broadcast-joins against each of the k position columns — pure
    Catalyst, zero train-side shuffle before the per-doc aggregate.
    ``probe="bitset"``: positions collect to the driver once (bounded by
    m_bits), pack into a numpy bit array, and ride into an Arrow-batched
    pandas UDF — the 100 TB shape where even the position table should
    not be a join (one closure-captured ``m_bits/8``-byte array, one
    vectorized AND per batch).  Both probes agree bit-for-bit (tested).

    Output mirrors ``contamination_stats``: (id, n_ngrams,
    n_bloom_positive, positive_frac, is_flagged).

    Reference parity: greenfield — no reference counterpart; bloom
    construction follows the standard Kirsch-Mitzenmacher double-hashing
    scheme from the published literature.
    """
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1; got {ngram}")
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1; got {min_hits}")
    if m_bits < 2:
        raise ValueError(f"m_bits must be >= 2; got {m_bits}")
    if k_hashes < 1:
        raise ValueError(f"k_hashes must be >= 1; got {k_hashes}")
    if probe not in ("join", "bitset"):
        raise ValueError(f"probe must be 'join' or 'bitset'; got {probe}")

    def _pos(shingle, i: int):
        return _bloom_position(shingle, i, m_bits)

    def shingled(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col), F.explode(word_shingles(F.col(text_col), ngram)).alias("__s")
        )

    # test side: k salted positions per distinct shingle -> DISTINCT set bits
    te = shingled(test)
    set_bits = (
        te.select(F.explode(F.array(*[_pos(F.col("__s"), i) for i in range(k_hashes)])).alias("__p"))
        .distinct()
    )

    tr = shingled(train).select(
        id_col, *[_pos(F.col("__s"), i).alias(f"__p{i}") for i in range(k_hashes)]
    )

    if probe == "join":
        hit = F.lit(True)
        for i in range(k_hashes):
            flag = set_bits.select(
                F.col("__p").alias(f"__p{i}"), F.lit(True).alias(f"__in{i}")
            )
            tr = tr.join(F.broadcast(flag), f"__p{i}", "left")
            hit = hit & F.coalesce(F.col(f"__in{i}"), F.lit(False))
        probed = tr.withColumn("__hit", hit)
    else:
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        # pack the bitset DISTRIBUTED before collecting: groupBy(word) +
        # bit_or collapses up to 64 positions per collected row, so the
        # driver receives at most m_bits/64 longs (16 K at the 2^20
        # default) instead of one row per distinct position — a large
        # held-out set could otherwise stream hundreds of millions of
        # position rows through the driver
        bits = _words_to_bitset(_pack_positions_to_words(set_bits).collect(), m_bits)

        @pandas_udf("boolean")
        def _probe(ps: pd.Series) -> pd.Series:
            if len(ps) == 0:
                return pd.Series([], dtype=bool)
            mat = np.stack(ps.to_numpy())  # (batch, k) int64 positions
            return pd.Series(bits[mat].all(axis=1))

        probed = tr.withColumn(
            "__hit", _probe(F.array(*[F.col(f"__p{i}") for i in range(k_hashes)]))
        )

    n_pos = F.coalesce(F.sum(F.col("__hit").cast("long")), F.lit(0)).cast("long")
    return probed.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_ngrams"),
        n_pos.alias("n_bloom_positive"),
    ).select(
        id_col,
        "n_ngrams",
        "n_bloom_positive",
        F.round(F.col("n_bloom_positive") / F.col("n_ngrams"), 6).alias("positive_frac"),
        (F.col("n_bloom_positive") >= min_hits).alias("is_flagged"),
    )


def strip_frequent_chunks(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 20,
    max_doc_freq: int = 1,
    sep: str = " ",
) -> DataFrame:
    """Boilerplate removal by chunk document-frequency: split each document
    into fixed-width word chunks, drop EVERY occurrence of any chunk that
    appears in more than ``max_doc_freq`` distinct documents, and
    reassemble the survivors in order.

    This is the C4-style "remove any three-sentence span that occurs more
    than once in the corpus" rule, delimiter-free: where ``chunk_dedup``
    keeps the FIRST occurrence (dedup semantics), this keeps NONE once a
    chunk crosses the frequency threshold (boilerplate semantics) — the
    repeated navigation block should vanish from every page, including the
    first one crawled.

    Scale shape: chunking is the same map-side array pass as
    ``chunk_dedup``.  Document frequency is a two-level aggregate on the
    128-bit chunk digest — ``(digest, id)`` distinct then ``digest`` count
    — so intra-doc repeats don't inflate the frequency and hot boilerplate
    chunks spread over distinct digests.  The frequency table is filtered
    to the OVER-THRESHOLD digests before touching the corpus again, so the
    join is a LEFT ANTI against only the boilerplate set (tiny relative to
    the corpus — AQE broadcasts it), and chunk TEXT never crosses ANY
    shuffle: survivor selection flows as (id, chunk_idx, digest) rows only,
    the kept-index int lists join back per document, and ``clean_text``
    reassembles map-side from the rebuilt chunk array (same shape as
    ``chunk_dedup``).  Output: (id, n_chunks, n_kept, clean_text) —
    ``clean_text = ''`` when every chunk was boilerplate.

    Greenfield Spark work (no reference counterpart; extends the reference's
    exact-dedup semantics to sub-document boilerplate stripping).
    """
    if chunk_words < 1:
        raise ValueError(f"chunk_words must be >= 1; got {chunk_words}")
    if max_doc_freq < 1:
        raise ValueError(f"max_doc_freq must be >= 1; got {max_doc_freq}")
    w = chunk_words
    base = df.select(
        F.col(id_col),
        word_chunks(F.col(text_col), w, sep).alias("__chunks"),
    ).withColumn("n_chunks", F.size("__chunks").cast("long"))
    digests = base.select(
        id_col, F.posexplode("__chunks").alias("chunk_idx", "chunk")
    ).select(id_col, "chunk_idx", F.md5(F.col("chunk")).alias("__d"))
    boilerplate = (
        digests.select("__d", id_col)
        .distinct()
        .groupBy("__d")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("__d")
    )
    keep_lists = (
        digests.join(boilerplate, "__d", "left_anti")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("chunk_idx")).alias("__keep_idx"))
    )
    return base.join(keep_lists, id_col, "left").select(
        F.col(id_col),
        "n_chunks",
        F.coalesce(F.size("__keep_idx"), F.lit(0)).cast("long").alias("n_kept"),
        F.when(F.col("__keep_idx").isNull(), F.lit("")).otherwise(
            F.array_join(
                F.transform(
                    F.col("__keep_idx"),
                    lambda i: F.element_at(F.col("__chunks"), i + 1),
                ),
                sep,
            )
        ).alias("clean_text"),
    )


def duplicated_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    stride: int = 1,
    max_doc_freq: int = 1,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Per-document duplicated-SPAN profile — the any-alignment complement
    to ``chunk_dedup``/``strip_frequent_chunks``: overlapping
    ``span_tokens``-token windows every ``stride`` tokens are hashed, a
    span is "duplicated" when it occurs in more than ``max_doc_freq``
    distinct documents, and each document reports how much of it is
    cross-document repeated text:

    (id, n_spans, n_dup_spans, max_dup_run, approx_longest_dup_tokens)

    ``max_dup_run`` is the longest run of CONSECUTIVE duplicated span
    starts; ``approx_longest_dup_tokens = (max_dup_run-1)*stride +
    span_tokens`` bounds the longest duplicated substring — the quantity
    suffix-array dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better") computes exactly.  With ``stride=1``
    (the default and the d16 query's setting) detection is EXACT for any
    duplicated token span of length >= span_tokens at ANY alignment, and
    the token estimate equals the true span length; fan-out is one window
    per token — the same O(n_tokens) explode class as the MinHash shingle
    pass.  ``stride>1`` cuts fan-out s-fold but only detects duplicates
    whose document offsets are congruent mod stride (fixed chunking,
    d10/d15, is the extreme stride=w case that misses straddling
    duplicates entirely).

    Scale shape: span TEXT never leaves the map side — digests are md5'd
    in the same projection that builds them, the doc-frequency agg
    shuffles (digest, id) pairs with map-side combine, and the per-doc run
    statistics fold over a sorted int list (one aggregate over ≤
    spans-per-doc elements).  Fan-out ≈ n_tokens/stride per doc.

    Greenfield Spark work (no reference counterpart).
    """
    if span_tokens < 1:
        raise ValueError(f"span_tokens must be >= 1; got {span_tokens}")
    if stride < 1:
        raise ValueError(f"stride must be >= 1; got {stride}")
    w, s = span_tokens, stride
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - w, F.lit(0)), F.lit(s))
    base = df.select(
        F.col(id_col),
        F.transform(
            starts,
            lambda st: F.md5(F.array_join(F.slice(toks, st + 1, w), " ")),
        ).alias("__digs"),
    ).withColumn("n_spans", F.size("__digs").cast("long"))
    # materialize the digest arrays ONCE: the interpreted window build is
    # referenced by the explode branch, the generator's inferred
    # size()>0 filter, AND the final join — uncheckpointed it re-evaluates
    # ~4x (measured 3.6s -> 0.7s at sf0.1).  Checkpoint, not persist
    # (round-11 A/B): the consumers need the PLAN truncation too — a
    # persist keeps the digest-build lineage and re-optimizes it per
    # branch (persist+eager-count measured 2.2s vs 1.6s here).  Same
    # lineage-cut rule as pagerank; pass checkpoint_dir on clusters.
    # Chain-owned (round 12): the bare iter_checkpoint leaked one
    # ~10 MB RDD per call until JVM GC — the kept blocks now free at the
    # release point AFTER the caller's (same lifecycle as CC's final
    # checkpoint).
    chain = CheckpointChain(df.sparkSession, checkpoint_dir)
    base = chain.next(base)
    chain.defer_release(keep=base)
    spans = base.select(
        id_col, F.posexplode("__digs").alias("span_idx", "__d")
    )
    dup = (
        spans.select("__d", id_col)
        .distinct()
        .groupBy("__d")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("__d")
    )
    per_doc = (
        spans.join(dup, "__d", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("span_idx")).alias("__dups"))
    )
    run = F.aggregate(
        F.col("__dups"),
        F.struct(
            F.lit(0).alias("best"), F.lit(0).alias("cur"), F.lit(-2).alias("prev")
        ),
        lambda acc, x: F.struct(
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"] + 1, acc["cur"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
            F.when(x == acc["prev"] + 1, acc["cur"] + 1)
            .otherwise(F.lit(1))
            .alias("cur"),
            x.alias("prev"),
        ),
        lambda acc: acc["best"],
    )
    return base.join(per_doc, id_col, "left").select(
        F.col(id_col),
        "n_spans",
        F.coalesce(F.size("__dups"), F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce(run, F.lit(0)).cast("int").alias("max_dup_run"),
        F.when(F.coalesce(run, F.lit(0)) > 0, (F.coalesce(run, F.lit(0)) - 1) * s + w)
        .otherwise(F.lit(0))
        .cast("int")
        .alias("approx_longest_dup_tokens"),
    )


def prefix_filter_pairs(
    df: DataFrame,
    *,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    cache_intermediate: bool = True,
    max_candidates: int | None = 1_000_000_000,
    salt_hot: bool = True,
    num_salts: int = 16,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    Chaudhuri/Bayardo "all-pairs" lineage behind PPJoin): (id_a, id_b,
    jaccard) for every pair with shingle-Jaccard >= threshold, with NO
    false negatives — the guarantee LSH (minhash_lsh_pairs) trades away
    for speed, recovered here without the full posting self-join.

    The filter: order every doc's shingles by GLOBAL document frequency
    (rarest first — ties by hash), keep only the first
    ``sz - ceil(threshold*sz) + 1`` as its prefix, and generate candidates
    from prefix-prefix collisions only.  Why that is exact: J >= t forces
    an overlap o >= t*|d| against either doc (via o >= t(|a|+|b|)/(1+t)),
    and the smallest common shingle in the global order can be preceded by
    at most |d| - o non-shared shingles in d, so it sits inside both
    prefixes.  Rare-first ordering makes those prefixes the LOWEST-
    document-frequency shingles each doc has — the candidate join runs on
    the least skewed keys in the corpus, the opposite end from the hot-key
    blowup _filter_hot_shingles exists to cap.

    Scale shape: doc-freq agg + one ranking window on the doc partitioning
    + prefix-prefix equi-join (keys are rare by construction) + the
    d4-style candidate-only verification (_jaccard_for_pairs).  At
    threshold 0.5 the prefix is half the posting volume; pruning improves
    as the threshold rises, exactly when exactness matters most.

    ``max_candidates`` is the pre-flight volume budget: Σ df·(df-1)/2 over
    the full postings (an upper bound on prefix-prefix collisions, ~4× over
    at threshold 0.5) is computed before the join and a
    CandidateVolumeError points to d6's LSH path when the corpus blows it
    — SCALING.md measured 58× candidate growth at 10× data on low-entropy
    text, a property of the DATA this exactness contract cannot engineer
    away.  ``None`` disables the guard.

    ``salt_hot``: when the guard's df stats show one shingle key would do
    >4× the average reducer's pair work, the collision join is salted on
    just those keys (``_salt_collision_join_sides``) — same output set,
    the quadratic key split ``num_salts`` ways.  The decision reuses the
    guard's single collect; no extra action.

    Every candidate-side bound subtracts a 1e-9 slack before ``ceil``:
    double rounding in ``t·sz`` / ``t/(1+t)·S`` can land one ulp above
    the exact rational, which would make the bound one too strict and
    silently drop a pair whose Jaccard equals the threshold exactly
    (caught by tests/test_verify_fuzz.py).  Slack only ever ADMITS a
    borderline candidate; the exact verify re-scores it, so the output
    stays exact.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1]; got {threshold}")
    postings = shingle_posting_list(df, text_col, id_col, n=ngram)
    if cache_intermediate:
        # the posting plan (tokenize + explode + hash) feeds six consumers
        # (sizes, doc-freq, prefix build, both verify sides, verify sizes);
        # uncached it re-executes per consumer — this persist plus the
        # PPJoin candidate filters below took the d17 query from 9.4s to
        # 5.6s at sf0.1
        postings = scoped_persist(postings)
    sizes = postings.groupBy(id_col).agg(F.count("*").alias("__sz"))
    dfreq = postings.groupBy("shingle_hash").agg(F.count("*").alias("__df"))
    if cache_intermediate:
        # the guard collect below materializes dfreq anyway; persisting it
        # lets the prefix-rank join read the computed agg instead of
        # re-shuffling the postings a second time
        dfreq = scoped_persist(dfreq)
    w = Window.partitionBy(id_col).orderBy("__df", "shingle_hash")
    prefix = (
        postings.join(dfreq, "shingle_hash")
        .withColumn("__r", F.row_number().over(w))
        .join(sizes, id_col)
        .filter(
            F.col("__r")
            <= F.col("__sz")
            - F.ceil(F.lit(threshold) * F.col("__sz") - F.lit(1e-9))
            + 1
        )
        .select(id_col, "shingle_hash", "__r", "__sz")
    )
    # guard on the FULL postings' df (one cheap agg over the persisted
    # dfreq), not the prefix: the prefix is a join+window away and
    # measuring it would cost more than the guard saves (measured +1.1s at
    # sf0.1).  Postings bound the prefix collisions from above (prefix ⊆
    # postings, ~4x over at threshold 0.5) — fine for an
    # order-of-magnitude budget.
    if max_candidates is not None or salt_hot:
        try:
            est, max_df = _guard_candidate_volume(
                dfreq,
                max_candidates,
                caller="prefix_filter_pairs (d17)",
                remedy=(
                    "Use the banded LSH path (minhash_lsh_pairs, d6 — "
                    "measured 4.3x at 10x data) for approximate pairs, or "
                    "pass max_candidates=None to accept the cost "
                    "explicitly. (This operator deliberately has no "
                    "doc-frequency cap: dropping hot shingles would break "
                    "its no-false-negatives contract.)"
                ),
            )
        except Exception:
            if cache_intermediate:  # don't leak caches on the error path
                postings.unpersist()
                dfreq.unpersist()
            raise
    else:
        est, max_df = 0, 0
    # PPJoin's two exactness-preserving candidate filters, applied INSIDE
    # the collision join (3.3x fewer candidates reach verification at
    # threshold 0.5 on the sf0.1 corpus):
    # - length: J >= t forces t*|a| <= |b| <= |a|/t
    # - positional: overlap needs o >= ceil(t/(1+t)*(|a|+|b|)), and from a
    #   common shingle at ranks (ra, rb) at most min(|a|-ra, |b|-rb)+1
    #   shingles can still be shared; the pair's FIRST common shingle has
    #   no shared predecessors, so its bound is tight — a qualifying pair
    #   always survives via that collision (OR over collisions = exact)
    pa, pb = prefix.alias("a"), prefix.alias("b")
    join_keys = (F.col("a.shingle_hash") == F.col("b.shingle_hash"))
    if salt_hot and max_df > 1:
        # one reducer's fair share is est/P candidate pairs; a key whose
        # own df·(df-1)/2 exceeds 4x that will straggle the stage (the
        # shape skew_bench measured at 13.4x on joins) — split it
        shuffle_p = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        worst_key_pairs = max_df * (max_df - 1) / 2
        if worst_key_pairs > 4 * max(est, 1) / max(shuffle_p, 1):
            # hot = keys doing >4x the average reducer's work
            hot_df_cut = max(
                2, int((8 * max(est, 1) / max(shuffle_p, 1)) ** 0.5)
            )
            sa, sb = _salt_collision_join_sides(
                prefix,
                prefix,
                dfreq,
                id_col=id_col,
                hot_df=hot_df_cut,
                num_salts=num_salts,
            )
            pa, pb = sa.alias("a"), sb.alias("b")
            join_keys = join_keys & (F.col("a.__salt") == F.col("b.__salt"))
    # the pair-dedup groupBy that replaced .distinct() doubles as PPJoin+'s
    # suffix filter, aggregated over ALL of the pair's prefix collisions:
    # prefixes are downward-closed in the global (df, hash) shingle order,
    # so any common shingle NOT among the cp prefix-prefix collisions must
    # rank globally after the last such collision — in a it sits at one of
    # the (|a| − ra_max) positions past that collision's rank, in b past
    # rb_max (ra_max and rb_max come from the SAME collision: within a doc,
    # rank is monotone in the global order, so the max-order collision
    # maximizes both).  Hence overlap ≤ cp + min(|a| − ra_max, |b| − rb_max);
    # pairs where that bound misses ceil(t/(1+t)·(|a|+|b|)) can never reach
    # the threshold and are dropped BEFORE verification touches them — no
    # false negatives (the bound only ever overestimates).  On the uniform
    # synthetic corpus it prunes ~0 (measured at sf0.1: the per-collision
    # positional filter already caught everything) and the agg costs what
    # the .distinct() it replaces cost; its value is ADVERSARIAL corpora —
    # templated text where collisions are many but scattered, the case
    # that blows up the verify stage.  Salting keeps cp exact: every
    # qualifying collision meets exactly once (_salt_collision_join_sides).
    cand = (
        pa
        .join(
            pb,
            join_keys
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(
            (
                F.col("b.__sz")
                >= F.ceil(F.lit(threshold) * F.col("a.__sz") - F.lit(1e-9))
            )
            & (
                F.col("a.__sz")
                >= F.ceil(F.lit(threshold) * F.col("b.__sz") - F.lit(1e-9))
            )
        )
        .filter(
            F.least(
                F.col("a.__sz") - F.col("a.__r"),
                F.col("b.__sz") - F.col("b.__r"),
            )
            + 1
            >= F.ceil(
                F.lit(threshold / (1.0 + threshold))
                * (F.col("a.__sz") + F.col("b.__sz"))
                - F.lit(1e-9)
            )
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(
            F.count("*").alias("__cp"),
            F.max("a.__r").alias("__ra"),
            F.max("b.__r").alias("__rb"),
            F.max("a.__sz").alias("__sza"),
            F.max("b.__sz").alias("__szb"),
        )
        .filter(
            F.col("__cp")
            + F.least(
                F.col("__sza") - F.col("__ra"), F.col("__szb") - F.col("__rb")
            )
            >= F.ceil(
                F.lit(threshold / (1.0 + threshold))
                * (F.col("__sza") + F.col("__szb"))
                - F.lit(1e-9)
            )
        )
        .select("id_a", "id_b")
    )
    # array-intersect verify (not the explode-based _jaccard_for_pairs):
    # an exact threshold join's candidates touch most docs, so the
    # candidate-doc narrowing buys nothing (measured 438s vs 352s at sf1,
    # SCALING_DATA_r09.json) and the explode verify's |pairs|·|shingles|
    # shuffle was the residual sf1 heavyweight (359s isolated, round 9)
    return _jaccard_for_pairs_arrays(
        cand, postings, id_col, threshold, cache_intermediate=cache_intermediate
    ).orderBy("id_a", "id_b")


# containment_pairs plan cutover: below this guard-estimated collision
# volume the direct self-join + count wins (no ranking window, one
# shuffle); above it the contained-side prefix + array verify wins.
# Measured bracket: est 2.5e6 (sf0.1) direct 1.6s vs prefix 4.2s;
# est ~2.5e8 (sf1) direct 48s vs prefix 33s.
_CONTAINMENT_PREFIX_CUTOVER = 30_000_000


def containment_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
    cache_intermediate: bool = True,
    max_candidates: int | None = 1_000_000_000,
    salt_hot: bool = True,
    num_salts: int = 16,
) -> DataFrame:
    """DIRECTIONAL near-dup containment: (contained_id, container_id,
    containment) pairs where containment = |A∩B| / |A| >= threshold over
    word-``n``-gram shingle sets.

    Symmetric Jaccard misses the "short doc embedded in a long one" case —
    the union is dominated by the long doc, so the score collapses even at
    100% overlap.  Containment normalizes by the CONTAINED side only,
    which is the quote/excerpt/boilerplate-inclusion detector a corpus
    pipeline actually wants next to d4's symmetric scorer.

    Scale shape is d4's inverted-index join: candidates only from shared
    shingle hashes (8-byte keys), counts stay integers until one rounded
    division, ``max_doc_freq`` caps posting-list skew.  The self-join keeps
    BOTH orientations of each colliding pair (a<>b, not a<b) because the
    score is directional — cost is 2× d4's candidate count, not a new
    asymptotic term.

    ``max_candidates`` is the d17-style pre-flight budget (see
    prefix_filter_pairs): Σ df·(df-1) over the capped postings — both
    orientations — raises CandidateVolumeError with the d6/max_doc_freq
    escape hatches instead of silently running a quadratic join.  The
    guard, the ``max_doc_freq`` hot-shingle cut, and the hot-key salting
    decision all share ONE df aggregation (persisted), not three — the
    guard's marginal cost is the collect of an agg the operator computes
    anyway.

    ``salt_hot``: as in prefix_filter_pairs — when the df stats show one
    shingle key would do >4x the average reducer's pair work, the posting
    self-join is salted on just those keys, hash-identical output.
    """
    # zero-overlap candidates are structurally excluded only when the
    # score filter is strictly positive (ADVICE r10)
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1]; got {threshold}")
    raw = shingle_posting_list(df, text_col, id_col, n)
    if cache_intermediate:
        raw = scoped_persist(raw)
    dfreq = raw.groupBy("shingle_hash").agg(F.count("*").alias("__df"))
    need_stats = max_candidates is not None or salt_hot
    if cache_intermediate and (need_stats or max_doc_freq is not None):
        dfreq = scoped_persist(dfreq)
    # the guard estimates on the CAPPED frequencies — the shingles
    # max_doc_freq removes generate no candidates, so counting them would
    # overstate the volume and mis-fire the budget
    kept = (
        dfreq
        if max_doc_freq is None
        else dfreq.filter(F.col("__df") <= max_doc_freq)
    )
    if need_stats:
        try:
            est, max_df = _guard_candidate_volume(
                kept,
                max_candidates,
                caller="containment_pairs (d18)",
                pairs_per_collision=2,
                remedy=(
                    "Use the banded LSH path (minhash_lsh_pairs, d6 — "
                    "measured 4.3x at 10x data) for approximate pairs, "
                    "tighten max_doc_freq to cap hot shingles, or pass "
                    "max_candidates=None to accept the cost explicitly."
                ),
            )
        except Exception:
            if cache_intermediate:  # don't leak caches on the error path
                raw.unpersist()
                dfreq.unpersist()
            raise
    else:
        est, max_df = 0, 0
    if max_doc_freq is None:
        postings = raw
    else:
        hot_cut = (
            dfreq.filter(F.col("__df") > max_doc_freq).select("shingle_hash")
        )
        postings = raw.join(
            F.broadcast(hot_cut), on="shingle_hash", how="left_anti"
        )
    sizes = postings.groupBy(id_col).agg(F.count("*").alias("set_size"))
    # Two physical plans, picked by the guard's own collision estimate
    # (no extra action — est was collected for the budget check):
    #
    # - DIRECT (small est): full posting self-join, n_common counted in
    #   the collision groupBy.  One shuffle, no ranking window — cheapest
    #   when Σ df² is modest (measured 1.6s vs 4.2s at sf0.1, est 2.5M).
    # - PREFIX + ARRAY VERIFY (large est): contained-side prefix filter —
    #   containment >= t needs o >= ceil(t·|A|) common shingles, and if
    #   none sat in A's first |A| − ceil(t·|A|) + 1 positions of ANY fixed
    #   global shingle order, all o would have to fit in the remaining
    #   ceil(t·|A|) − 1: contradiction.  Candidates = A-prefix × B-FULL
    #   collisions (B unconstrained: a container can be any size), ~(1−t)
    #   of the self-join volume and on the LOW-df end of the key space;
    #   then the d17 array-intersect verify (one row per pair).  Measured
    #   48s -> 33s at sf1 (est ~2.5e8).  Same 1e-9 ceil slack as
    #   prefix_filter_pairs (a one-ulp float error must not drop a
    #   boundary-exact pair; exactness fuzz covers it).
    #
    # When the caller disables stats (max_candidates=None, salt_hot=False)
    # est is 0 and the direct plan runs — the legacy shape.
    use_prefix = est > _CONTAINMENT_PREFIX_CUTOVER
    if use_prefix:
        w = Window.partitionBy(id_col).orderBy("__df", "shingle_hash")
        left = (
            postings.join(dfreq, "shingle_hash")
            .withColumn("__r", F.row_number().over(w))
            .join(sizes, id_col)
            .filter(
                F.col("__r")
                <= F.col("set_size")
                - F.ceil(F.lit(threshold) * F.col("set_size") - F.lit(1e-9))
                + 1
            )
            .select(id_col, "shingle_hash")
        )
    else:
        left = postings
    a = left.alias("a")
    b = postings.alias("b")
    join_on: list | F.Column = ["shingle_hash"]
    if salt_hot and max_df > 1:
        shuffle_p = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        # directional: each collision yields 2 ordered pairs, est already
        # counts both, and a key's own work is df·(df-1)
        worst_key_pairs = max_df * (max_df - 1)
        if worst_key_pairs > 4 * max(est, 1) / max(shuffle_p, 1):
            hot_df_cut = max(
                2, int((4 * max(est, 1) / max(shuffle_p, 1)) ** 0.5)
            )
            sa, sb = _salt_collision_join_sides(
                left,
                postings,
                kept,
                id_col=id_col,
                hot_df=hot_df_cut,
                num_salts=num_salts,
            )
            a, b = sa.alias("a"), sb.alias("b")
            join_on = (
                (F.col("a.shingle_hash") == F.col("b.shingle_hash"))
                & (F.col("a.__salt") == F.col("b.__salt"))
            )
    if not use_prefix:
        common = (
            a.join(b, on=join_on)
            .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
            .groupBy(
                F.col(f"a.{id_col}").alias("contained_id"),
                F.col(f"b.{id_col}").alias("container_id"),
            )
            .agg(F.count("*").alias("n_common"))
        )
        return (
            common.join(
                sizes.withColumnRenamed(id_col, "contained_id"), "contained_id"
            )
            .withColumn(
                "containment", F.round(F.col("n_common") / F.col("set_size"), 6)
            )
            .filter(F.col("containment") >= threshold)
            .select("contained_id", "container_id", "containment")
        )
    cand = (
        a.join(b, on=join_on)
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("contained_id"),
            F.col(f"b.{id_col}").alias("container_id"),
        )
        .distinct()
    )
    sets_ = postings.groupBy(id_col).agg(
        F.collect_list("shingle_hash").alias("__shs")
    )
    if cache_intermediate:
        sets_ = scoped_persist(sets_)
    pa = sets_.select(
        F.col(id_col).alias("contained_id"), F.col("__shs").alias("__sa")
    )
    pb = sets_.select(
        F.col(id_col).alias("container_id"), F.col("__shs").alias("__sb")
    )
    return (
        cand.join(pa, "contained_id")
        .join(pb, "container_id")
        .withColumn(
            "n_common", F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
        )
        .withColumn(
            "containment", F.round(F.col("n_common") / F.size("__sa"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("contained_id", "container_id", "containment")
    )
