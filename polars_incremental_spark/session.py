"""SparkSession factory with scale-oriented defaults.

AQE on (runtime shuffle coalescing + skew-join splitting), Arrow on (fast
Pandas-UDF / toPandas transfer), UTC session timezone, shuffle partitions
sized to the configured parallelism instead of the 200 default.  On a real
cluster these same settings hold; only master/memory change.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "polars_incremental_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The live session if one is running, else a new one with the defaults
    below.  A live session is returned untouched: ``getOrCreate`` on a
    configured builder would overwrite that session's runtime conf (e.g.
    reset its ``spark.sql.shuffle.partitions``) under whoever created it,
    so the arguments here apply only when this call starts the session."""
    if SparkContext._active_spark_context is not None:
        return SparkSession.builder.getOrCreate()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # SPARK_GRAFT_MASTER lets the whole suite run under a different master
    # without touching call sites — e.g. "local-cluster[4,8,4096]" spawns
    # REAL executor JVMs with network shuffle and full serialization, the
    # one execution dimension plain local[] mode cannot exercise
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor (default 1m) is a guard against
        # micro-partition scheduling overhead, but it is byte-based and
        # blind to join-output CPU: this engine's candidate-verify joins
        # (d17/d18 prefix-filter collisions, array_intersect scoring) are
        # CPU-dense on byte-light rows, and the 1m floor collapsed them to
        # 2-4 post-shuffle partitions — d17's verify ran 4 tasks × ~1.2s
        # while 28 cores idled and the 8-vs-32-core suite ratio was 0.85
        # (round-12 PERF).  128k keeps those stages at ~defaultParallelism
        # (parallelismFirst still targets total/parallelism; the floor only
        # binds when shuffle bytes per core < 128k, i.e. never at scale —
        # at 100 TB partitions are GBs and this setting is inert).
        # Measured at sf0.1: d17 3.8-4.1s -> 2.6-3.0s, d18 1.3 -> 1.1s
        # warm, suite-neutral elsewhere.  Env-tunable for A/Bs.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "128k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate puts a size(arr)>0 filter UNDER every
        # explode; for computed arrays (word_shingles and friends —
        # interpreted higher-order functions with no common-subexpression
        # elimination) that re-evaluates the whole array build per row, a
        # pure loss on text corpora where arrays are never empty.  A
        # per-row compute fix, scale-independent (round 12, guide §1.2:
        # measured d6 JVM CPU 30.0s -> 23.5s at sf0.1; the rule's filter
        # is an optimization only, so excluding it cannot change results).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.parquet carries ns-precision timestamps; Spark reads
        # them as long nanos under this flag (tables.load_table converts back)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # bucketed saveAsTable target; keep catalog artifacts out of the cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    # Delta Lake is optional: this container has no delta-spark jar and no
    # network, so Delta-addressed features run through the parquet fallback
    # (sinks/delta.py).  Real deployments set SPARK_GRAFT_DELTA_PACKAGE
    # (e.g. "io.delta:delta-spark_2.13:4.0.0") to get native MERGE / CDF /
    # VACUUM / OPTIMIZE through the same APIs.
    if master.startswith("local-cluster"):
        # executor JVMs are separate processes: their python workers do not
        # inherit the driver's sys.path, so the package root must travel in
        # the executor environment; executor memory must fit inside the
        # per-worker allocation in the master string
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        existing = os.environ.get("PYTHONPATH", "")
        pypath = f"{repo_root}:{existing}" if existing else repo_root
        builder = builder.config("spark.executorEnv.PYTHONPATH", pypath).config(
            "spark.executor.memory",
            os.environ.get("SPARK_GRAFT_EXECUTOR_MEMORY", "3g"),
        )
    delta_pkg = os.environ.get("SPARK_GRAFT_DELTA_PACKAGE")
    if delta_pkg:
        builder = (
            builder.config("spark.jars.packages", delta_pkg)
            .config(
                "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
            )
            .config(
                "spark.sql.catalog.spark_catalog",
                "org.apache.spark.sql.delta.catalog.DeltaCatalog",
            )
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
