"""Loaders for the driver's TPC-H-ish parquet tables (see TESTDATA.md).

All queries in the engine take ``(spark, sf_dir)`` and pull tables through
``load``; at cluster scale the same call reads a partitioned table from object
storage — Catalyst pushes filters/pruning into the parquet scan either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .session import tune_for_session

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension-sized tables: always broadcast-joinable against facts.
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table. UTC session TZ is pinned so timestamp columns
    collect identically regardless of host timezone.

    The ``events`` table stores TIMESTAMP(NANOS), which different Spark
    versions surface differently: as a rejected type (older vectorized
    reader — ``legacy.parquet.nanosAsLong`` reads it as bigint we rebuild
    from), or as micro-truncated TIMESTAMP_NTZ (4.1+). Both are normalized
    to a session-TZ TIMESTAMP here so every downstream query sees ONE type
    (unix_micros and friends reject NTZ) with the same micro-truncation
    DuckDB applies; with the UTC pin the wall-clock values are identical
    either way.
    """
    tune_for_session(spark)
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Per-core crossover for ``spread(min_bytes_per_core=...)`` call sites
# whose expensive derivation is computed ONCE (localCheckpoint-backed
# corpus paths, single-aggregate gates). The repartition's fixed cost is
# proportional to the TASK COUNT it schedules through every downstream
# stage, while the serial one-core pass it parallelizes is proportional
# to the BYTES — so the break-even input size scales with parallelism
# and the scale-free floor is bytes PER CORE. Both branches are MEASURED
# (r12, ABBA-interleaved): at local[32], 0.59 MB (18 KiB/core — under
# the floor) runs faster bare — dedup_exact 0.81→0.35,
# contamination_check 1.44→1.04, corpus_funnel 6.56→5.34, dedup_clusters
# 3.48→2.86, dedup_minhash_lsh 2.64→2.33 — while ~3 MB (94 KiB/core,
# over it) inverts and spread wins (minhash 6.65→3.90, funnel 13.6→10.8,
# clusters 5.8→5.1, contamination 3.4→2.7); at local[8] the same 0.59 MB
# is 74 KiB/core (over the floor) and spread indeed measures better on
# the signature-heavy entries (minhash 2.06 vs 2.41, clusters 2.92 vs
# 3.07; funnel/exact mildly prefer bare — the per-entry 8-core winners
# contradict at one size, so the floor follows the heavier-cost side).
# 64 KiB/core sits inside the 32-core-measured (18, 94) KiB/core window,
# biased low because a wrongly-bare scan degrades linearly with bytes
# while a wrongly-spread one costs a bounded fixed shuffle.
SPREAD_TEXT_MIN_BYTES_PER_CORE = 64 * 1024


def plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for ``df``'s optimized plan —
    driver-side metadata only (file bytes for parquet scans), no job.
    The single reader of this private stats path: if a Spark upgrade
    moves it, this raises (and tests/test_functions.py's canary fails)
    rather than silently changing any size-based decision."""
    return int(str(df._jdf.queryExecution()
                   .optimizedPlan().stats().sizeInBytes()))


def spread(df: DataFrame, spark: SparkSession,
           min_bytes_per_core: int = 0) -> DataFrame:
    """Ensure at least ``defaultParallelism`` partitions before CPU-heavy
    per-row expressions (shingling, n-gram construction, signatures).

    A small local parquet file scans as ONE partition, serializing all
    downstream expression work onto one core; a round-robin repartition
    costs one cheap shuffle of the raw rows and unlocks every core. At
    cluster scale this is a NO-OP: a 100 TB table scans as tens of
    thousands of partitions, so the condition never triggers and no
    shuffle is added.

    ``min_bytes_per_core``: a non-zero floor skips the repartition
    entirely while the input's size estimate (:func:`plan_bytes`) stays
    under ``min_bytes_per_core × defaultParallelism`` — the form for
    call sites whose downstream work runs once (checkpoint-backed
    paths): under the floor the shuffle's task-count-proportional fixed
    cost exceeds the byte-proportional serial pass it parallelizes
    (measured crossover: ``SPREAD_TEXT_MIN_BYTES_PER_CORE``). The
    default 0 reads no estimate — right for sites whose per-row work is
    extreme at ANY size (blocked Levenshtein, un-checkpointed text
    analytics). Skipping also avoids the ~60 ms ``df.rdd`` partition
    probe this function otherwise pays per plan build. On a very large
    cluster the floor grows with the core count, but a table that small
    needs no cluster-wide parallelism, and genuinely large tables scan
    wide regardless."""
    target = spark.sparkContext.defaultParallelism
    if min_bytes_per_core and plan_bytes(df) < min_bytes_per_core * target:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_jdbc(spark: SparkSession, url: str, table: str,
              partition_column: str | None = None,
              num_partitions: int = 32,
              lower_bound: int | None = None,
              upper_bound: int | None = None,
              **properties: str) -> DataFrame:
    """JDBC scan of a legacy warehouse table (the reconciliation source in
    the reference, `migration_validation/reconciliation.py:189`).

    Without ``partition_column`` the whole table arrives through ONE
    connection — fine for a dim, fatal for a fact. For anything large, pass
    a numeric/date column plus bounds so Spark opens ``num_partitions``
    parallel range-partitioned cursors.
    """
    reader = (spark.read.format("jdbc")
              .option("url", url).option("dbtable", table))
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            # str(None) would reach the JDBC source as the literal "None"
            # and die in a JVM NumberFormatException — fail clearly here
            raise ValueError(
                "partition_column requires lower_bound and upper_bound")
        reader = (reader
                  .option("partitionColumn", partition_column)
                  .option("numPartitions", str(num_partitions))
                  .option("lowerBound", str(lower_bound))
                  .option("upperBound", str(upper_bound)))
    for k, v in properties.items():
        reader = reader.option(k, v)
    return reader.load()


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLES) -> None:
    """Register the driver tables as temp views for the SQL entry points."""
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
