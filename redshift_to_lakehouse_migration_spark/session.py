"""SparkSession construction with scale-aware defaults.

The engine runs on ``local[N]`` in tests but every default here is chosen to
survive a 1000-executor cluster: AQE on (runtime re-plan, skew-join split,
partition coalescing), broadcast threshold generous enough to broadcast all
dimension tables, UTC session timezone so timestamp semantics are
deployment-independent, Arrow enabled for the (rare) pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    # InferFiltersFromGenerate clones the generator's child expression into
    # scan-stage filter conjuncts (size(expr)>0 AND isnotnull(expr)); with
    # expensive array builders (n-gram/shingle transform+array_distinct)
    # that evaluates the whole array per row a second time before the
    # explode — measured 3x slowdown on round-1 gram/token query shapes.
    # Re-measured in r5 on the current shapes (shingle builders now emit
    # non-empty arrays via greatest(), so the cloned filter folds away):
    # toggling the rule is within noise at sf0.5. Exclusion retained — it
    # is free, and it keeps the expensive-generator hazard from silently
    # returning with a future query whose array builder is empty-able.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # The 1 GiB default is sized for a cluster where a driver-sized
    # collect is a bug; here the CORRECTNESS harness legitimately
    # collects full query results to hash them against the DuckDB twin,
    # and at the sf4 scale point a 24M-row staging result crosses 1 GiB
    # of serialized task results — the job aborts and the fallout OOMs
    # the session (measured: the r7 sf4 replica run died exactly there).
    # 4 GiB keeps the guard (a runaway collect still dies loudly) while
    # letting the gate run at every generated scale point.
    "spark.driver.maxResultSize": "4g",
    "spark.ui.enabled": "false",
    # Spark 4.1 reads the `events` TIMESTAMP(NANOS) column as
    # TIMESTAMP_NTZ whatever this is set to; older readers reject the
    # type unless it is read as bigint. tables.load normalizes both
    # forms, so the conf is one engine constant, set once per session.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Generated-class cache (default 100 entries). One pass over the
    # 98-query registry compiles 1261 distinct classes at sf0.01, plus
    # 40-90 per pass whose source differs every run; at 100 the cache
    # thrashes and every pass re-compiles and loads ~1770 classes again.
    # 4096 is about 3x that traffic. STATIC conf: it takes effect only
    # when get_spark launches the JVM; tune_for_session cannot set it.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def get_spark(app_name: str = "redshift_to_lakehouse_migration_spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``spark.driver.memory`` (override: $SPARK_GRAFT_DRIVER_MEM) is set
    HERE, not in DEFAULT_CONF, because it only takes effect when this call
    launches the JVM (the builder conf is forwarded to the spark-submit
    command line); on an already-running gateway it is a no-op. Spark's
    1g default is sized for a cluster driver that only coordinates — in
    local[N] mode the "driver" heap is ALSO all N executors' working
    memory, where 1g falls over well before the data does (measured: a
    full-registry run at 5x the driver's largest test scale kills the
    JVM mid-suite at 1g and completes with headroom at 8g)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    conf = {"spark.driver.memory": driver_mem,
            **DEFAULT_CONF, **(extra_conf or {})}
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # A get_spark-built session is fully tuned BY CONSTRUCTION: the builder
    # applied every DEFAULT_CONF key, and extra_conf entries are deliberate
    # caller overrides (a test running shuffle.partitions=4 for speed).
    # Mark it so the first tables.load's tune_for_session doesn't clobber
    # those overrides back to DEFAULT_CONF mid-process — the r10 conf-
    # pollution guard caught exactly that: the test session's 4 shuffle
    # partitions silently became 32 on the first load() of the suite.
    spark.conf.set("spark.graft.sessionTuned", "true")
    return spark


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-built session.

    The correctness driver hands us its own SparkSession; timestamp-bearing
    queries depend on UTC rendering, so we pin what can be pinned at runtime.

    A caller running a deliberate conf axis (the replica's ``--conf``
    invariance sweeps: AQE off, broadcast off, non-UTC TZ) lists those
    keys in ``spark.graft.confPinned`` (comma-joined) and this function
    leaves them alone — without that contract the first ``tables.load``
    would silently revert the axis back to DEFAULT_CONF and the sweep
    would certify nothing.
    """
    pinned = {k for k in
              (spark.conf.get("spark.graft.confPinned", None) or "").split(",")
              if k}
    for k in ("spark.sql.session.timeZone",):
        if k not in pinned:
            spark.conf.set(k, DEFAULT_CONF[k])
    # The remaining confs apply ONCE per session: tune_for_session runs on
    # every tables.load call, and re-pinning would silently clobber a
    # caller's own spark.conf.set between queries (a test disabling
    # auto-broadcast to assert a bucketed join, a user raising shuffle
    # partitions for one heavy query). TZ above is the exception — an
    # overridden session TZ breaks oracle parity, so it stays pinned.
    if spark.conf.get("spark.graft.sessionTuned", None) == "true":
        return spark
    spark.conf.set("spark.graft.sessionTuned", "true")
    for k in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.optimizer.excludedRules",
        # perf confs are also runtime-settable and matter on the driver's
        # plain session: Spark's 200-partition shuffle default and 10MB
        # broadcast threshold roughly double small-SF query wall time,
        # and the driver's sample budget is timeout-bounded — leaving
        # them unpinned costs sample rows, not just seconds
        "spark.sql.shuffle.partitions",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
    ):
        if k in pinned:
            continue
        try:
            spark.conf.set(k, DEFAULT_CONF[k])
        except Exception:
            pass  # static conf on some builds; defaults are already sane
    return spark
