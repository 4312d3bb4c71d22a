"""Unit tests for the scalar-function library, in the reference's style:
tiny dirty fixtures (padded strings, empty-string dates, NULL keys) and
assertions on each normalizer (`tests/test_silver_transforms.py:14-88`)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from redshift_to_lakehouse_migration_spark.functions import (
    calendar_columns,
    dsum,
    empty_to_null,
    full_name,
    lookup_case,
    norm_str,
    sum_if,
    surrogate_key,
    tier_case,
)


def test_norm_str_and_empty_to_null(spark):
    df = spark.createDataFrame(
        [(" active ",), ("",), (None,), ("ho5",)], ["v"])
    out = df.select(
        norm_str("v").alias("n"),
        empty_to_null("v").alias("e"),
    ).collect()
    assert [r.n for r in out] == ["ACTIVE", "", None, "HO5"]
    assert [r.e for r in out] == [" active ", None, None, "ho5"]


def test_full_name_skips_nulls(spark):
    df = spark.createDataFrame([(" John ", " Smith "), ("Ann", None)],
                               ["f", "l"])
    out = df.select(full_name("f", "l").alias("n")).collect()
    assert out[0].n == "John Smith"
    assert out[1].n == "Ann"  # concat_ws skips NULL (documented delta)


def test_surrogate_key_null_sentinel(spark):
    df = spark.createDataFrame([("a", None)], "x string, y string")
    got = df.select(surrogate_key("x", "y").alias("sk")).collect()[0].sk
    import hashlib
    assert got == hashlib.md5(b"a|_null_").hexdigest()


def test_tier_and_lookup_case(spark):
    df = spark.createDataFrame([("FRAME",), ("STEEL",), ("???",)], ["c"])
    tiers = [(("FRAME", "WOOD"), "HIGH"), (("STEEL", "CONCRETE"), "LOW")]
    out = df.select(tier_case("c", tiers).alias("t"),
                    lookup_case("c", {"FRAME": "F", "STEEL": "S"},
                                "UNK").alias("l")).collect()
    assert [r.t for r in out] == ["HIGH", "LOW", "UNKNOWN"]
    assert [r.l for r in out] == ["F", "S", "UNK"]


def test_dsum_exact_and_sum_if(spark):
    df = spark.createDataFrame(
        [("A", 0.1), ("A", 0.2), ("B", 0.3)], ["k", "v"])
    out = df.groupBy("k").agg(
        dsum("v").alias("s"),
        sum_if(F.col("v") > 0.15, "v").alias("c"),
    ).orderBy("k").collect()
    assert out[0].s == 0.3 and out[0].c == 0.2   # exact decimal, not 0.30000000000000004
    assert out[1].s == 0.3 and out[1].c == 0.3


def test_calendar_columns(spark):
    df = spark.createDataFrame([("2024-07-06",)], ["d"]) \
        .select(F.col("d").cast("date").alias("d"))
    cols = calendar_columns("d")
    row = df.select(*[c.alias(n) for n, c in cols.items()]).collect()[0]
    assert row.year == 2024 and row.quarter == 3 and row.month == 7
    assert row.day_of_week == 7 and row.is_weekend  # Saturday
    assert row.is_hurricane_season and not row.is_winter_season
    assert row.month_name == "July"


def test_spread_parallelizes_small_scans_only(spark):
    """spread(): single-partition inputs fan out to defaultParallelism;
    inputs already at/above it pass through unchanged (the cluster-scale
    no-op contract from SCALE.md)."""
    from redshift_to_lakehouse_migration_spark.tables import (
        plan_bytes, spread)
    target = spark.sparkContext.defaultParallelism
    small = spark.range(100).coalesce(1)
    assert small.rdd.getNumPartitions() == 1
    assert spread(small, spark).rdd.getNumPartitions() == target
    big = spark.range(1000).repartition(target + 4)
    out = spread(big, spark)
    assert out.rdd.getNumPartitions() == target + 4
    assert out is big  # no extra shuffle inserted
    # gated mode: an input whose estimate is under the floor stays bare
    floor = plan_bytes(small) + 1
    assert spread(small, spark, min_bytes_per_core=floor) is small
    # ... while the default floor (0) still fans a 1-partition scan out
    assert spread(small, spark, min_bytes_per_core=0) \
        .rdd.getNumPartitions() == target


def test_plan_bytes_reads_parquet_file_size(spark, sf_dir):
    """Canary for the private Catalyst stats path every size-based choice
    reads: a Spark upgrade that moves it must fail here, not silently
    change broadcast/pin/spread decisions."""
    from redshift_to_lakehouse_migration_spark.tables import plan_bytes
    path = os.path.join(sf_dir, "documents.parquet")
    est = plan_bytes(spark.read.parquet(path))
    assert type(est) is int
    assert est == os.path.getsize(path)


def test_tune_for_session_applies_runtime_confs(spark):
    """Any externally-built session (the driver's) must pick up the
    runtime-settable engine confs on first table load: UTC timezone and
    the InferFiltersFromGenerate exclusion (a guard for a measured
    round-1 3x regression on
    gram/shingle queries if it re-appears)."""
    from redshift_to_lakehouse_migration_spark.session import tune_for_session
    tune_for_session(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert "InferFiltersFromGenerate" in spark.conf.get(
        "spark.sql.optimizer.excludedRules", "")


def test_tune_for_session_respects_pinned_confs(spark):
    """The conf-axis contract: keys listed in spark.graft.confPinned must
    SURVIVE tune_for_session — the replica's --conf invariance sweeps
    (AQE off, broadcast off, non-UTC TZ) run their queries through
    tables.load, which calls tune_for_session; without the pin the very
    first load would revert the axis to DEFAULT_CONF and the sweep would
    certify nothing (false PASS)."""
    from redshift_to_lakehouse_migration_spark.session import (
        DEFAULT_CONF, tune_for_session)
    saved_tuned = spark.conf.get("spark.graft.sessionTuned", None)
    saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
    saved_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.unset("spark.graft.sessionTuned")
        spark.conf.set(
            "spark.graft.confPinned",
            "spark.sql.shuffle.partitions,spark.sql.session.timeZone")
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        tune_for_session(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert (spark.conf.get("spark.sql.session.timeZone")
                == "America/New_York")
        # unpinned keys still get the engine defaults
        assert "InferFiltersFromGenerate" in spark.conf.get(
            "spark.sql.optimizer.excludedRules", "")
    finally:
        spark.conf.unset("spark.graft.confPinned")
        spark.conf.set("spark.sql.shuffle.partitions", saved_parts)
        spark.conf.set("spark.sql.session.timeZone", saved_tz)
        if saved_tuned is None:
            spark.conf.unset("spark.graft.sessionTuned")
        else:
            spark.conf.set("spark.graft.sessionTuned", saved_tuned)
        # NO trailing re-tune: get_spark-built sessions are tuned by
        # construction (sessionTuned set at build), and a tune_for_session
        # here would clobber the conftest's shuffle.partitions=4 override
        # back to DEFAULT_CONF for every later test — the exact pollution
        # class the _session_conf_guard exists to catch.


def test_dsum_corrupt_input_policy(spark):
    """Pin dsum's corrupt-input policy under Spark 4.1's default ANSI
    mode (found by a hostile-data oracle probe): non-finite doubles cast
    to NULL — silently excluded from the sum — while a finite value too
    wide for the decimal fails the job loudly. If a Spark upgrade ever
    changes either behavior, this catches it before the oracles do."""
    import pytest as _pytest

    from redshift_to_lakehouse_migration_spark.functions import dsum

    df = spark.createDataFrame(
        [(1.0,), (float("nan",),), (float("inf"),), (2.5,)], "v double")
    assert df.agg(dsum("v").alias("s")).collect()[0].s == 3.5

    too_wide = spark.createDataFrame([(1e23,)], "v double")
    with _pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        too_wide.agg(dsum("v").alias("s")).collect()


def test_get_spark_sets_driver_memory(spark):
    """get_spark must request a real driver heap at JVM launch: Spark's 1g
    default is a cluster-coordinator size, but in local[N] the driver heap
    IS all N executors' working memory (measured: a full-registry run at
    5x the largest driver scale kills a 1g JVM mid-suite). The session
    fixture was built by get_spark, so the conf must be present and the
    live JVM's max heap must be well past the 1g default."""
    import os
    expected = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    assert spark.conf.get("spark.driver.memory") == expected
    if expected == "8g":          # heap check only for the known default
        max_gib = (spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
                   / 2 ** 30)
        assert max_gib > 4, \
            f"JVM max heap {max_gib:.1f} GiB — launch conf lost"


def test_davg_denominator_matches_nan_exclusion(spark):
    """davg's numerator excludes non-finite values (decimal cast → NULL,
    the pinned corrupt-input policy); the denominator must exclude the
    SAME rows — counting raw non-nulls biased the mean low."""
    df = spark.createDataFrame(
        [(1.0,), (3.0,), (float("nan"),)], "v double")
    from redshift_to_lakehouse_migration_spark.functions import davg
    got = df.agg(davg("v").alias("m")).collect()[0].m
    assert got == 2.0   # (1+3)/2, NOT (1+3)/3


def _jobs_submitted(spark) -> int:
    """Jobs the DAGScheduler has handed out ids to in this context."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_load_infers_schema_once_per_file_version(spark, sf_dir):
    """Footer inference is a Spark job per schemaless read; tables.load
    pays it once while the file is unchanged, and the reused schema is
    the inferred one."""
    from redshift_to_lakehouse_migration_spark import tables
    tables._SCHEMAS.pop(f"{sf_dir}/orders.parquet", None)
    j0 = _jobs_submitted(spark)
    first = tables.load(spark, sf_dir, "orders")
    j1 = _jobs_submitted(spark)
    second = tables.load(spark, sf_dir, "orders")
    j2 = _jobs_submitted(spark)
    assert (j1 - j0, j2 - j1) == (1, 0)
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_read_parquet_reinfers_after_overwrite(spark, tmp_path):
    """A rewrite of the same path with another schema is a new file
    version: the next read infers again instead of reusing the old
    schema."""
    from redshift_to_lakehouse_migration_spark.tables import read_parquet
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(3).selectExpr("id", "cast(id AS string) AS s") \
        .write.mode("overwrite").parquet(path)
    df = read_parquet(spark, path)
    assert df.dtypes == [("id", "bigint"), ("s", "string")]
    assert sorted(r.s for r in df.collect()) == ["0", "1", "2"]


def test_read_parquet_reinfers_when_inference_conf_changes(spark, tmp_path):
    """binaryAsString changes the inferred type of the same file, so it is
    part of the reuse key. The file comes from pyarrow: a Spark-written
    footer carries Spark's own schema, which the conf does not touch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from redshift_to_lakehouse_migration_spark.tables import read_parquet
    key = "spark.sql.parquet.binaryAsString"
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"0", b"1"], pa.binary())}),
                   path)
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).dtypes == [("b", "binary")]
        spark.conf.set(key, "true")
        assert read_parquet(spark, path).dtypes == [("b", "string")]
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_read_parquet_missing_path_raises_path_not_found(spark, tmp_path):
    """A path os.stat cannot see takes Spark's own read, so a missing
    table still fails with Spark's error, not a cache miss."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    from redshift_to_lakehouse_migration_spark.tables import read_parquet
    with _pytest.raises(AnalysisException) as e:
        read_parquet(spark, str(tmp_path / "missing.parquet"))
    assert e.value.getCondition() == "PATH_NOT_FOUND"


def test_codegen_cache_keeps_a_query_compiled(spark, sf_dir):
    """get_spark sizes Spark's generated-class cache past what a pass
    compiles: a registry query re-run after 128 other generated classes
    compiles nothing again. At Spark's default cap of 100 the filler
    evicts the query's classes and the re-run compiles them all again
    (measured: 35 of 35), so this fails if the cap is dropped or stops
    reaching the JVM."""
    from bench import _codegen_compiles
    from redshift_to_lakehouse_migration_spark.queries import QUERIES

    def run():
        QUERIES["events_daily_unique_users_hll"](spark, sf_dir) \
            .write.format("noop").mode("overwrite").save()

    run()
    for i in range(128):
        # planning to an RDD compiles the stage's class without a job;
        # the literal makes each class distinct
        spark.range(1).selectExpr(f"id * {i} + {i} AS v") \
            ._jdf.queryExecution().toRdd()
    before = _codegen_compiles(spark)
    run()
    assert _codegen_compiles(spark) == before
