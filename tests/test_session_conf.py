"""The session contract lets AQE coalesce cached plans: a ``.cache()``d
shuffle output is sized by its bytes, not by
``spark.sql.shuffle.partitions``, on sessions the engine builds and on
caller-owned ones."""

from __future__ import annotations

from pyspark.sql import functions as F

from sec_edgar_spark.session import CACHED_PLAN_COALESCE, ensure_session_conf, get_spark


def _cached_partitions(spark) -> int:
    df = spark.range(100).groupBy((F.col("id") % 10).alias("k")).count().cache()
    try:
        df.count()
        return df.rdd.getNumPartitions()
    finally:
        df.unpersist()


def test_cached_groupby_coalesces_to_one_partition(spark):
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) > 1
    assert _cached_partitions(spark) == 1


def test_ensure_session_conf_turns_cached_coalescing_back_on(spark):
    spark.conf.set(CACHED_PLAN_COALESCE, "false")
    try:
        assert _cached_partitions(spark) == int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert ensure_session_conf(spark) is spark
        assert spark.conf.get(CACHED_PLAN_COALESCE) == "true"
        assert _cached_partitions(spark) == 1
    finally:
        spark.conf.set(CACHED_PLAN_COALESCE, "true")


def test_get_spark_applies_the_conf_to_an_existing_session(spark):
    spark.conf.set(CACHED_PLAN_COALESCE, "false")
    # getOrCreate applies the builder's SQL confs to the existing
    # session, so ask for the fixture's own master and partitions.
    same = {
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }
    try:
        assert get_spark(**same) is spark
        assert spark.conf.get(CACHED_PLAN_COALESCE) == "true"
    finally:
        spark.conf.set(CACHED_PLAN_COALESCE, "true")
