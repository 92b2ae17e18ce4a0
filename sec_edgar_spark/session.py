"""SparkSession factory.

Single place that encodes the execution-model decisions:

- AQE on: runtime re-planning (broadcast conversion, skew-join splitting,
  partition coalescing) is the scale story for 100 TB — plans are written
  declaratively and AQE picks physical strategies per-stage.
- Arrow on: every pandas-UDF boundary (SGML parsing, embedding math)
  moves columnar batches, never rows.
- UTC session timezone: timestamp semantics must be engine-independent
  (the DuckDB oracle is timezone-naive).
- shuffle partitions sized from the env; at cluster scale this is set to
  ~2-3x total cores by the operator, AQE coalesces small ones back.
- AQE may change a cached plan's output partitioning
  (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``, off
  by default): otherwise a ``.cache()``d shuffle output keeps all
  ``spark.sql.shuffle.partitions`` partitions, and every consumer of
  the cached frame runs that many tasks of microsecond work.  A capped
  prefix-filter dedup of 500 documents at local[4] ran 523 tasks per
  execution with it off and 25 with it on.  It is runtime-settable, so
  ``ensure_session_conf`` applies it to caller-owned sessions too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
CACHED_PLAN_COALESCE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def builder(
    app_name: str = "sec-edgar-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
):
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r14 (guide §2.2, VERDICT r13 #1): AQE's parallelism-first
        # coalescing sizes post-shuffle partitions to
        # totalBytes/defaultParallelism bounded below by this value —
        # at the 1 MB default a small-but-not-tiny shuffle still fans
        # out proportionally to CORE COUNT (32 tasks at local[32] vs 8
        # at local[8] for the same bytes), which is why the r13 driver
        # measured 28 gate-scale queries >2× slower at 32 cores than
        # at 8.  4 MB makes small stages coalesce to the same
        # byte-derived task count at any core count; large shuffles
        # are unaffected (totalBytes/parallelism dominates long before
        # 100 TB).  Env-overridable for deployments that want the
        # stock behavior.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "4m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(CACHED_PLAN_COALESCE, "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Reliable checkpoint() files (operators/_lineage.py when
        # spark.sec_edgar.checkpoint_dir is set) are otherwise only
        # deleted at context shutdown: a 20-round iterative graph job
        # would keep 20 full materialized copies.  With this core conf
        # the ContextCleaner removes a round's files once its DataFrame
        # is garbage-collected — old rounds become unreferenced as soon
        # as the next round materializes, which is exactly the desired
        # retention.  Must be set at context build (core conf, not
        # runtime-settable), hence here and not in ensure_session_conf.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )


def get_spark(**kwargs) -> SparkSession:
    """Get-or-create the tuned session."""
    # Settings that must hold even on a pre-existing session (the driver
    # may pass us its own SparkSession):
    return ensure_session_conf(builder(**kwargs).getOrCreate())


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable invariants to a caller-owned session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set(CACHED_PLAN_COALESCE, "true")
    return spark
