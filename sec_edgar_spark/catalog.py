"""Loader for the driver's synthetic parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under a scale-factor dir.

At cluster scale these would be partitioned/bucketed external tables; the
loader keeps a per-(session, dir) memo so repeated query invocations
don't re-read footers, and callers get plain DataFrames so every plan
stays declarative (filter/column pushdown reaches the parquet scan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .operators import stats

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_MEMO_ATTR = "_sec_edgar_spark_catalog_memo"


def table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """The table as a DataFrame.  ``spread=True`` is for queries whose
    scan feeds per-row CPU-heavy map work (shingling, hashing, vector
    math, blob decode): the scan is round-robined over
    ``stats.spread_parts`` tasks when fewer scan tasks than that read
    data (at most one per row group, and a file smaller than one byte
    split is one task however many row groups it has), so the map
    stage uses the whole executor.  A layout whose scan already runs
    that many tasks is left alone.  Filters still push into the
    scan (Catalyst moves deterministic predicates through
    Repartition).  Cheap aggregate-only readers do not spread: for
    them the extra shuffle costs more than the single-task scan
    (SCALE.md, "Single-row-group scans")."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Every call, memo hits included: the conf must follow the dataset
    # currently being queried, never what ran earlier in the session.
    _size_shuffle(spark, sf_dir)
    memo = getattr(spark, _MEMO_ATTR, None)
    if memo is None:
        memo = {}
        setattr(spark, _MEMO_ATTR, memo)
    key = (sf_dir, name, spread)
    if key not in memo:
        path = f"{sf_dir}/{name}.parquet"
        if name == "events":
            # The driver's events.parquet stores TIMESTAMP(NANOS), which
            # the vectorized reader rejects; read nanos as long and
            # truncate to micros (lossless here — the data is
            # micro-precise, and the DuckDB oracle coerces to micros the
            # same way).  Re-written mirrors may already be micros —
            # only convert when the column actually came in as long.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            from pyspark.sql import functions as F
            from pyspark.sql.types import LongType

            df = spark.read.parquet(path)
            if isinstance(df.schema["ts"].dataType, LongType):
                df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        else:
            df = spark.read.parquet(path)
        # The scan's partition count comes from planning (file
        # listing and byte splits); no job runs.
        n = None
        if spread:
            n = stats.spread_parts(spark, path, df.rdd.getNumPartitions())
        if n:
            df = df.repartition(n)
        memo[key] = df
    return memo[key]


def _size_shuffle(spark: SparkSession, sf_dir: str) -> None:
    """Set spark.sql.shuffle.partitions to max(the value the session
    was built with, the dataset's input-bytes rule).  The build-time
    value comes from the context's SparkConf, which runtime
    ``spark.conf.set`` never changes (read in place: ``getConf()``
    copies the whole conf on every call); 200 is Spark's own
    default."""
    conf = spark.sparkContext._conf
    build = int(conf.get("spark.sql.shuffle.partitions", "200"))
    eff = max(build, stats.input_partitions(sf_dir, TABLES))
    if int(spark.conf.get("spark.sql.shuffle.partitions")) != eff:
        spark.conf.set("spark.sql.shuffle.partitions", str(eff))


def tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(table(spark, sf_dir, n) for n in names)
