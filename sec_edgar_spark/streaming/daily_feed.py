"""Structured Streaming view of the daily-index feed (SURVEY §2.9).

The reference is batch-only, but its daily index is a natural stream:
one ``master.YYYYMMDD.idx`` appears per business day (daily.py:103-106).
This module expresses the feed as a Structured Streaming file source —
new idx drops in a watched directory are discovered per micro-batch,
parsed by the same function as the batch scan (``sources.index.idx_rows``:
one split, validity predicate and projection, so the stream rejects
exactly the rows the batch scan rejects), and rolled up with event-time
windows + watermark for late files.

Capability extension, not a port requirement; batch/stream parity is
the test: the streaming rollup over N files must equal the batch
rollup over the same files (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.index import idx_rows


def read_daily_feed(spark: SparkSession, watch_dir: str) -> DataFrame:
    """readStream over a directory of daily master.idx drops, parsed by
    the batch scan's own row rule (``sources.index.idx_rows``)."""
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 16)
        .load(watch_dir)
        .select(F.col("value"), F.input_file_name().alias("source_file"))
    )
    return idx_rows(raw)


def daily_rollup(feed: DataFrame, watermark_days: int = 3) -> DataFrame:
    """Windowed per-day per-form counts with a late-file watermark.

    Event time = date_filed; the watermark bounds state for files that
    arrive late (EDGAR republishes corrections).  At scale this is an
    incremental partial aggregate — each micro-batch shuffles only its
    own day's deltas.
    """
    with_ts = feed.withColumn("event_ts", F.col("date_filed").cast("timestamp"))
    return (
        with_ts.withWatermark("event_ts", f"{watermark_days} days")
        .groupBy(F.window("event_ts", "1 day").alias("day"), F.col("form_type"))
        .agg(
            F.count("*").alias("n_filings"),
            F.approx_count_distinct("cik").alias("n_companies_approx"),
        )
        .select(
            F.col("day.start").cast("date").alias("day"),
            "form_type",
            "n_filings",
            "n_companies_approx",
        )
    )


def run_to_memory_sink(
    spark: SparkSession, watch_dir: str, query_name: str = "daily_feed_rollup"
):
    """Start the rollup into an in-memory sink (complete mode) — used by
    tests and local monitoring; production sinks would be kafka/delta."""
    feed = read_daily_feed(spark, watch_dir)
    rollup = daily_rollup(feed)
    return (
        rollup.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .start()
    )
