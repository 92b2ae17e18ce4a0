"""Master-index scans (SURVEY §2.1 S1/S2, §2.2 F1/F2).

The reference fetches one ``master.idx`` text per quarter/day and parses
it with a per-line regex loop (core/_index.py:117-178).  Here the scan
is a JVM text read over a *mirror* of the index files (any number of
quarters/days in one DataFrame), parsed by ``idx_rows`` — the one row
rule, which the daily-feed stream (streaming/daily_feed.py) shares —
with:

- F1 validity filter: the ~10-line banner + ``----`` separator rows are
  dropped by a typed-row predicate equivalent to the reference's
  ``^[0-9]+[|].+[|].+[|][0-9\\-]+[|].+$`` regex (_index.py:161-162);
- F2 projection: ``path = 'Archives/' || file_name`` (_index.py:168),
  plus the derived accession number (_base.py:72-79);
- date normalization: quarterly rows carry ``yyyy-MM-dd``, daily rows
  ``yyyyMMdd`` — both normalize to DateType at scan (SURVEY §1.2);
- order preservation: a per-file ``line_no`` from the scan order so the
  order-sensitive operators (A3 running count, L1 "first n") stay
  deterministic under partitioned scans (SURVEY §7 risk 2).

At 100 TB (30 years × 4 quarters of indexes is only ~GBs, but the same
scan pattern serves the billions-of-rows filing corpus) the mirror would
be parquet partitioned by (year, quarter) — ``to_parquet_mirror`` writes
exactly that layout, after which every date filter partition-prunes and
the ComboFilings quarterly/daily split algorithm (combo.py:137-199)
disappears into Catalyst pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalars as S
from . import _lineno


def read_master_idx(
    spark: SparkSession,
    paths: str | list[str],
) -> DataFrame:
    """Scan master.idx file(s) → the canonical filing_index DataFrame.

    Works for both quarterly and daily idx shapes; header junk is
    filtered by the typed validity predicate, dates are normalized, and
    ``line_no`` numbers the valid rows per source file in file order.
    """
    if isinstance(paths, str):
        paths = [paths]
    raw = (
        spark.read.format("text").load(paths)
        .select(
            F.col("value"),
            F.input_file_name().alias("source_file"),
        )
    )
    return idx_rows(_lineno.with_line_numbers(raw, "source_file"))


def idx_rows(raw: DataFrame) -> DataFrame:
    """The master.idx row rule, for the batch scan and the daily-feed
    stream alike: a text scan (``value`` plus pass-through columns such
    as ``source_file`` and ``line_no``) → typed filing-index rows
    (cik, company_name, form_type, date_filed, file_name, path,
    accession_number, then the pass-through columns)."""
    keep = [c for c in raw.columns if c != "value"]
    parts = F.split(F.col("value"), r"\|")
    parsed = raw.select(
        *keep,
        F.element_at(parts, 1).alias("cik_raw"),
        F.element_at(parts, 2).alias("company_name"),
        F.element_at(parts, 3).alias("form_type"),
        F.element_at(parts, 4).alias("date_raw"),
        F.element_at(parts, 5).alias("file_name_raw"),
        F.size(parts).alias("n_fields"),
    )
    # F1: the reference's row-validity regex, as typed predicates.  The
    # regex ``^[0-9]+[|].+[|].+[|][0-9\-]+[|].+$`` (_index.py:161-162)
    # requires every middle field non-empty (``.+``), so empty
    # company/form/file fields must be rejected too.
    file_name = F.regexp_replace(F.col("file_name_raw"), r"[\r\n]+$", "")
    valid = parsed.filter(
        (F.col("n_fields") == 5)
        & F.col("cik_raw").rlike("^[0-9]+$")
        & F.col("date_raw").rlike("^[0-9-]+$")
        & (F.col("company_name") != "")
        & (F.col("form_type") != "")
        & (file_name != "")
    )
    return valid.select(
        F.col("cik_raw").cast("long").alias("cik"),
        "company_name",
        "form_type",
        S.parse_idx_date("date_raw").alias("date_filed"),
        file_name.alias("file_name"),
        S.archives_path(file_name).alias("path"),
        S.accession_number(file_name).alias("accession_number"),
        *keep,
    )


def to_parquet_mirror(index_df: DataFrame, dest: str, sort_by_cik: bool = True) -> None:
    """Write the index as a (year, quarter)-partitioned parquet mirror —
    the layout every downstream date filter partition-prunes against.

    ``sort_by_cik`` clusters rows by cik inside each file so parquet
    row-group min/max statistics skip data for cik-filtered queries
    (the J1-resolved company scans) on top of partition pruning.
    """
    df = index_df.withColumn("year", F.year("date_filed")).withColumn(
        "quarter", F.quarter("date_filed")
    )
    if sort_by_cik:
        df = df.sortWithinPartitions("year", "quarter", "cik")
    df.write.mode("overwrite").partitionBy("year", "quarter").parquet(dest)


def upsert_parquet_mirror(index_df: DataFrame, dest: str) -> None:
    """Incremental mirror top-up: REPLACE exactly the (year, quarter)
    partitions present in ``index_df``, leave every other partition
    untouched (dynamic partition overwrite) — the idempotent daily/
    quarterly refresh; re-running the same input converges instead of
    duplicating.
    """
    spark = index_df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            index_df.withColumn("year", F.year("date_filed"))
            .withColumn("quarter", F.quarter("date_filed"))
            .sortWithinPartitions("year", "quarter", "cik")
            .write.mode("overwrite")
            .partitionBy("year", "quarter")
            .parquet(dest)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def quarterly_idx_path(base: str, year: int, quarter: int) -> str:
    """Mirror path of a quarterly master index
    (reference path scheme: quarterly.py:53-57, 90-93)."""
    return f"{base}/full-index/{year}/QTR{quarter}/master.idx"


def daily_idx_path(base: str, date) -> str:
    """Mirror path of a daily master index, with the era-dependent
    filename (daily.py:69-78, 103-132): MMddyy before 1995, yyMMdd
    before 1998-03-31 (exclusive — daily.py:129 uses a strict
    ``< date(1998, 3, 31)``, so 1998-03-31 itself is yyyyMMdd),
    yyyyMMdd from then on."""
    y, q = date.year, (date.month - 1) // 3 + 1
    if y < 1995:
        token = date.strftime("%m%d%y")
    elif (y, date.month, date.day) < (1998, 3, 31):
        token = date.strftime("%y%m%d")
    else:
        token = date.strftime("%Y%m%d")
    return f"{base}/daily-index/{y}/QTR{q}/master.{token}.idx"


# --------------------------------------------------------------------------
# S3 — listings-directory existence check (reference _index.py:100-143)
# --------------------------------------------------------------------------


def listing_idx_filenames(listing_html: str) -> set[str]:
    """``master.<token>.idx`` filenames present in a quarter's
    listings-directory page (the page the reference fetches in
    ``_get_listings_directory``, _index.py:100-115)."""
    import re

    return set(re.findall(r"master\.[0-9]+\.idx", listing_html))


def check_idx_available(listing_html: str, idx_filename: str) -> None:
    """The reference's pre-scan membership check (_index.py:130-143):
    substring containment of the idx filename in the listings page,
    ``EDGARQueryError`` when absent (no filings that day — weekends,
    holidays)."""
    from ..exceptions import EDGARQueryError

    if idx_filename not in listing_html:
        raise EDGARQueryError(
            f"File {idx_filename} not found. "
            "There may be no filings for the given day/quarter."
        )


def available_daily_idx_paths(
    base: str, dates, listing_html_by_quarter: dict
) -> tuple[list[str], list]:
    """Graceful missing-day handling for a multi-day scan.

    ``listing_html_by_quarter`` maps ``(year, quarter)`` to that
    quarter's listings-directory page (one fetch per quarter, like the
    reference's per-object cache).  Returns (paths_present,
    dates_missing): the scan reads only idx files the directory
    actually lists, instead of erroring on the first holiday.
    """
    present, missing = [], []
    for d in dates:
        q = (d.month - 1) // 3 + 1
        listing = listing_html_by_quarter.get((d.year, q), "")
        path = daily_idx_path(base, d)
        filename = path.rsplit("/", 1)[1]
        if filename in listing_idx_filenames(listing):
            present.append(path)
        else:
            missing.append(d)
    return present, missing
