"""Streaming daily-feed tests: batch/stream parity on the same files."""

import shutil
import time

import pytest

from sec_edgar_spark.sources.index import read_master_idx
from sec_edgar_spark.streaming.daily_feed import run_to_memory_sink


@pytest.mark.timeout(180)
def test_stream_matches_batch(spark, data_dir, tmp_path):
    watch = tmp_path / "feed"
    watch.mkdir()
    src = f"{data_dir}/daily-index/2024/QTR1/master.20240115.idx"
    shutil.copy(src, watch / "master.20240115.idx")

    q = run_to_memory_sink(spark, str(watch), query_name="t_rollup")
    try:
        q.processAllAvailable()
        got = {
            (str(r.day), r.form_type): r.n_filings
            for r in spark.sql("SELECT * FROM t_rollup").collect()
        }
        # batch truth
        batch = read_master_idx(spark, src).groupBy("date_filed", "form_type").count()
        want = {
            (str(r.date_filed), r.form_type): r["count"] for r in batch.collect()
        }
        assert got == want

        # second file arrives -> incremental update
        with open(watch / "master.20240116.idx", "w") as f:
            f.write("CIK|Company Name|Form Type|Date Filed|Filename\n")
            f.write("------\n")
            f.write("99|LATE CO|8-K|20240116|edgar/data/99/0000000099-24-000001.txt\n")
        q.processAllAvailable()
        got2 = {
            (str(r.day), r.form_type): r.n_filings
            for r in spark.sql("SELECT * FROM t_rollup").collect()
        }
        assert got2[("2024-01-16", "8-K")] == 1
        assert set(want.items()).issubset(set(got2.items()))
    finally:
        q.stop()


@pytest.mark.timeout(180)
def test_stream_rejects_what_batch_rejects(spark, tmp_path):
    """One row rule for batch and stream: malformed rows (empty company,
    form or file name, 4 fields, non-digit CIK) are dropped by both."""
    from sec_edgar_spark.streaming.daily_feed import read_daily_feed

    watch = tmp_path / "feed"
    watch.mkdir()
    idx = watch / "master.20240116.idx"
    idx.write_text(
        "Description:           Daily Index of EDGAR Dissemination Feed\n"
        "Last Data Received:    January 16, 2024\n"
        "\n"
        "CIK|Company Name|Form Type|Date Filed|Filename\n"
        "--------------------------------------------------------------------------------\n"
        "99|LATE CO|8-K|20240116|edgar/data/99/0000000099-24-000001.txt\n"
        "100|OTHER CO|10-Q|20240116|edgar/data/100/0000000100-24-000002.txt\n"
        "101||8-K|20240116|edgar/data/101/0000000101-24-000003.txt\n"
        "102|NO FORM CO||20240116|edgar/data/102/0000000102-24-000004.txt\n"
        "103|NO FILE CO|8-K|20240116|\n"
        "104|FOUR FIELDS CO|8-K|20240116\n"
        "10X|LETTER CIK CO|8-K|20240116|edgar/data/10/0000000010-24-000005.txt\n"
    )
    cols = ["cik", "company_name", "form_type", "date_filed", "file_name"]
    batch = {tuple(r) for r in read_master_idx(spark, str(idx)).select(cols).collect()}

    q = (
        read_daily_feed(spark, str(watch))
        .writeStream.format("memory")
        .queryName("t_feed_rows")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        stream = {tuple(r) for r in spark.table("t_feed_rows").select(cols).collect()}
    finally:
        q.stop()
    assert {r[0] for r in batch} == {99, 100}
    assert stream == batch
