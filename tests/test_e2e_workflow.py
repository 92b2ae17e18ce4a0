"""End-to-end reference-workflow test: the full ``filings(...).save()``
pipeline a sec-edgar user runs, network-free.

index scan → filings() plan (type/date/cik filters) → grouped urls →
rate-limited retrying fetch (fake transport) → patterned file-tree
sink → SGML parse of the saved files — every stage is the production
code path.
"""

import pytest

from pyspark.sql import functions as F

from sec_edgar_spark.plans.filings import filings, grouped_urls
from sec_edgar_spark.sources.cik_map import read_cik_map
from sec_edgar_spark.sources.filings import fetch_urls, manifest_files, save_filings
from sec_edgar_spark.sources.index import read_master_idx

SGML = """<SEC-DOCUMENT>0000320193-96-000001.txt
<SEC-HEADER>
ACCESSION NUMBER:  0000320193-96-000001
CONFORMED SUBMISSION TYPE: 10-K
<DOCUMENT>
<TYPE>10-K
<SEQUENCE>1
<FILENAME>primary.txt
<TEXT>
Annual report body.
</TEXT>
</DOCUMENT>
</SEC-HEADER>
</SEC-DOCUMENT>
"""


@pytest.mark.timeout(300)
def test_full_save_workflow(spark, tmp_path):
    index = read_master_idx(spark, "tests/data/full-index/1996/QTR4/master.idx")
    cik_map = read_cik_map(spark, "tests/data/company_tickers.json")
    lookups = spark.createDataFrame([("AAPL",)], ["lookup_term"])

    plan = filings(
        index,
        filing_type="10-K",
        cik_lookup=lookups,
        cik_map=cik_map,
        count=2,
    )
    rows = plan.collect()
    assert rows and all(r.cik == 320193 and r.form_type == "10-K" for r in rows)

    grouped = grouped_urls(plan)
    assert grouped.count() == 1  # one company

    fetched = fetch_urls(
        plan.select("url"),
        lambda u: (200, SGML.encode()),
        retry_count=1,
        sleep=lambda s: None,
    )
    enriched = plan.drop("url").join(
        fetched.withColumnRenamed("url", "u"),
        F.concat(F.lit("https://www.sec.gov/"), F.col("path")) == F.col("u"),
    )
    assert enriched.filter(F.col("error").isNotNull()).count() == 0

    out = tmp_path / "archive"
    save_filings(enriched, str(out))
    saved = list(out.rglob("*.txt"))
    assert saved, "no files written"
    # the committed manifest lists exactly the files on disk
    assert set(manifest_files(str(out))) == {str(p) for p in saved}
    # dir pattern {cik}/{type}
    assert all("320193" in str(p) and "10-K" in str(p) for p in saved)

    # Parse the saved tree back through the production SGML stage.
    from sec_edgar_spark.parsing.meta import parse_filings, read_filings

    parsed = parse_filings(
        read_filings(spark, str(out) + "/*/*/*.txt").select(
            F.col("content").cast("string").alias("content")
        )
    )
    got = parsed.select(
        "accession_number",
        F.col("metadata")["CONFORMED SUBMISSION TYPE"].alias("t"),
    ).collect()
    assert got and all(r.t == "10-K" for r in got)
    assert all(r.accession_number == "0000320193-96-000001" for r in got)
