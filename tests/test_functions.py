"""Scalar/text/vector Column-function unit tests (C1-C13 + text + vec)."""

import math

from pyspark.sql import functions as F

from sec_edgar_spark.functions import scalars as S
from sec_edgar_spark.functions import text as T
from sec_edgar_spark.functions import vectors as V


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


def test_accession_and_paths(spark):
    url = "https://www.sec.gov/Archives/edgar/data/320193/0000320193-20-000010.txt"
    assert one(spark, S.accession_filename(F.lit(url))) == "0000320193-20-000010.txt"
    assert one(spark, S.accession_number(F.lit(url))) == "0000320193-20-000010"
    assert (
        one(spark, S.archives_path(F.lit("edgar/data/1/x.txt")))
        == "Archives/edgar/data/1/x.txt"
    )
    assert (
        one(spark, S.txt_url(F.lit(".../0000320193-20-000010-index.htm")))
        == ".../0000320193-20-000010.txt"
    )


def test_clean_directory_path(spark):
    assert one(spark, S.clean_directory_path(F.lit("Apple Inc. /DE/"))) == "Apple_Inc_DE"


def test_quarter_math(spark):
    d = F.lit("2024-11-05").cast("date")
    assert one(spark, S.quarter_of(d)) == 4
    assert one(spark, S.month_of_quarter(F.lit(3))) == 7
    ny, nq = S.add_quarter(F.lit(2024), F.lit(4))
    assert one(spark, ny) == 2025 and one(spark, nq) == 1
    ny2, nq2 = S.add_quarter(F.lit(2024), F.lit(2))
    assert one(spark, ny2) == 2024 and one(spark, nq2) == 3


def test_date_tokens(spark):
    assert one(spark, S.daily_idx_date(F.lit("1994-07-01").cast("date"))) == "070194"
    assert one(spark, S.daily_idx_date(F.lit("1997-01-02").cast("date"))) == "970102"
    assert one(spark, S.daily_idx_date(F.lit("2024-01-15").cast("date"))) == "20240115"
    assert one(spark, S.sanitize_date_yyyymmdd(F.lit("2024-01-15").cast("date"))) == "20240115"
    assert str(one(spark, S.parse_idx_date(F.lit("1996-12-19")))) == "1996-12-19"
    assert str(one(spark, S.parse_idx_date(F.lit("20240115")))) == "2024-01-15"
    # pre-1998 daily era MM-dd-yyyy (ADVICE r5: docstring/impl parity)
    assert str(one(spark, S.parse_idx_date(F.lit("07-01-1994")))) == "1994-07-01"
    assert one(spark, S.parse_idx_date(F.lit("garbage"))) is None


def test_cik_zfill_and_keys(spark):
    assert one(spark, S.cik_zfill(F.lit(320193))) == "0000320193"
    assert one(spark, S.normalize_key(F.lit("aapl"))) == "AAPL"


def test_save_path_templating(spark):
    col = S.save_path(
        "{cik}/{type}", "{accession_number}", cik=F.lit(320193),
        type=F.lit("10-K"), accession_number=F.lit("0000320193-20-000010"),
    )
    assert one(spark, col) == "320193/10-K/0000320193-20-000010"


def test_tokens_and_counts(spark):
    c = F.lit("Hello  world, 42 times!")
    assert one(spark, T.token_count(c)) == 4
    assert one(spark, T.bpe_token_count(c)) == 6  # Hello world , 42 times !
    assert one(spark, T.alpha_chars(c)) == 15
    assert one(spark, T.punct_chars(c)) == 2


def test_lang_id_and_fingerprint(spark):
    en = F.lit("the cat sat on the mat and it is that for")
    assert one(spark, T.lang_id(T.tokens(en))) == "en"
    und = F.lit("zzz qqq www")
    assert one(spark, T.lang_id(T.tokens(und))) == "und"
    fp1 = one(spark, T.rolling_fingerprint(F.lit("a b c")))
    fp2 = one(spark, T.rolling_fingerprint(F.lit("c b a")))
    assert fp1 != fp2  # order-sensitive
    assert 0 <= fp1 < 2147483647


def test_vector_math(spark):
    a = F.array(*[F.lit(float(x)) for x in (1, 2, 3)])
    b = F.array(*[F.lit(float(x)) for x in (4, 5, 6)])
    assert one(spark, V.dot(a, b)) == 32.0
    assert abs(one(spark, V.cosine(a, a)) - 1.0) < 1e-12
    assert one(spark, V.norm(a)) == math.sqrt(14.0)
    assert one(spark, V.quantize(a, 10)) == [10, 20, 30]


def test_utils_parity():
    """Driver-side utils mirror reference utils.py behaviors."""
    import datetime

    import pytest as _pytest

    from sec_edgar_spark.utils import (
        add_quarter,
        get_month,
        get_quarter,
        sanitize_date,
    )

    assert sanitize_date(datetime.date(2020, 1, 28)) == "20200128"
    assert sanitize_date("20200128") == "20200128"
    assert sanitize_date(20200128) == 20200128
    with _pytest.raises(TypeError):
        sanitize_date("2020-01-28")
    with _pytest.raises(TypeError):
        sanitize_date(123)

    assert get_quarter(datetime.date(2020, 3, 31)) == 1
    assert get_quarter(datetime.date(2020, 4, 1)) == 2
    assert get_month(1) == 1 and get_month(4) == 10
    with _pytest.raises(TypeError):
        get_month(5)
    assert add_quarter(2020, 4) == (2021, 1)
    assert add_quarter(2020, 2) == (2020, 3)
    with _pytest.raises(TypeError):
        add_quarter(2020, 0)


def test_epoch_s_ntz_and_ltz_agree(spark):
    """epoch_s must yield identical epoch seconds for TIMESTAMP and
    TIMESTAMP_NTZ inputs (parquet no-tz columns infer as NTZ under
    Spark >= 4.1; NTZ -> BIGINT directly is an AnalysisException — the
    round-3 regression class)."""
    from pyspark.sql import functions as F

    from sec_edgar_spark.functions.scalars import epoch_s

    df = spark.createDataFrame([("2024-01-15 12:34:56",)], ["s"]).select(
        F.to_timestamp("s").alias("ltz"),
        F.to_timestamp_ntz("s").alias("ntz"),
    )
    assert dict(df.dtypes) == {"ltz": "timestamp", "ntz": "timestamp_ntz"}
    row = df.select(
        epoch_s("ltz").alias("a"), epoch_s("ntz").alias("b")
    ).collect()[0]
    assert row.a == row.b == 1705322096


def test_canonicalize_url_leading_utm_merges_real_dupes(spark):
    """Stripping a leading utm_* param must keep the '?' so 'a?page=2'
    and 'a?utm_s=x&page=2' merge (r9 ADVICE) — while a literal '&' in
    a query-less PATH must NOT be rewritten into a '?' (r10 ADVICE:
    the old strip-then-repair chain collapsed 'x/a&b' with 'x/a?b').
    The DuckDB oracle replays the identical chain; lockstep is asserted
    per-URL here, not just on the aggregate."""
    import duckdb

    from sec_edgar_spark.functions.text import canonicalize_url

    urls = [
        "https://a.example.com/p?page=2",
        "https://a.example.com/p?utm_source=x&page=2",
        "https://a.example.com/p?utm_source=x&utm_medium=y&page=2",
        "https://a.example.com/p?utm_source=x",
        "https://a.example.com/p?page=2&utm_source=x",
        "HTTPS://A.Example.com/p/?utm_source=x&page=2#frag",
        "https://a.example.com/p?utm_source=x#frag",
        "https://a.example.com/p/",
        "https://a.example.com/p",
        # literal '&' in a query-less path: distinct resources, the
        # canonicalizer must leave both alone (r10 ADVICE)
        "https://a.example.com/a&b",
        "https://a.example.com/a?b",
        # interior utm between real params leaves '&&' to collapse
        "https://a.example.com/p?page=2&utm_source=x&sort=asc",
        "https://a.example.com/p?page=2&sort=asc",
    ]
    got = (
        spark.createDataFrame([(u,) for u in urls], ["url"])
        .select("url", canonicalize_url("url").alias("canon"))
        .collect()
    )
    canon = {r.url: r.canon for r in got}
    # every variant of p?page=2 collapses to one form
    assert (
        canon["https://a.example.com/p?page=2"]
        == canon["https://a.example.com/p?utm_source=x&page=2"]
        == canon["https://a.example.com/p?utm_source=x&utm_medium=y&page=2"]
        == canon["https://a.example.com/p?page=2&utm_source=x"]
        == "https://a.example.com/p?page=2"
    )
    # case-fold + fragment + leading-utm repair compose (the interior
    # '/?' slash is canonical-form-significant and deliberately kept)
    assert (
        canon["HTTPS://A.Example.com/p/?utm_source=x&page=2#frag"]
        == "https://a.example.com/p/?page=2"
    )
    # bare-page variants collapse too
    assert (
        canon["https://a.example.com/p?utm_source=x"]
        == canon["https://a.example.com/p?utm_source=x#frag"]
        == canon["https://a.example.com/p/"]
        == canon["https://a.example.com/p"]
        == "https://a.example.com/p"
    )
    # path-literal '&' is NOT a query delimiter: the two stay distinct
    assert canon["https://a.example.com/a&b"] == "https://a.example.com/a&b"
    assert canon["https://a.example.com/a?b"] == "https://a.example.com/a?b"
    # interior utm strip collapses its '&&' remnant
    assert (
        canon["https://a.example.com/p?page=2&utm_source=x&sort=asc"]
        == canon["https://a.example.com/p?page=2&sort=asc"]
        == "https://a.example.com/p?page=2&sort=asc"
    )
    # DuckDB replay of the oracle chain agrees URL-by-URL
    con = duckdb.connect()
    for u in urls:
        (dk,) = con.execute(
            r"""
            SELECT regexp_replace(regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(lower(?), '#.*$', ''),
                  '([?&])utm_[a-z_]+=[^&#]*', '\1', 'g'),
                '([?&])&+', '\1', 'g'),
            '[?&]+$', ''), '/$', '')
            """,
            [u],
        ).fetchone()
        assert dk == canon[u], u
