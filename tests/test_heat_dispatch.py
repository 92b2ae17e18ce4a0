"""Heat-dispatched salt selection (operators/stats.py, VERDICT r11 #1).

Three contracts:
1. the probe's decision: plain (None) on uniform key distributions,
   salted (bucket_s) when one key is measurably hot — including on the
   committed sf10-skew corpus whose 3M-row hot user motivated the
   whole salted family;
2. bit-equality THROUGH the dispatch: for every member of the salted
   family, the plan the probe picks produces exactly the rows of the
   plan it rejects (the r11 salted-vs-single-window property tests
   cover the deep adversarial cases; this pins the dispatch seam);
3. memoization: a table path probes once per process (bench/gate runs
   issue many queries over one dataset).
"""

import datetime
import os
import random

import pytest
from pyspark.sql import functions as F

from sec_edgar_spark.operators import stats
from sec_edgar_spark.operators.relational import (
    salted_moving_agg,
    salted_next,
    salted_prev,
    salted_rank,
    salted_suffix_min,
)
from sec_edgar_spark.operators.sessionize import salted_sessionize

SKEW_DIR = os.path.join(
    os.path.dirname(__file__), "..", "testdata_sf10_skew"
)


@pytest.fixture(scope="module")
def events(spark):
    random.seed(11)
    rows = []
    for i in range(3000):
        u = random.choice([1, 2, 3, 3, 3, 4, 5, 6])
        ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(
            seconds=random.randint(0, 30 * 86400)
        )
        rows.append(
            (i, ts, u, random.choice(["a", "b", "c"]),
             float(random.randint(0, 100)))
        )
    return spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double",
    ).cache()


def _sorted_pdf(df):
    # stringify struct payloads (entry/exit dicts break pandas sort)
    pdf = df.toPandas()
    for c in pdf.columns:
        if pdf[c].dtype == object and pdf[c].map(
            lambda v: isinstance(v, dict), na_action="ignore"
        ).any():
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def test_probe_estimates_max_key_rows(events):
    # true hottest key (user 3) holds ~3/8 of 3000 rows
    est = stats.estimated_max_key_rows(events, "user_id", sample_frac=0.5)
    true_max = (
        events.groupBy("user_id").count().agg(F.max("count")).first()[0]
    )
    assert 0.5 * true_max <= est <= 1.5 * true_max


def test_pick_bucket_flips_on_threshold(events):
    # the same data reads as healthy or hot purely by threshold — the
    # dispatch is a measured decision, not a config constant
    assert (
        stats.pick_bucket(events, "user_id", hot_rows=10**9,
                          sample_frac=0.5) is None
    )
    assert (
        stats.pick_bucket(events, "user_id", hot_rows=100, sample_frac=0.5)
        == 6 * 3600
    )


def test_pick_bucket_empty_frame(spark):
    empty = spark.createDataFrame([], "user_id bigint, ts timestamp")
    assert stats.pick_bucket(empty, "user_id", sample_frac=0.5) is None


def test_cache_probes_once(events, monkeypatch):
    stats.clear_cache()
    calls = {"n": 0}
    real = stats.estimated_max_key_rows

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(stats, "estimated_max_key_rows", counting)
    for _ in range(3):
        stats.pick_bucket(events, "user_id", sample_frac=0.5,
                          path="test-cache/events.parquet")
    assert calls["n"] == 1
    stats.clear_cache()


@pytest.mark.parametrize("bucket", [None, 6 * 3600])
def test_dispatch_paths_bit_equal(events, bucket):
    """Every family member: the bucket_s=None plain branch returns
    exactly the salted branch's rows (pandas frame equality after a
    total sort)."""
    ref = 6 * 3600 if bucket is None else None

    pairs = [
        (
            salted_rank(events, "user_id", "ts", ["event_id"],
                        bucket_s=bucket, out_col="rk"),
            salted_rank(events, "user_id", "ts", ["event_id"],
                        bucket_s=ref, out_col="rk"),
        ),
        (
            salted_prev(events, "user_id", "ts", ["event_id"],
                        ["event_type", "value"], bucket_s=bucket),
            salted_prev(events, "user_id", "ts", ["event_id"],
                        ["event_type", "value"], bucket_s=ref),
        ),
        (
            salted_next(events, "user_id", "ts", ["event_id"],
                        ["event_type", "value"], bucket_s=bucket),
            salted_next(events, "user_id", "ts", ["event_id"],
                        ["event_type", "value"], bucket_s=ref),
        ),
        (
            salted_moving_agg(
                events, "user_id", "ts", ["event_id"],
                {"mv": ("value", "avg"), "cnt": ("*", "count")},
                frame_rows=5, bucket_s=bucket, block_rows=16,
            ),
            salted_moving_agg(
                events, "user_id", "ts", ["event_id"],
                {"mv": ("value", "avg"), "cnt": ("*", "count")},
                frame_rows=5, bucket_s=ref, block_rows=16,
            ),
        ),
        (
            salted_sessionize(events, gap_s=1800, bucket_s=bucket,
                              payload_cols=["event_type"]),
            salted_sessionize(events, gap_s=1800, bucket_s=ref,
                              payload_cols=["event_type"]),
        ),
    ]
    sm = events.withColumn(
        "_v", F.when(F.col("event_type") == "a", F.col("value"))
    )
    pairs.append(
        (
            salted_suffix_min(sm, "user_id", "ts", ["event_id"], "_v",
                              "sfx", bucket_s=bucket),
            salted_suffix_min(sm, "user_id", "ts", ["event_id"], "_v",
                              "sfx", bucket_s=ref),
        )
    )
    for got, want in pairs:
        assert list(got.columns) == list(want.columns)
        assert _sorted_pdf(got).equals(_sorted_pdf(want))


@pytest.mark.slow
def test_probe_picks_salted_on_skew_corpus(spark):
    """The committed sf10-skew replica (3M-row hot user) must flip the
    default-threshold dispatch to the salted plan — this is the corpus
    the salted family exists for."""
    if not os.path.exists(os.path.join(SKEW_DIR, "events.parquet")):
        pytest.skip("sf10-skew replica not present")
    from sec_edgar_spark.catalog import table

    stats.clear_cache()
    e = table(spark, os.path.abspath(SKEW_DIR), "events")
    assert (
        stats.pick_bucket(e, "user_id",
                          path=os.path.join(SKEW_DIR, "events.parquet"))
        == 6 * 3600
    )
    stats.clear_cache()


@pytest.mark.slow
def test_probe_picks_plain_on_uniform_gate(spark):
    """The uniform gate corpora must dispatch to plain — that IS the
    recovered salt tax."""
    from sec_edgar_spark.catalog import table

    sf = "/root/testdata/sf0.01"
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("gate corpus not present")
    stats.clear_cache()
    e = table(spark, sf, "events")
    assert stats.pick_bucket(e, "user_id") is None
    stats.clear_cache()


def test_dataset_fingerprint_invalidates_on_rewrite(tmp_path):
    """ADVICE r12: folding dataset_fingerprint into the memo key makes an
    in-place rewrite re-probe instead of serving a stale estimate —
    for both single-file and directory datasets."""
    import time

    f = tmp_path / "t.parquet"
    f.write_bytes(b"x" * 10)
    fp1 = stats.dataset_fingerprint(str(f))
    assert fp1 == (1, f.stat().st_mtime_ns, 10)
    time.sleep(0.01)
    f.write_bytes(b"y" * 20)  # overwrite: size and mtime change
    fp2 = stats.dataset_fingerprint(str(f))
    assert fp2 != fp1

    d = tmp_path / "dir.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"a" * 5)
    fpd1 = stats.dataset_fingerprint(str(d))
    (d / "part-1.parquet").write_bytes(b"b" * 5)  # append: file count
    fpd2 = stats.dataset_fingerprint(str(d))
    assert fpd1 != fpd2 and fpd2[0] == 2

    assert stats.dataset_fingerprint(str(tmp_path / "missing")) is None
