"""Exact heat dispatch for the cap families (VERDICT r12 #2).

The salt dispatch (operators/stats.pick_bucket) may sample because both
plan families are bit-identical.  The CAP families are not: capped
plans drop rows whenever a cap binds, so the only safe dispatch is the
THEOREM "exact max group size <= cap ⟹ capped == uncapped".  These
tests pin:

- the exact probe itself (values + memoization),
- that a provably-non-binding cap is skipped (plan-level),
- that dispatched and forced-capped plans produce identical rows on
  corpora where the cap does not bind (the gate condition),
- that a binding cap still dispatches capped,
- that a huge pair estimate sizes only the query's own candidate
  exchange: a later unrelated plan is unchanged.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from sec_edgar_spark.operators import stats
from sec_edgar_spark.operators.dedup import prefix_filter_join

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _rows(df):
    return sorted(map(tuple, df.collect()))


# ----------------------------------------------------------- exact probe


def test_exact_max_group_rows_value(spark):
    df = spark.createDataFrame([(1,), (1,), (1,), (2,)], "k int")
    assert stats.exact_max_group_rows(df, "k") == 3


def test_exact_max_group_rows_empty(spark):
    df = spark.createDataFrame([], "k int")
    assert stats.exact_max_group_rows(df, "k") == 0


def test_exact_probe_memoizes_like_statistics(spark):
    stats.clear_cache()
    try:
        df = spark.createDataFrame([(1,), (1,), (2,)], "k int")
        assert stats.exact_max_group_rows(df, "k", path="t") == 2
        # same path, different frame → cached value (stats semantics)
        df7 = spark.createDataFrame([(9,)] * 7, "k int")
        assert stats.exact_max_group_rows(df7, "k", path="t") == 2
        assert stats.exact_max_group_rows(df7, "k", path="t2") == 7
        assert stats.exact_max_group_rows(df7, "k", path="t", tag="x") == 7
    finally:
        stats.clear_cache()


# -------------------------------------------------- posting-cap dispatch


def _mini_docs(spark):
    # 6 docs over a vocabulary where max df = 4 ("common"), others <= 2
    rows = [
        (1, "common alpha beta"),
        (2, "common alpha gamma"),
        (3, "common delta epsilon"),
        (4, "common zeta eta"),
        (5, "theta iota kappa"),
        (6, "lam mu nu"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_nonbinding_len_cap_is_skipped_and_identical(spark):
    d = _mini_docs(spark)
    uncapped = prefix_filter_join(d, "doc_id", "text", threshold=0.5)
    dispatched = prefix_filter_join(
        d, "doc_id", "text", threshold=0.5, posting_len_cap=10
    )  # max df 4 <= 10: provably non-binding
    assert "row_number" not in _plan(dispatched)
    assert _rows(dispatched) == _rows(uncapped)


def test_binding_len_cap_stays(spark):
    d = _mini_docs(spark)
    dispatched = prefix_filter_join(
        d, "doc_id", "text", threshold=0.5, posting_len_cap=2
    )  # max df 4 > 2: must keep the truncation window
    assert "row_number" in _plan(dispatched)


def test_nonbinding_df_cap_is_skipped_and_identical(spark):
    d = _mini_docs(spark)
    uncapped = prefix_filter_join(d, "doc_id", "text", threshold=0.5)
    # max df 4 of 6 docs = 66% <= 90%: provably non-binding
    dispatched = prefix_filter_join(
        d, "doc_id", "text", threshold=0.5, posting_df_cap_pct=90
    )
    assert "LeftAnti" not in _plan(dispatched)
    assert _rows(dispatched) == _rows(uncapped)


def test_binding_df_cap_stays_and_subsets(spark):
    d = _mini_docs(spark)
    uncapped = prefix_filter_join(d, "doc_id", "text", threshold=0.5)
    # max df 4 of 6 docs = 66% > 50%: cap must stay
    dispatched = prefix_filter_join(
        d, "doc_id", "text", threshold=0.5, posting_df_cap_pct=50
    )
    assert "LeftAnti" in _plan(dispatched)
    assert set(_rows(dispatched)) <= set(_rows(uncapped))


def test_token_df_stats_memoized_per_key(spark):
    from sec_edgar_spark.operators.dedup import token_df_stats

    stats.clear_cache()
    try:
        d = _mini_docs(spark)
        docs = (
            d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
            .distinct()
            .groupBy("doc_id")
            .agg(F.collect_list("tok").alias("toks_ord"))
        )
        st = token_df_stats(docs, 50, path="mini")
        assert st[0] == 6 and st[1] == 4  # ndocs, max df ("common")
        assert st[2] <= 4  # max unblocked df
        # memo: different frame, same key → cached tuple
        empty = docs.filter(F.lit(False))
        assert token_df_stats(empty, 50, path="mini") == st
    finally:
        stats.clear_cache()


# ------------------------------------------------- query-level dispatch


def _force_hot(monkeypatch):
    """Force the capped branch by making the exact probe report a huge
    hottest group (the probe itself is exact; this simulates a hot
    corpus so both branches can be compared on the same data)."""
    monkeypatch.setattr(
        stats, "exact_max_group_rows", lambda *a, **k: 10**9
    )


@pytest.mark.skipif(
    not __import__("os").path.exists(SF), reason="driver testdata missing"
)
def test_er_capped_dispatch_equals_forced_capped(spark, monkeypatch):
    from sec_edgar_spark.queries import QUERIES

    stats.clear_cache()
    try:
        dispatched = _rows(QUERIES["er_match_score_capped"](spark, SF))
        _force_hot(monkeypatch)
        forced = _rows(QUERIES["er_match_score_capped"](spark, SF))
        # gate corpora: cap provably non-binding → identical rows
        assert dispatched == forced
        assert len(dispatched) > 0
    finally:
        stats.clear_cache()


@pytest.mark.skipif(
    not __import__("os").path.exists(SF), reason="driver testdata missing"
)
def test_semantic_capped_dispatch_equals_forced_capped(spark, monkeypatch):
    from sec_edgar_spark.queries import QUERIES

    stats.clear_cache()
    try:
        dispatched = QUERIES["dedup_semantic_capped"](spark, SF)
        assert "sub" in dispatched.columns
        d_rows = _rows(dispatched)
        _force_hot(monkeypatch)
        f_rows = _rows(QUERIES["dedup_semantic_capped"](spark, SF))
        assert d_rows == f_rows
    finally:
        stats.clear_cache()
        spark.catalog.clearCache()


# ------------------------------- operator-level shuffle sizing (r13)


def test_token_df_stats_est_pairs(spark):
    """Pair estimates: self = Σ min(dfp,L)², cross = Σ min(dfp,L)·
    min(df,L) over kept tokens; dfp falls back to df with no prefix
    column."""
    from sec_edgar_spark.operators.dedup import token_df_stats

    rows = [
        (1, ["a", "b"]),
        (2, ["a", "b"]),
        (3, ["a"]),
        (4, ["a"]),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, toks_ord array<string>")
    # dfs: a=4, b=2.  no df-cap, len_cap=3 → min(4,3)²+2² = 13
    st = token_df_stats(docs, None, None, len_cap=3)
    assert st == (4, 4, 4, 13, 13)
    # df-cap 50%: a (df 4 > 2) blocked → kept only b → 2² = 4
    st = token_df_stats(docs, 50, None, len_cap=3)
    assert st == (4, 4, 2, 4, 4)
    # no len_cap: Σ df² over kept = 16 + 4
    st = token_df_stats(docs, None, None)
    assert st == (4, 4, 4, 20, 20)
    # with a prefix column the estimates index the PREFIX posting:
    # prefixes {1:[a], 2:[b], 3:[a], 4:[]} → dfp: a=2, b=1
    pdocs = spark.createDataFrame(
        [
            (1, ["a", "b"], ["a"]),
            (2, ["a", "b"], ["b"]),
            (3, ["a"], ["a"]),
            (4, ["a"], []),
        ],
        "doc_id int, toks_ord array<string>, prefix array<string>",
    )
    st = token_df_stats(pdocs, None, None, len_cap=3)
    # self = 2² + 1² = 5; cross = 2·min(4,3) + 1·2 = 8
    assert st == (4, 4, 4, 5, 8)


def test_prefix_filter_join_reports_pair_volume(spark, monkeypatch):
    """The capped join sizes its own candidate exchange from
    est_pairs×32 B: a count above the session's partitions becomes a
    repartition on the posting token; rows unchanged."""
    calls = []

    def sizer(spark_, nbytes, **kw):
        calls.append(nbytes)
        return 16

    monkeypatch.setattr(stats, "exchange_partitions", sizer)
    stats.clear_cache()
    try:
        d = _mini_docs(spark)
        capped = prefix_filter_join(
            d, "doc_id", "text", threshold=0.5,
            posting_len_cap=2, cap_stats_path="ds-x/documents.parquet",
        )
        plain = prefix_filter_join(d, "doc_id", "text", threshold=0.5)
        assert calls and calls[0] > 0 and calls[0] % 32 == 0
        assert "RepartitionByExpression [tok" in _plan(capped)
        assert "RepartitionByExpression" not in _plan(plain)
        # sizing is physical only: binding cap still subsets
        assert set(_rows(capped)) <= set(_rows(plain))
    finally:
        stats.clear_cache()
        spark.catalog.clearCache()


def test_exchange_partitions_only_above_session(spark):
    old_conf = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        # tiny estimate: the session's partitions already cover it
        assert stats.exchange_partitions(spark, 1024) is None
        # 10 GiB of pairs at 128 MiB/task → 80 → pow2 128
        assert stats.exchange_partitions(spark, 10 << 30) == 128
        # a decision, not a side effect: session conf untouched
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_conf)


# ---------------------------------------------------- order independence


def _executed(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # expression and plan ids differ between any two builds
    return re.sub(r"#\d+L?| \[plan_id=\d+\]", "", plan)


@pytest.mark.skipif(
    not __import__("os").path.exists(SF), reason="testdata missing"
)
def test_plan_independent_of_earlier_heavy_query(spark, monkeypatch):
    """A query's physical plan must not depend on what ran before it in
    the session: a capped dedup whose pair estimate is huge sizes its
    OWN candidate exchange and leaves session conf alone."""
    from sec_edgar_spark import catalog
    from sec_edgar_spark.operators import dedup as D
    from sec_edgar_spark.queries import QUERIES

    def query_b():
        return catalog.table(spark, SF, "lineitem").groupBy("l_returnflag").count()

    real = D.token_df_stats

    def forced(*a, **kw):
        # 2**31 pairs × 32 B = 64 GiB of estimated candidate shuffle
        return real(*a, **kw)[:3] + (2**31, 2**31)

    conf0 = spark.conf.get("spark.sql.shuffle.partitions")
    plan0 = _executed(query_b())
    monkeypatch.setattr(D, "token_df_stats", forced)
    try:
        capped = _executed(QUERIES["dedup_prefix_filter_capped"](spark, SF))
    finally:
        spark.catalog.clearCache()
    assert "hashpartitioning(tok, 512)" in capped
    assert spark.conf.get("spark.sql.shuffle.partitions") == conf0
    assert _executed(query_b()) == plan0
