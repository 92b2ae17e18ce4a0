"""Mathematical invariants of the statistics battery, asserted on the
real gate tables (properties the oracle equality can't express)."""

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"
skip = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not present"
)


@skip
def test_cuped_never_increases_variance(spark):
    """var_adj = var_y - cov²/var(x)·(1/n-scaled) <= var_y, always —
    CUPED can only help (θ chosen to minimize)."""
    from sec_edgar_spark.queries.events import events_cuped_adjustment

    r = events_cuped_adjustment(spark, SF_DIR).collect()[0]
    assert r.var_adj <= r.var_y
    assert r.var_adj >= 0


@skip
def test_bootstrap_ci_brackets_truth_and_is_ordered(spark):
    from sec_edgar_spark.queries.scalepats import agg_bootstrap_ci

    r = agg_bootstrap_ci(spark, SF_DIR).collect()[0]
    assert r.ci_lo <= r.ci_mid <= r.ci_hi
    assert r.ci_width == r.ci_hi - r.ci_lo
    # Poisson(1) resamples of the mean should bracket the true mean at
    # these widths (not a guarantee, but a 30-sigma-safe sanity check
    # on this fixed dataset — a deterministic pipeline means this can
    # never flake)
    assert r.ci_lo <= r.true_mean_cents <= r.ci_hi


@skip
def test_ab_cells_partition_users(spark):
    from sec_edgar_spark.catalog import table
    from sec_edgar_spark.queries.events import events_ab_test

    r = events_ab_test(spark, SF_DIR).collect()[0]
    n_users = (
        table(spark, SF_DIR, "events").select("user_id").distinct().count()
    )
    assert r.na + r.nb == n_users
    assert 0 <= r.ca <= r.na and 0 <= r.cb <= r.nb


@skip
def test_rank_sum_u_bounds(spark):
    """0 <= U_A <= na*nb, and z's sign matches the mean-rank ordering."""
    from sec_edgar_spark.queries.events import events_rank_sum_test

    r = events_rank_sum_test(spark, SF_DIR).collect()[0]
    assert 0 <= r.u_a <= r.na * r.nb
    # U_A > na*nb/2  <=>  z > 0 (same monotone transform)
    assert (r.u_a > r.na * r.nb / 2) == (r.z > 0) or r.z == 0


@skip
def test_kcore_survivors_have_min_degree(spark):
    """After the pruning rounds every surviving node's degree within
    the surviving subgraph is >= k (the round invariant; at fixpoint
    it's the exact k-core)... degree reported IS within-subgraph, and
    one more round must be a no-op iff converged — here we just assert
    the reported degrees respect the bound after round 3's filter
    input (degrees can dip below k only for nodes whose neighbors died
    in the SAME round; assert the >= k set is non-trivial and degrees
    are positive)."""
    from sec_edgar_spark.queries.scalepats import graph_kcore_prune

    rows = graph_kcore_prune(spark, SF_DIR).collect()
    assert len(rows) > 0
    assert all(r.degree >= 1 for r in rows)


@skip
def test_kcore_fixpoint_is_exact_core_and_converges_fast(spark):
    """The fixpoint form must (a) satisfy the exact k-core contract —
    EVERY survivor's within-subgraph degree >= k, no same-round-death
    dips — and (b) equal the form capped at 4 rounds once rounds >= the
    convergence depth (2 on this graph), which also certifies the
    oracle's 4-round over-unroll (pruning is idempotent at fixpoint)."""
    from sec_edgar_spark.queries.scalepats import (
        _trade_edges,
        graph_kcore_fixpoint,
    )
    from sec_edgar_spark.operators.graph import kcore_fixpoint

    fx = {
        (r.id, r.degree)
        for r in graph_kcore_fixpoint(spark, SF_DIR).collect()
    }
    assert len(fx) > 0
    assert all(deg >= 3 for _, deg in fx)  # exact-core contract
    unrolled = {
        (r.id, r.degree)
        for r in kcore_fixpoint(_trade_edges(spark, SF_DIR), k=3, max_rounds=4)
        .collect()
    }
    assert fx == unrolled


def test_kcore_fixpoint_assert_rounds_raises_on_deep_graphs(spark):
    """The gate query pins assert_rounds=4 so its oracle's fixed
    4-round unroll can't silently diverge — verify the guard fires: a
    path graph peels one layer per round (2-core of a path is empty,
    reached only after len/2 dropping rounds), so assert_rounds=1 must
    raise, while an honest unroll bound passes."""
    import pytest

    from sec_edgar_spark.operators.graph import kcore_fixpoint

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "s long, d long"
    )
    with pytest.raises(ValueError, match="not converged after"):
        kcore_fixpoint(path, k=2, assert_rounds=1).collect()
    assert kcore_fixpoint(path, k=2, assert_rounds=10).count() == 0


@skip
def test_cusum_crossing_iff_statistic_reached_threshold(spark):
    """n_changepoints >= 1 <=> max_cusum >= H (= 4*total): the first
    time C reaches H is by definition an upcrossing (C starts at 0 <
    H); and the epoch sentinel appears exactly on the no-crossing
    users."""
    import datetime

    from sec_edgar_spark.queries.scalepats import events_cusum_changepoint

    rows = events_cusum_changepoint(spark, SF_DIR).collect()
    assert rows, "gate table produced no qualifying users"
    epoch = datetime.date(1970, 1, 1)
    for r in rows:
        crossed = r.n_changepoints >= 1
        assert crossed == (r.max_cusum >= 4 * r.total), r
        assert (r.first_cp_day == epoch) == (not crossed), r
        assert r.max_cusum >= 0


def test_cusum_constant_rate_never_alarms_and_shift_fires(spark):
    """A perfectly uniform user accumulates nothing (2n·cnt - 3s =
    -n·c < 0 every step); a sustained 9x level shift in the second
    half must fire, with the first crossing inside the shifted span
    (with n=20, s=100: shifted days contribute 2·20·9-3·100 = +60 to
    C, so C crosses H = 4s = 400 on the 7th shifted day)."""
    import datetime

    from sec_edgar_spark.queries.scalepats import events_cusum_changepoint

    base = datetime.datetime(2024, 1, 1)
    rows = []
    # user 1: constant 3 events/day for 20 days
    for d in range(20):
        for _ in range(3):
            rows.append((1, base + datetime.timedelta(days=d)))
    # user 2: 1/day for 10 days, then 9/day for 10 days
    for d in range(20):
        for _ in range(1 if d < 10 else 9):
            rows.append((2, base + datetime.timedelta(days=d)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")

    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(f"{td}/events.parquet")
        out = {
            r.user_id: r
            for r in events_cusum_changepoint(spark, td).collect()
        }
    assert out[1].n_changepoints == 0
    assert out[1].max_cusum == 0
    assert out[2].n_changepoints >= 1
    assert out[2].first_cp_day >= datetime.date(2024, 1, 11)
