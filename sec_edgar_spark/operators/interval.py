"""Banded range (interval) join — bounded-distance pairs without a
quadratic theta-join.

``range_join`` finds every (left, right) pair sharing an equi-key whose
timestamps lie within ``tolerance`` of each other.  Naively that is a
theta-join (|L|·|R| per key); the scale-safe formulation buckets both
sides into tolerance-width bins and equi-joins on (key, bin), probing
each left row against its own bin and the two neighbours — any pair
within tolerance is guaranteed to land in adjacent bins, and the exact
predicate then refines the candidates.  Cost: 3 bin-keys per left row
(explode), one shuffle-on-(key, bin) join, colocated refinement — the
same never-all-pairs shape as the LSH/grid joins in operators/dedup.py
and operators/similarity.py, applied to 1-D time.

This generalizes the reference's date-window filtering (F7/F8) from
point-lookup to pairwise association, and is the batch twin of a
stream-stream interval join (streaming/join_stream.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import epoch_s


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str,
    right_ts: str,
    tolerance_s: int,
    suffix: str = "_right",
) -> DataFrame:
    """Inner join of all pairs with ``|left_ts - right_ts| <= tolerance_s``
    sharing the equi-key; right columns come back ``<col><suffix>``.

    Bin width == tolerance, so a matching right row is always in the
    left row's bin or an adjacent one: probing bins {b-1, b, b+1} has
    perfect recall, and the exact refinement keeps precision.
    """
    if isinstance(on, str):
        on = [on]
    tol = F.lit(int(tolerance_s)).cast("long")
    # Exact integer bin start (x - x % tol): long arithmetic only, so
    # boundary timestamps never mis-bin the way double division can.
    l_sec = epoch_s(left_ts)
    r_sec = epoch_s(right_ts)
    l_bin = l_sec - (l_sec % tol)
    r_bin = r_sec - (r_sec % tol)

    probe = F.explode(F.array(l_bin - tol, l_bin, l_bin + tol)).alias("_bin")
    l2 = left.select("*", probe)
    r2 = right.select(
        *[F.col(c).alias(c) for c in on],
        r_bin.alias("_bin"),
        F.struct(*[F.col(c) for c in right.columns if c not in on]).alias("_r"),
    )
    joined = l2.join(r2, on=[*on, "_bin"])
    refined = joined.filter(
        F.abs(epoch_s(left_ts) - epoch_s(F.col(f"_r.{right_ts}")))
        <= tol
    )
    right_payload = [c for c in right.columns if c not in on]
    return refined.select(
        *[F.col(c) for c in left.columns],
        *[F.col(f"_r.{c}").alias(f"{c}{suffix}") for c in right_payload],
    )


def capped_recent_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_id: str,
    k: int,
    tolerance: str,
    bucket_s: int | None = 6 * 3600,
) -> DataFrame:
    """The SKEW-PROOF banded-join replacement for bounded-lookback
    association: for each left row, the at-most-``k`` MOST RECENT right
    rows with ``right_ts <= left_ts`` and ``left_ts - right_ts <=
    tolerance`` (a SQL interval string, e.g. ``'7 DAYS'``).

    Why it exists: ``range_join`` generates EVERY in-band pair before
    any cap can apply — on a hot key holding 30 % of a table that is
    O(hot²) candidates, and the r10 skew probe measured the outcome
    (Java-heap OOM → SparkContext death at sf1-skew; see
    BENCH_SF1_SKEW.md).  Here the pair count is ≤ k per LEFT ROW by
    construction, independent of key heat:

    1. rank right rows per key by (ts, id) — SALTED two-level rank
       (operators/relational.salted_rank: local rank per (key,
       time-bucket) + per-bucket count offsets), so a hot key's stream
       sorts across ~(timespan / bucket_s) tasks, never in one;
    2. as-of join (operators/asof.py, salted form — per-(key, bucket)
       windows + a bucket-summary carry, no candidate blowup) attaches
       to each left row the rank ``r`` of the latest right row
       at-or-before it;
    3. explode ``sequence(greatest(1, r-k+1), r)`` — exactly ≤ k
       candidate ranks per left row;
    4. equi-join on ``(key, rank)`` — and because rank is part of the
       join key, a hot key's rows SPREAD across the shuffle instead of
       landing in one partition;
    5. refine with the exact tolerance predicate.

    Until r11, steps 1-2 were the classic per-key window forms — the
    exact straggler class the rest of this operator was built to kill
    (VERDICT r10 #1); both are now bucket-salted, bit-equal by the
    same fragment-merge argument as salted_sessionize.
    ``bucket_s=None`` keeps steps 1-2 as the classic single-window
    forms (heat-dispatched via operators.stats.pick_bucket, r11 #1) —
    the per-left-row candidate cap of steps 3-5 applies either way.

    Returns all left columns + right payload columns (the right id and
    ts included) + ``_rk`` (the right row's per-key recency rank —
    larger = more recent), one row per surviving (left, right) pair.
    """
    if k < 1:
        # Same eager guard as salted_sessionize's bucket_s/gap_s check:
        # with k=0 the candidate expression F.sequence(greatest(1, r+1),
        # r) has start > stop, and Spark generates a DESCENDING sequence
        # — rank r+1 would silently join a right row possibly AFTER
        # left_ts (the final filter only bounds the lower side).
        raise ValueError(f"k must be >= 1, got {k}")
    from .relational import salted_rank

    ranked = salted_rank(
        right, on, right_ts, [right_id], bucket_s=bucket_s, out_col="_rk"
    )

    from .asof import asof_join

    anchored = asof_join(
        left,
        ranked.select(on, right_ts, "_rk"),
        on=on,
        left_ts=left_ts,
        right_ts=right_ts,
        right_cols=["_rk"],
        direction="backward",
        strict=False,
        suffix="_anchor",
        bucket_s=bucket_s,
    ).filter(F.col("_rk_anchor").isNotNull())

    cand = anchored.select(
        *left.columns,
        F.explode(
            F.sequence(
                F.greatest(F.lit(1), F.col("_rk_anchor") - F.lit(k - 1)),
                F.col("_rk_anchor"),
            )
        ).alias("_rk"),
    )
    out = cand.join(ranked, [on, "_rk"])
    return out.filter(
        F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {tolerance}")
    )
