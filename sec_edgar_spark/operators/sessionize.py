"""Salted (two-level) exact sessionization — per-key windows without
per-key partitions.

The classic lag→flag→cumsum sessionize partitions its window by
user_id, so ONE task owns ALL of a hot user's events.  Sorting is
O(n log n), but at 100 TB a key holding 30 % of the table means one
task holding 30 % of the table — the r10 skew corpus (BENCH_SF1_SKEW)
makes that concrete, and unlike aggregation there is no map-side
combine to hide behind: window semantics need the key's full ordered
stream... or do they?

Sessions have a locality property the global window ignores: an event
can only extend a session that is within ``gap_s`` of it.  So split
time into buckets STRICTLY LONGER than the gap and sessionize each
(user, bucket) independently — any true session boundary inside a
bucket is visible locally, and the only decisions a bucket cannot make
alone are at its edges.  Those edges are exactly the per-bucket
session FRAGMENTS, of which a user has at most (sessions + buckets
touched) — vocabulary-shaped, thousands of times smaller than the
event stream.  A second lag→flag→cumsum over fragments (per user)
merges chains whose inter-fragment gap is ≤ gap_s and numbers global
sessions identically to the single-window form.

Exactness argument:
- within a bucket, consecutive local sessions have gap > gap_s by
  construction, so they are distinct global sessions too;
- across fragments, the merge flag compares true epochs, so a session
  spanning ANY number of buckets (continuous activity) chains through
  flag=0 fragments, and a user absent for a whole bucket has
  gap > bucket_s > gap_s — correctly split;
- fragment order per user is total (ordered by first (ts, id)), and
  fragments never interleave in time (buckets partition the epoch
  axis), so the fragment cumsum reproduces the event-level cumsum's
  session numbering exactly.
Equality with the single-window operator is asserted on real data and
on adversarial bucket-spanning cases in tests/test_sessionize.py.

Scale shape: one shuffle on (user, bucket) — the hot user spreads
across ~(timespan / bucket_s) partitions — a same-keyed fragment
aggregate (no extra Exchange), then one tiny shuffle on user over
fragments.  The cost of exactness vs the approximate "just cut at
bucket edges" is the fragment merge, which is free at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import epoch_s


def salted_sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_s: int = 30 * 60,
    bucket_s: int | None = 6 * 3600,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """(user, session_id, n_events, first_ep, last_ep) — exact 30-min-gap
    sessions (``session_id`` = per-user 1-based running index, identical
    to the single-window lag→flag→cumsum numbering).

    ``payload_cols`` additionally returns ``entry`` / ``exit`` structs —
    the (ts, id, *payloads) of the session's argmin/argmax row by
    (ts, id) — the entry/exit-page analytics shape, computed exactly
    through the fragment split because struct-min/max is associative:
    per-fragment extrema in the local pass, extrema-of-extrema in the
    merge (a session is the disjoint union of its fragments).

    ``bucket_s=None`` = the classic PLAIN single-window lag→flag→cumsum
    (heat-dispatched via operators.stats.pick_bucket, VERDICT r11 #1) —
    identical output, one per-user window instead of the two-level
    fragment merge."""
    payload_cols_plain = payload_cols or []
    if bucket_s is None:
        e = events.select(
            user_col, ts_col, id_col, *payload_cols_plain
        ).withColumn("_ep", epoch_s(F.col(ts_col)))
        wl = Window.partitionBy(user_col).orderBy(ts_col, id_col)
        wl_run = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        local = e.withColumn(
            "_start",
            F.when(
                F.lag("_ep").over(wl).isNull()
                | (F.col("_ep") - F.lag("_ep").over(wl) > gap_s),
                1,
            ).otherwise(0),
        ).withColumn("session_id", F.sum("_start").over(wl_run))
        final_pay = []
        if payload_cols_plain:
            st = F.struct(
                F.col(ts_col),
                F.col(id_col),
                *[F.col(c) for c in payload_cols_plain],
            )
            final_pay = [F.min(st).alias("entry"), F.max(st).alias("exit")]
        return local.groupBy(
            user_col, F.col("session_id").cast("bigint").alias("session_id")
        ).agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("_ep").cast("bigint").alias("first_ep"),
            F.max("_ep").cast("bigint").alias("last_ep"),
            *final_pay,
        )
    if bucket_s <= gap_s:
        raise ValueError(
            f"bucket_s ({bucket_s}) must exceed gap_s ({gap_s}): a bucket "
            "shorter than the gap can hide a session boundary from both "
            "the local pass and the fragment merge"
        )
    payload_cols = payload_cols or []
    e = events.select(user_col, ts_col, id_col, *payload_cols).withColumn(
        "_ep", epoch_s(F.col(ts_col))
    )
    e = e.withColumn("_bkt", F.floor(F.col("_ep") / bucket_s))

    wl = Window.partitionBy(user_col, "_bkt").orderBy(ts_col, id_col)
    wl_run = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = e.withColumn(
        "_start",
        F.when(
            F.lag("_ep").over(wl).isNull()
            | (F.col("_ep") - F.lag("_ep").over(wl) > gap_s),
            1,
        ).otherwise(0),
    ).withColumn("_ls", F.sum("_start").over(wl_run))

    # fragments: maximal in-bucket runs — grouped on the window's own
    # partition keys, so no new Exchange
    pay_aggs = []
    if payload_cols:
        st = F.struct(
            F.col(ts_col), F.col(id_col), *[F.col(c) for c in payload_cols]
        )
        pay_aggs = [F.min(st).alias("_ent"), F.max(st).alias("_ext")]
    frags = local.groupBy(user_col, "_bkt", "_ls").agg(
        F.count("*").alias("_n"),
        F.min("_ep").alias("_min_ep"),
        F.max("_ep").alias("_max_ep"),
        F.min(F.struct(F.col(ts_col), F.col(id_col))).alias("_first"),
        *pay_aggs,
    )

    wf = Window.partitionBy(user_col).orderBy("_first")
    wf_run = wf.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged = frags.withColumn(
        "_new",
        F.when(
            F.lag("_max_ep").over(wf).isNull()
            | (F.col("_min_ep") - F.lag("_max_ep").over(wf) > gap_s),
            1,
        ).otherwise(0),
    ).withColumn("session_id", F.sum("_new").over(wf_run))

    final_pay = (
        [F.min("_ent").alias("entry"), F.max("_ext").alias("exit")]
        if payload_cols
        else []
    )
    return merged.groupBy(
        user_col, F.col("session_id").cast("bigint").alias("session_id")
    ).agg(
        F.sum("_n").cast("bigint").alias("n_events"),
        F.min("_min_ep").cast("bigint").alias("first_ep"),
        F.max("_max_ep").cast("bigint").alias("last_ep"),
        *final_pay,
    )
