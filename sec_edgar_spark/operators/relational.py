"""Relational helper operators (library surface).

The reference's order-sensitive operators (SURVEY §2.4 A3, §2.6 L1) as
reusable window compositions with explicit total orders — determinism
under partitioned scans is the contract (SURVEY §7 risk 2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._lineage import lineage_cut


def topk_per_group(
    df: DataFrame, partition_by: list[str], order_by: list[Column], k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """L1 per-group top-k (company.py:198-213): row_number ≤ k.

    Spark ≥3.5 plans WindowGroupLimit — each partition keeps only k rows
    before the window sort completes, so this is safe on skewed groups.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def running_count(
    df: DataFrame,
    order_by: list[Column],
    partition_by: list[str] | None = None,
    out_col: str = "num_previously_valid",
) -> DataFrame:
    """A3 running valid-entry counter (core/_index.py:160-173): number of
    preceding rows in the pinned order.  Partition by the source file at
    scale; global order only for single-file semantics."""
    w = (
        Window.partitionBy(*partition_by) if partition_by else Window.partitionBy()
    ).orderBy(*order_by)
    return df.withColumn(out_col, (F.row_number().over(w) - 1).cast("bigint"))


def salted_aggregate(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation for skewed keys.

    ``aggs`` maps output column → (input column, fn) where fn is an
    algebraic agg ('sum'/'count'/'min'/'max').  Phase 1 groups on
    (key, salt) so a hot key's rows spread over ``salt_buckets``
    reducers; phase 2 merges the partials per key.

    When to use — measured honestly (tools/skew_probe.py, SCALE.md r6:
    80M rows, one key = 50%): for ALGEBRAIC aggs the plain groupBy WINS
    (6.5x) — hash aggregation's map-side combine already collapses each
    mapper's hot-key rows to one partial row, so the shuffle never sees
    the skew; Catalyst's distinct rewrite likewise re-keys
    count_distinct's phase 1 on (key, value).  Salting earns its
    shuffle only when partials stay row-sized — collect_list /
    array-building states (pre-split with phase-1 salt, flatten in
    phase 2) — or when the skewed key feeds a JOIN (salted_join, which
    won 2.4x on the same data).
    """
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    phase1_aggs = []
    for out, (col, fn) in aggs.items():
        if fn == "count":
            phase1_aggs.append(F.count(col).alias(out))
        elif fn in ("sum", "min", "max"):
            phase1_aggs.append(getattr(F, fn)(col).alias(out))
        else:
            raise ValueError(f"non-algebraic agg {fn!r} cannot be salted")
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*df.columns), F.lit(salt_buckets))
    )
    partial = salted.groupBy(key, "_salt").agg(*phase1_aggs)
    final_aggs = [
        merge_fn[fn](out).alias(out) for out, (_, fn) in aggs.items()
    ]
    return partial.groupBy(key).agg(*final_aggs)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
    salt_source: str | Column | None = None,
) -> DataFrame:
    """Skew-proof equi-join: salt the fact side, replicate the dim side.

    Each fact row gets a deterministic salt in [0, salt_buckets); the
    dim side is exploded ``salt_buckets``× so every (key, salt) pair
    exists — a hot fact key's rows now land on ``salt_buckets``
    reducers instead of one (AQE's skew split can divide the streamed
    side's partitions but never the matching build side; salting cures
    the hotspot structurally).  Dim replication costs salt_buckets×
    its size, so keep the dim the smaller input.

    ``salt_source``: a per-row column (e.g. the fact's primary key)
    fed through md5 for an engine-portable salt; default is xxhash64
    over all fact columns — fine when rows are distinct, but pass an
    explicit unique column when they may not be (identical rows would
    pile onto one salt) or when the salt must be reproducible outside
    the JVM.  Never ``rand()``: retries/replays must re-salt
    identically.

    ``how`` is restricted to inner/left/semi/anti — the shapes where
    the result is row-identical to the unsalted join.  right/full
    would emit each UNMATCHED dim row once per replica (salt_buckets
    copies), silently inflating outer results, so they raise.
    """
    normalized = how.lower().replace("_", "")
    if normalized not in ("inner", "left", "leftouter", "leftsemi", "semi",
                          "leftanti", "anti"):
        raise ValueError(
            f"salted_join supports inner/left/semi/anti, got {how!r}: "
            "right/full outer would duplicate unmatched dim rows "
            "salt_buckets times"
        )
    if salt_source is None:
        src_hash = F.xxhash64(*[F.col(c) for c in fact.columns])
    else:
        from ..functions.text import md5_hash64

        src = (
            F.col(salt_source) if isinstance(salt_source, str) else salt_source
        )
        src_hash = md5_hash64(src)
    salted_fact = fact.withColumn(
        "_salt", F.pmod(src_hash, F.lit(salt_buckets))
    )
    replicated_dim = dim.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<long>")),
    )
    out = salted_fact.join(replicated_dim, [key, "_salt"], how)
    return out.drop("_salt")


def global_rank(df: DataFrame, order_by: list[str]) -> DataFrame:
    """Exact global 1-based rank over a UNIQUE total order, computed in
    parallel — the scale-safe replacement for
    ``row_number().over(Window.orderBy(...))``, whose empty-partition
    window moves every row to ONE task (the classic global-sort
    bottleneck; the equi-depth probe measured it superlinear at 10x).

    Two-phase ranking:
    1. range-repartition + local sort on the order key (the same
       machinery as a global orderBy — parallel, spills fine);
    2. per-partition row counts (a P-row aggregate) cumsum into start
       offsets, broadcast back, added to the partition-local
       row_number.

    The order key must be unique (callers append tiebreak columns);
    with a unique key the rank is independent of where the range
    partitioner happens to cut, so the result is deterministic even
    though boundary sampling isn't.  Adds column ``rn``.

    Partition count is sized by the frame's estimated bytes, clamped
    to [1, defaultParallelism] (operators/stats.range_parts,
    r14): ranks are cheap per row, so a small frame in one partition
    beats paying 3 stages × core-count tasks of scheduling overhead;
    a large frame still gets the full parallelism.  The rank VALUE is
    partitioning-independent (unique total order), so this is a pure
    physical choice.
    """
    from .stats import range_parts

    parts = range_parts(df)
    # lineage_cut pins ONE materialization of the range shuffle:
    # the offsets subtree and the final pass below must see the SAME
    # partition boundaries.  Without it they are two independent
    # executions of repartitionByRange whose sampled boundaries can
    # differ (exchange reuse usually unifies them, but that is an
    # optimization, not a guarantee) — per-_pid counts would then
    # mismatch the data and ranks would duplicate or skip.
    sorted_df = (
        df.repartitionByRange(parts, *order_by)
        .withColumn("_pid", F.spark_partition_id())
        .transform(lineage_cut)
    )
    counts = sorted_df.groupBy("_pid").agg(F.count("*").alias("_n"))
    woff = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(woff), F.lit(0)).alias("_off")
    )
    wloc = Window.partitionBy("_pid").orderBy(*order_by)
    return (
        sorted_df.join(F.broadcast(offsets), "_pid")
        .withColumn("rn", F.row_number().over(wloc) + F.col("_off"))
        .drop("_pid", "_off")
    )


def salted_rank(
    df: DataFrame,
    key_cols: list[str] | str,
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
    bucket_s: int | None = 6 * 3600,
    out_col: str = "_rk",
) -> DataFrame:
    """Exact per-key 1-based rank ordered by ``(ts, *tiebreaks)``,
    computed WITHOUT a per-key window — the hot-key-safe replacement
    for ``row_number().over(Window.partitionBy(key).orderBy(ts, ...))``,
    whose single task owns a hot key's ENTIRE stream (a key holding
    30 % of a 100 TB table = one task holding 30 % of the table; the
    r10 skew corpus measured the class — BENCH_SF1_SKEW.md).

    The per-key analog of :func:`global_rank`'s two-phase device,
    with TIME BUCKETS as the salt (the fragment-merge idea of
    operators/sessionize.py): because the order key leads with the
    timestamp and buckets partition the time axis (equal timestamps
    share a bucket by construction), concatenating per-(key, bucket)
    sorted runs in bucket order IS the per-key sorted stream, so

    1. rank locally per (key, bucket) — the hot key spreads across
       ~(timespan / bucket_s) tasks;
    2. per-(key, bucket) row counts — map-side-combined down to a
       vocabulary-shaped frame — cumsum per key across buckets into
       start offsets (a per-key window over BUCKET SUMMARIES, not
       events);
    3. rank = local rank + own bucket's offset (equi-join on
       (key, bucket) — the same partitioning the window produced).

    ``(ts, *tiebreaks)`` must be unique within a key (callers append a
    unique id — same caveat as the single-window form, where duplicate
    order keys already make row_number nondeterministic).  Bit-equal
    to the single-window rank: tests/test_salted_rank.py (adversarial
    + hypothesis property).  Adds ``out_col``; input columns pass
    through unchanged.

    ``bucket_s=None`` selects the classic PLAIN single-window rank —
    right when no hot key exists (the salted plan's extra Exchanges
    then cost more than they save); pass
    ``operators.stats.pick_bucket(...)`` to decide from measured key
    heat (VERDICT r11 #1).
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    tiebreak_cols = tiebreak_cols or []
    if bucket_s is None:
        w = Window.partitionBy(*key_cols).orderBy(ts_col, *tiebreak_cols)
        return df.withColumn(out_col, F.row_number().over(w)).select(
            *df.columns, out_col
        )
    if bucket_s < 1:
        raise ValueError(f"bucket_s must be >= 1, got {bucket_s}")
    b_us = int(bucket_s) * 1_000_000
    # Exact microsecond bucketing (Spark timestamps are micros, so
    # unix_micros is a lossless monotone map; NTZ casts to TIMESTAMP
    # under the UTC session — same rule as functions/scalars.epoch_s).
    ord_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # floor division in pure long arithmetic (pmod is non-negative, so
    # the subtracted numerator is exactly divisible; the double divide
    # of a <2^53 exact numerator by an exact divisor with an integer
    # quotient is exact).
    base = ord_us - F.pmod(ord_us, F.lit(b_us))
    e = df.withColumn("_srk_bkt", (base / F.lit(b_us)).cast("long"))

    wl = Window.partitionBy(*key_cols, "_srk_bkt").orderBy(
        ts_col, *tiebreak_cols
    )
    local = e.withColumn("_srk_lrk", F.row_number().over(wl))

    counts = e.groupBy(*key_cols, "_srk_bkt").agg(F.count("*").alias("_srk_n"))
    woff = Window.partitionBy(*key_cols).orderBy("_srk_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # NULL-SAFE join back onto the stream (r12): the window/groupBy
    # machinery above groups a NULL key like any value (matching the
    # plain single-window partitionBy semantics), but a plain equi-join
    # here silently DROPPED every NULL-key row — the one place in the
    # salted family where NULL keys took a different path than the
    # plain twin (tests/test_salted_null_keys.py pins parity).
    # EqualNullSafe is a hash-joinable equi-predicate, so the plan
    # shape is unchanged.
    offsets = counts.select(
        *[F.col(c).alias(f"_srk_k{i}") for i, c in enumerate(key_cols)],
        F.col("_srk_bkt").alias("_srk_bkt2"),
        F.coalesce(F.sum("_srk_n").over(woff), F.lit(0)).alias("_srk_off"),
    )
    cond = F.col("_srk_bkt") == F.col("_srk_bkt2")
    for i, c in enumerate(key_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"_srk_k{i}"))
    return (
        local.join(offsets, cond)
        # int like row_number(): schema-identical to the single-window
        # form (oracle schema checks compare dtypes)
        .withColumn(out_col, (F.col("_srk_lrk") + F.col("_srk_off")).cast("int"))
        .select(*[local[c] for c in df.columns], out_col)
    )


def salted_suffix_min(
    df: DataFrame,
    key_cols: list[str] | str,
    ts_col: str,
    tiebreak_cols: list[str],
    value_col: str,
    out_col: str,
    bucket_s: int | None = 6 * 3600,
) -> DataFrame:
    """Per-key suffix minimum WITHOUT a per-key window: for every row,
    ``out_col`` = min(``value_col``) over the rows STRICTLY AFTER it in
    ``(ts, *tiebreaks)`` ascending order within its key (the
    "next-matching-event" lookup of funnel analytics, via a min over
    a when()-null value).  NULLs in ``value_col`` are ignored (min
    semantics); rows with no successor get NULL.

    The classic form is one window per key — a hot key's whole stream
    in one task (the events_funnel_conversion row measured 4.7× at
    sf10-skew before this).  Salted on time buckets, min commutes:

    1. local suffix-min per (key, bucket): descending sort,
       strictly-PRECEDING running frame (the r10 O(n) frame rule);
    2. per-(key, bucket) min of ``value_col`` — map-side combined —
       then a per-key running min over strictly-LATER bucket summaries
       (vocabulary-shaped);
    3. each bucket's carry re-enters the window input as one SYNTHETIC
       row ordered before the bucket's real rows in the descending
       traversal (_ord = bucket end > every real timestamp there), so
       the local running min alone yields the final answer — the big
       frame is never joined or re-sorted (same trick as the salted
       as-of).

    Exact: equal timestamps share a bucket (tie rules stay local) and
    min is associative across the bucket split.  Timestamps must be
    non-null.  ``bucket_s=None`` = plain single-window form (heat-
    dispatched via operators.stats.pick_bucket, VERDICT r11 #1).
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    if bucket_s is None:
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(
                F.desc(ts_col), *[F.desc(c) for c in tiebreak_cols]
            )
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return df.withColumn(out_col, F.min(value_col).over(w))
    if bucket_s < 1:
        raise ValueError(f"bucket_s must be >= 1, got {bucket_s}")
    b_us = int(bucket_s) * 1_000_000
    ord_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = ord_us - F.pmod(ord_us, F.lit(b_us))
    e = df.withColumn("_ssm_ord", ord_us).withColumn(
        "_ssm_bkt", (base / F.lit(b_us)).cast("long")
    ).withColumn("_ssm_syn", F.lit(False))

    cells = e.groupBy(*key_cols, "_ssm_bkt").agg(
        F.min(value_col).alias("_ssm_c")
    )
    wcarry = (
        Window.partitionBy(*key_cols)
        .orderBy(F.desc("_ssm_bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry_rows = (
        cells.withColumn("_ssm_carry", F.min("_ssm_c").over(wcarry))
        .filter(F.col("_ssm_carry").isNotNull())
        .select(
            *key_cols,
            *[
                F.lit(None).cast(e.schema[c].dataType).alias(c)
                for c in df.columns
                if c not in key_cols and c != value_col
            ],
            F.col("_ssm_carry").alias(value_col),
            # bucket end: strictly greater than every real _ord in the
            # bucket, so the synthetic row sorts FIRST in descending
            # order and lands in every real row's strictly-preceding
            # frame
            (F.col("_ssm_bkt") * b_us + b_us).alias("_ssm_ord"),
            F.col("_ssm_bkt"),
            F.lit(True).alias("_ssm_syn"),
        )
    )

    tb_desc = [F.desc(c) for c in tiebreak_cols]
    wl = (
        Window.partitionBy(*key_cols, "_ssm_bkt")
        .orderBy(F.desc("_ssm_ord"), *tb_desc)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        e.unionByName(carry_rows.select(*e.columns))
        .withColumn(out_col, F.min(value_col).over(wl))
        .filter(~F.col("_ssm_syn"))
        .drop("_ssm_ord", "_ssm_bkt", "_ssm_syn")
    )


def salted_prev(
    df: DataFrame,
    key_cols: list[str] | str,
    ts_col: str,
    tiebreak_cols: list[str],
    payload_cols: list[str],
    out_prefix: str = "prev_",
    bucket_s: int | None = 6 * 3600,
) -> DataFrame:
    """Per-key LAG WITHOUT a per-key window: for every row, attach the
    immediately preceding row's ``payload_cols`` in ``(ts, *tiebreaks)``
    ascending order within its key, as ``<out_prefix><col>`` (NULL for
    the key's first row) — the hot-key-safe replacement for
    ``F.lag(col).over(Window.partitionBy(key).orderBy(ts, tb))``.

    Same fragment device as :func:`salted_suffix_min`, mirrored:
    "previous row" = max over the strictly-preceding frame of
    ``struct(_ord, *tiebreaks, payloads)`` (struct max is
    lexicographic, so it picks exactly the immediate predecessor —
    ``(ts, *tiebreaks)`` must be unique within a key, the same
    requirement that makes the classic lag deterministic).  Locally
    that max runs per (key, bucket); each bucket inherits the LAST row
    of all earlier buckets through one map-side-combined max per cell,
    a per-key running max over bucket summaries, and a synthetic row
    sorted before the bucket's real rows.  Timestamps must be
    non-null; payload columns must be orderable types (they ride
    inside the comparison struct).  ``bucket_s=None`` = plain LAG
    single-window form (heat-dispatched via
    operators.stats.pick_bucket, VERDICT r11 #1).
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    if bucket_s is None:
        w = Window.partitionBy(*key_cols).orderBy(ts_col, *tiebreak_cols)
        return df.select(
            *df.columns,
            *[
                F.lag(c).over(w).alias(f"{out_prefix}{c}")
                for c in payload_cols
            ],
        )
    if bucket_s < 1:
        raise ValueError(f"bucket_s must be >= 1, got {bucket_s}")
    b_us = int(bucket_s) * 1_000_000
    ord_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = ord_us - F.pmod(ord_us, F.lit(b_us))
    ostruct = F.struct(
        F.col("_sp_ord").alias("_o"),
        *[F.col(c).alias(f"_t{i}") for i, c in enumerate(tiebreak_cols)],
        F.struct(*[F.col(c) for c in payload_cols]).alias("_p"),
    )
    e = (
        df.withColumn("_sp_ord", ord_us)
        .withColumn("_sp_bkt", (base / F.lit(b_us)).cast("long"))
        .withColumn("_sp_syn", F.lit(0))
        .withColumn("_sp_os", ostruct)
    )

    cells = e.groupBy(*key_cols, "_sp_bkt").agg(F.max("_sp_os").alias("_c"))
    wcarry = Window.partitionBy(*key_cols).orderBy("_sp_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry_rows = (
        cells.withColumn("_carry", F.max("_c").over(wcarry))
        .filter(F.col("_carry").isNotNull())
        .select(
            *key_cols,
            *[
                F.lit(None).cast(e.schema[c].dataType).alias(c)
                for c in df.columns
                if c not in key_cols
            ],
            # bucket start sorts ≤ every real _ord in the bucket; the
            # _sp_syn = -1 priority puts the synthetic row FIRST even
            # against a real row exactly on the edge
            (F.col("_sp_bkt") * b_us).alias("_sp_ord"),
            F.col("_sp_bkt"),
            F.lit(-1).alias("_sp_syn"),
            F.col("_carry").alias("_sp_os"),
        )
    )

    wl = (
        Window.partitionBy(*key_cols, "_sp_bkt")
        .orderBy("_sp_ord", "_sp_syn", *tiebreak_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.max("_sp_os").over(wl)
    out = (
        e.unionByName(carry_rows.select(*e.columns))
        .withColumn("_sp_prev", prev)
        .filter(F.col("_sp_syn") == 0)
    )
    return out.select(
        *df.columns,
        *[
            F.col(f"_sp_prev._p.{c}").alias(f"{out_prefix}{c}")
            for c in payload_cols
        ],
    )


def salted_next(
    df: DataFrame,
    key_cols: list[str] | str,
    ts_col: str,
    tiebreak_cols: list[str],
    payload_cols: list[str],
    out_prefix: str = "next_",
    bucket_s: int | None = 6 * 3600,
) -> DataFrame:
    """Per-key LEAD WITHOUT a per-key window — the forward mirror of
    :func:`salted_prev`: for every row, the immediately FOLLOWING
    row's ``payload_cols`` in ``(ts, *tiebreaks)`` ascending order
    within its key, as ``<out_prefix><col>`` (NULL for the key's last
    row).  "Next row" = min over the strictly-following frame of
    ``struct(_ord, *tiebreaks, payloads)``; the frame is expressed as
    a DESCENDING sort with a strictly-preceding running min (the r10
    O(n) frame rule), per (key, bucket), with each bucket inheriting
    the FIRST row of all later buckets via one map-side-combined min
    per cell + a synthetic row sorted before the bucket's real rows in
    the descending traversal (its _ord is the exclusive bucket end, so
    no real row can tie it).  Same uniqueness/orderability/non-null-ts
    requirements as salted_prev.  ``bucket_s=None`` = plain LEAD
    single-window form (heat-dispatched via
    operators.stats.pick_bucket, VERDICT r11 #1)."""
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    if bucket_s is None:
        w = Window.partitionBy(*key_cols).orderBy(ts_col, *tiebreak_cols)
        return df.select(
            *df.columns,
            *[
                F.lead(c).over(w).alias(f"{out_prefix}{c}")
                for c in payload_cols
            ],
        )
    if bucket_s < 1:
        raise ValueError(f"bucket_s must be >= 1, got {bucket_s}")
    b_us = int(bucket_s) * 1_000_000
    ord_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = ord_us - F.pmod(ord_us, F.lit(b_us))
    ostruct = F.struct(
        F.col("_sn_ord").alias("_o"),
        *[F.col(c).alias(f"_t{i}") for i, c in enumerate(tiebreak_cols)],
        F.struct(*[F.col(c) for c in payload_cols]).alias("_p"),
    )
    e = (
        df.withColumn("_sn_ord", ord_us)
        .withColumn("_sn_bkt", (base / F.lit(b_us)).cast("long"))
        .withColumn("_sn_syn", F.lit(0))
        .withColumn("_sn_os", ostruct)
    )

    cells = e.groupBy(*key_cols, "_sn_bkt").agg(F.min("_sn_os").alias("_c"))
    wcarry = (
        Window.partitionBy(*key_cols)
        .orderBy(F.desc("_sn_bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry_rows = (
        cells.withColumn("_carry", F.min("_c").over(wcarry))
        .filter(F.col("_carry").isNotNull())
        .select(
            *key_cols,
            *[
                F.lit(None).cast(e.schema[c].dataType).alias(c)
                for c in df.columns
                if c not in key_cols
            ],
            (F.col("_sn_bkt") * b_us + b_us).alias("_sn_ord"),
            F.col("_sn_bkt"),
            F.lit(-1).alias("_sn_syn"),
            F.col("_carry").alias("_sn_os"),
        )
    )

    wl = (
        Window.partitionBy(*key_cols, "_sn_bkt")
        .orderBy(
            F.desc("_sn_ord"),
            F.asc("_sn_syn"),
            *[F.desc(c) for c in tiebreak_cols],
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt = F.min("_sn_os").over(wl)
    out = (
        e.unionByName(carry_rows.select(*e.columns))
        .withColumn("_sn_next", nxt)
        .filter(F.col("_sn_syn") == 0)
    )
    return out.select(
        *df.columns,
        *[
            F.col(f"_sn_next._p.{c}").alias(f"{out_prefix}{c}")
            for c in payload_cols
        ],
    )


def salted_moving_agg(
    df: DataFrame,
    key_cols: list[str] | str,
    ts_col: str,
    tiebreak_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    frame_rows: int,
    bucket_s: int | None = 6 * 3600,
    block_rows: int = 4096,
) -> DataFrame:
    """Per-key sliding ROWS frame (``frame_rows-1 PRECEDING .. CURRENT
    ROW``) WITHOUT a per-key window — the hot-key-safe replacement for
    ``agg(col).over(Window.partitionBy(key).orderBy(ts, tb)
    .rowsBetween(-(frame_rows-1), 0))``, whose single task owns a hot
    key's ENTIRE stream (the class BENCH_SF1_SKEW.md measured).

    ``aggs`` maps output column → (input column, fn) with fn one of
    'sum'/'count'/'min'/'max'/'avg' ('count' with input '*' counts
    frame rows).  Unlike the per-key running aggregates (where
    :func:`salted_suffix_min` / :func:`salted_prev` carry ONE summary
    per bucket), a bounded rows frame needs the previous W-1 ROWS, so
    the salt is a RANK BLOCK, not a time bucket:

    1. global per-key rank via :func:`salted_rank` (itself salted on
       time buckets — no per-key stream window anywhere);
    2. block = (rank-1) div ``block_rows``; a frame of width W ≤
       block_rows spans at most two adjacent blocks, so each block's
       LAST W-1 rows are replicated into the next block as synthetic
       carry rows (≤ (W-1)/block_rows row overhead);
    3. one window per (key, block) — every cell holds ≤ block_rows +
       W - 1 rows regardless of key heat — computes the frame aggs;
       carry rows contribute to frames but are filtered from output.

    Exactness: the frame of a row at in-block position p < W-1 needs
    j ≤ W-1-p rows from the previous block, all at positions ≥
    block_rows-(W-1) there — exactly the carried tail.  Frames at a
    key's start are naturally short (rank < W rows), matching the SQL
    frame.  Requires ``(ts, *tiebreaks)`` unique per key (the same
    caveat as the single-window form) and ``block_rows ≥ frame_rows``.
    Bit-equal to the single-window frame: tests/test_salted_moving_agg.py
    (adversarial + hypothesis property).  Input columns pass through.
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    if frame_rows < 1:
        raise ValueError(f"frame_rows must be >= 1, got {frame_rows}")
    if block_rows < frame_rows:
        raise ValueError(
            f"block_rows ({block_rows}) must be >= frame_rows "
            f"({frame_rows}): a frame may span at most two blocks"
        )
    _FNS = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max,
            "avg": F.avg}
    for out, (_, fn) in aggs.items():
        if fn not in _FNS:
            raise ValueError(f"unsupported agg fn {fn!r} for {out!r}")

    # bucket_s=None: plain per-key ROWS-frame window (heat-dispatched
    # via operators.stats.pick_bucket, VERDICT r11 #1)
    if bucket_s is None:
        wp = (
            Window.partitionBy(*key_cols)
            .orderBy(ts_col, *tiebreak_cols)
            .rowsBetween(-(frame_rows - 1), Window.currentRow)
        )
        out = df
        for out_col, (in_col, fn) in aggs.items():
            src = F.lit(1) if in_col == "*" else F.col(in_col)
            out = out.withColumn(out_col, _FNS[fn](src).over(wp))
        return out

    ranked = salted_rank(
        df, key_cols, ts_col, tiebreak_cols, bucket_s=bucket_s,
        out_col="_sma_rn",
    )
    pos = (F.col("_sma_rn") - 1) % block_rows
    native = (
        ranked
        .withColumn(
            # integer DIV, never FP: a double quotient can round UP
            # across an integer boundary at extreme ranks for
            # non-power-of-two block_rows, misassigning the block
            "_sma_bkt",
            F.expr(f"CAST((_sma_rn - 1) DIV {int(block_rows)} AS BIGINT)"),
        )
        .withColumn("_sma_syn", F.lit(False))
    )
    carry = (
        native.filter(pos >= block_rows - (frame_rows - 1))
        .withColumn("_sma_bkt", F.col("_sma_bkt") + 1)
        .withColumn("_sma_syn", F.lit(True))
    ) if frame_rows > 1 else None
    cells = native.unionByName(carry) if carry is not None else native

    wl = (
        Window.partitionBy(*key_cols, "_sma_bkt")
        .orderBy("_sma_rn")
        .rowsBetween(-(frame_rows - 1), Window.currentRow)
    )
    out = cells
    for out_col, (in_col, fn) in aggs.items():
        src = F.lit(1) if in_col == "*" else F.col(in_col)
        out = out.withColumn(out_col, _FNS[fn](src).over(wl))
    return (
        out.filter(~F.col("_sma_syn"))
        .drop("_sma_rn", "_sma_bkt", "_sma_syn")
    )


def parallel_ntile(df: DataFrame, order_by: list[str], k: int) -> DataFrame:
    """Exact NTILE(k) over a unique total order without the single-
    partition window: bucket sizes follow SQL NTILE exactly (first
    ``n mod k`` buckets get ``n//k + 1`` rows), derived arithmetically
    from :func:`global_rank`'s rn and the total count (a 1-row agg
    broadcast back — never a driver collect).  Adds column ``bucket``.
    """
    ranked = global_rank(df, order_by)
    total = ranked.agg(F.count("*").alias("_total"))
    base = (F.col("_total") / k).cast("bigint")  # n div k
    r = F.col("_total") - base * k  # n mod k buckets get base+1 rows
    cut = r * (base + 1)  # last rn served by the larger buckets
    bucket = F.when(
        F.col("rn") <= cut,
        ((F.col("rn") - 1) / (base + 1)).cast("bigint") + 1,
    ).otherwise(
        r + ((F.col("rn") - cut - 1) / base).cast("bigint") + 1
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("bucket", bucket.cast("int"))
        .drop("_total")
    )


def grouped_weighted_cumsum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    weight_col: str,
    out_col: str = "cw",
) -> DataFrame:
    """Running weighted total within each group over a UNIQUE total
    order, computed in parallel — the scale-safe replacement for
    ``sum(w).over(Window.partitionBy(G).orderBy(K))`` when the group
    cardinality is SMALL (a 3-value flag column caps that window at
    3 tasks regardless of cluster size; the weighted-percentile probe
    measured it 3.8x at 10x for exactly this reason).

    Same two-phase device as :func:`global_rank`, generalized to
    grouped weighted sums:
    1. range-repartition on (group, order) + pin ONE materialization
       (the offsets subtree and the final pass must see the same
       partition boundaries);
    2. per-(partition, group) weight totals — a P×|G| frame — cumsum
       per group across partitions into start offsets, broadcast
       back, added to the partition-local running sum.

    (group_cols + order_cols) must be a unique key (callers append
    tiebreaks); uniqueness makes the running total independent of
    where the range partitioner cuts.  Adds ``out_col``.

    Partition count: bytes-derived with a defaultParallelism ceiling
    (operators/stats.range_parts, r14 — same rationale as
    global_rank; the running total is partitioning-independent).
    """
    from .stats import range_parts

    parts = range_parts(df)
    sorted_df = (
        df.repartitionByRange(parts, *group_cols, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .transform(lineage_cut)
    )
    psums = sorted_df.groupBy("_pid", *group_cols).agg(
        F.sum(weight_col).alias("_pw")
    )
    woff = Window.partitionBy(*group_cols).orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = psums.select(
        "_pid",
        *group_cols,
        F.coalesce(F.sum("_pw").over(woff), F.lit(0)).alias("_off"),
    )
    wloc = Window.partitionBy("_pid", *group_cols).orderBy(
        *order_cols
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        sorted_df.join(F.broadcast(offsets), ["_pid", *group_cols])
        .withColumn(out_col, F.sum(weight_col).over(wloc) + F.col("_off"))
        .drop("_pid", "_off")
    )
