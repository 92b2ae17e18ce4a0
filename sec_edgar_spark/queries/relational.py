"""Relational-core battery: scans, filters, joins (all strategies),
aggregations (incl. rollup/distinct), windows, sorts/limits, set ops.

This is the capability surface SURVEY §2.3-§2.7 requires: the reference
queries its filing-index relation with exactly these shapes (group-by-CIK
collect A1, union-merge A2/U1-U2, running count A3, per-group top-k L1,
broadcast lookup J1), generalized here over the driver's TPC-H-ish
tables so every operator is DuckDB-oracle-checked.

Scale notes (100 TB): every join below either broadcasts a dimension
(nation/region/supplier at real scale are KB-MB) or shuffles on a
high-cardinality key with AQE skew handling on; aggregates are partial
(map-side) by construction since all are algebraic; windows partition on
high-cardinality keys (custkey/user_id), never a global orderBy without
a preceding reduction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.functions import broadcast

from ..catalog import table
from .registry import query


def _dec(c, prec: int = 12, scale: int = 2):
    return c.cast(f"decimal({prec},{scale})")


# ---------------------------------------------------------------------------
# Aggregation core
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)))
           AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
               * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2)))
           AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: full-scan filter + algebraic hash aggregate.

    Exercises partial (map-side) aggregation; the only shuffle carries 6
    tiny groups.  Filter and 7-column projection push to the parquet scan.
    """
    l = table(spark, sf_dir, "lineitem")
    qty = _dec(F.col("l_quantity"))
    price = _dec(F.col("l_extendedprice"))
    disc = _dec(F.col("l_discount"), 4, 2)
    tax = _dec(F.col("l_tax"), 4, 2)
    one_minus_disc = _dec(F.lit(1) - disc, 4, 2)
    one_plus_tax = _dec(F.lit(1) + tax, 4, 2)
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * one_minus_disc).cast("double").alias("sum_disc_price"),
            F.sum(price * one_minus_disc * one_plus_tax)
            .cast("double")
            .alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(disc).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)))
           AS DOUBLE) AS revenue,
      o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '2000-03-15'
      AND l_shipdate  > TIMESTAMP '2000-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter + 3-way join + agg + top-k.

    customer(filtered) is small relative to lineitem → explicit
    broadcast; orders↔lineitem shuffles on orderkey.  The final LIMIT has
    a total-order tiebreak (revenue, o_orderdate, l_orderkey) so top-10
    is deterministic under any partitioning.
    """
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("2000-03-15").cast("timestamp")
    )
    l = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("2000-03-15").cast("timestamp")
    )
    price = _dec(F.col("l_extendedprice"))
    disc = _dec(F.col("l_discount"), 4, 2)
    one_minus_disc = _dec(F.lit(1) - disc, 4, 2)
    o_building = o.join(broadcast(c), o.o_custkey == c.c_custkey)
    return (
        l.join(o_building, l.l_orderkey == o_building.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(price * one_minus_disc).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle="""
    SELECT n_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)))
           AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with three broadcastable dims.

    nation/region/supplier broadcast (they are KB-MB even at 100 TB
    lineitem scale); the single big shuffle is orders↔lineitem on
    orderkey.  Catalyst pushes the date filter into the orders scan.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    price = _dec(F.col("l_extendedprice"))
    disc = _dec(F.col("l_discount"), 4, 2)
    one_minus_disc = _dec(F.lit(1) - disc, 4, 2)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(price * one_minus_disc).cast("double").alias("revenue"))
    )


@query(
    "agg_distinct_parts",
    oracle="""
    SELECT l_returnflag,
      COUNT(DISTINCT l_partkey) AS distinct_parts,
      COUNT(DISTINCT l_suppkey) AS distinct_supps,
      COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand + two-phase agg under the hood)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.countDistinct("l_suppkey").alias("distinct_supps"),
            F.count("*").alias("n"),
        )
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
      GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
      COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets with GROUPING() disambiguation of NULLs."""
    l = table(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        F.count("*").alias("n"),
        F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
    ).select("l_returnflag", "l_linestatus", "g_flag", "g_status", "n", "sum_qty")


@query(
    "a1_group_collect",
    oracle="""
    SELECT o_custkey AS cik,
      COUNT(*) AS n_filings,
      string_agg(o_orderkey::VARCHAR, ',' ORDER BY o_orderkey) AS filing_keys
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_custkey
    """,
)
def a1_group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 group-by-CIK list aggregation (core/_index.py:174-178).

    The reference builds dict[cik → list[FilingEntry]] in a Python loop;
    here it's a hash aggregate with an order-pinned collect (sort_array
    so the result is deterministic under partitioning — SURVEY §7 risk 2).
    """
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return o.groupBy(F.col("o_custkey").alias("cik")).agg(
        F.count("*").alias("n_filings"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("o_orderkey")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("filing_keys"),
    )


@query(
    "a2_union_merge",
    oracle="""
    SELECT o_custkey AS cik, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM (
      SELECT o_custkey, o_totalprice FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      UNION ALL
      SELECT o_custkey, o_totalprice FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
    )
    GROUP BY o_custkey
    """,
)
def a2_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/U1 dict-merge: union of per-date-range sources then ONE
    re-aggregation (combo.py:213-240 reduced-merge as union+agg)."""
    o = table(spark, sf_dir, "orders")
    early = o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    late = o.filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
    u = early.select("o_custkey", "o_totalprice").unionByName(
        late.select("o_custkey", "o_totalprice")
    )
    return u.groupBy(F.col("o_custkey").alias("cik")).agg(
        F.count("*").alias("n"),
        F.sum(_dec(F.col("o_totalprice"))).cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# Windows
# ---------------------------------------------------------------------------

@query(
    "a3_running_count",
    oracle="""
    SELECT o_orderkey, o_custkey,
      CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) - 1 AS BIGINT)
        AS num_previously_valid
    FROM orders
    WHERE o_orderstatus <> 'P'
    """,
)
def a3_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 running valid-entry counter (core/_index.py:160-173).

    num_previously_valid = count of filter-passing rows before this one.
    The reference counts in file order; we pin an explicit total order
    (o_orderdate, o_orderkey) per partition key — SURVEY §7 risk 2.
    Partitioned by custkey (high cardinality) so no single-reducer sort.
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") != "P")
        .select(
            "o_orderkey",
            "o_custkey",
            (F.row_number().over(w) - 1).cast("bigint").alias("num_previously_valid"),
        )
    )


@query(
    "l1_topk_per_group",
    oracle="""
    SELECT cik, o_orderkey, o_orderdate, rk FROM (
      SELECT o_custkey AS cik, o_orderkey, o_orderdate,
        CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey) AS BIGINT) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def l1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 per-company count limit (company.py:198-213): newest 3 filings
    per CIK as row_number ≤ k — Spark ≥3.5 plans WindowGroupLimit, so
    the per-group truncation happens before the full sort at scale."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), "o_orderkey")
    return (
        table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("cik"),
            "o_orderkey",
            "o_orderdate",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@query(
    "window_moving_avg",
    oracle="""
    SELECT event_id, user_id, ts,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
      / COUNT(*) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS moving_avg
    FROM events
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding row-frame window (4-event moving average per user).

    Decimal-exact sum / count in double — deterministic across engines.

    HOT-KEY WARNING: one window task owns a user's whole event stream,
    so a key holding 30 % of a 100 TB table is one task holding 30 %
    of the table (the class BENCH_SF1_SKEW.md measured).  Stays
    registered as the oracle-exact single-window semantics; the
    production path is window_moving_avg_salted (bit-identical,
    rank-block frames via operators.relational.salted_moving_agg).
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        (
            F.sum(_dec(F.col("value"), 18)).over(w).cast("double")
            / F.count("*").over(w)
        ).alias("moving_avg"),
    )


@query(
    "window_moving_avg_salted",
    oracle="""
    SELECT event_id, user_id, ts,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
      / COUNT(*) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS moving_avg
    FROM events
    """,
)
def window_moving_avg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window_moving_avg with the SALTED rank-block device
    (operators.relational.salted_moving_agg): global per-user rank via
    salted_rank (time-bucket salt), then per-(user, rank-block) bounded
    windows with a ≤3-row carried tail per block — identical output to
    the single-window form (the oracle IS window_moving_avg's), but no
    task ever owns more than block_rows + 3 rows of any key, however
    hot.  Closes the last "salting candidate" in the HotKeyWindow
    audit: the bounded-ROWS-frame analog of events_sessionize_salted.

    Scale shape: the salted_rank shuffles on (user, time-bucket) + one
    vocabulary-shaped offsets pass; then one shuffle on (user, block).
    """
    from ..operators.relational import salted_moving_agg

    e = table(spark, sf_dir, "events").withColumn("_v", _dec(F.col("value"), 18))
    out = salted_moving_agg(
        e,
        "user_id",
        "ts",
        ["event_id"],
        aggs={"_sum": ("_v", "sum"), "_cnt": ("*", "count")},
        frame_rows=4,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("_sum").cast("double") / F.col("_cnt")).alias("moving_avg"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

@query(
    "j_semi_anti",
    oracle="""
    SELECT 'with_orders' AS bucket, COUNT(*) AS n FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    UNION ALL
    SELECT 'without_orders' AS bucket, COUNT(*) AS n FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def j_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins (EXISTS / NOT EXISTS)."""
    c = table(spark, sf_dir, "customer")
    big = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    semi = c.join(big, c.c_custkey == big.o_custkey, "left_semi").agg(
        F.count("*").alias("n")
    ).select(F.lit("with_orders").alias("bucket"), "n")
    anti = c.join(big, c.c_custkey == big.o_custkey, "left_anti").agg(
        F.count("*").alias("n")
    ).select(F.lit("without_orders").alias("bucket"), "n")
    return semi.unionByName(anti)


@query(
    "j_outer_coalesce",
    oracle="""
    SELECT c_custkey, COALESCE(o.n, 0) AS n_orders,
           COALESCE(o.total, 0.0) AS total_spent
    FROM customer
    LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders GROUP BY o_custkey
    ) o ON c_custkey = o_custkey
    """,
)
def j_outer_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join with NULL-fill — aggregate-then-join so the outer
    side joins against a pre-reduced relation (shuffle carries one row
    per customer, not one per order)."""
    c = table(spark, sf_dir, "customer")
    o = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec(F.col("o_totalprice"))).cast("double").alias("total"),
        )
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey",
        F.coalesce(o.n, F.lit(0)).alias("n_orders"),
        F.coalesce(o.total, F.lit(0.0)).alias("total_spent"),
    )


# ---------------------------------------------------------------------------
# Sorts / limits / set ops
# ---------------------------------------------------------------------------

@query(
    "sort_limit_global",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def sort_limit_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject (no full sort materialized);
    total-order tiebreak keeps it deterministic."""
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(100)
    )


@query(
    "setop_intersect_except",
    oracle="""
    SELECT 'both' AS bucket, COUNT(*) AS n FROM (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    )
    UNION ALL
    SELECT 'urgent_only' AS bucket, COUNT(*) AS n FROM (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    )
    """,
)
def setop_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set semantics (distinct variants)."""
    o = table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    both = urgent.intersect(low).agg(F.count("*").alias("n")).select(
        F.lit("both").alias("bucket"), "n"
    )
    only = urgent.subtract(low).agg(F.count("*").alias("n")).select(
        F.lit("urgent_only").alias("bucket"), "n"
    )
    return both.unionByName(only)
