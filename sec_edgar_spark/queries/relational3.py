"""TPC-H-shape widening: the classic decision-support plans not yet in
the battery, adapted to the testdata's columns (no partsupp table, no
l_shipmode/l_commitdate — substitutions noted per query).

Determinism: money aggregates in DECIMAL (exact) → DOUBLE at the end;
ratios divide two exact values in double; l_quantity is an integer
1..50 stored double, so its sums/avgs are exact in any order.  Every
top-k carries a total-order tiebreak (registry docstring rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..catalog import table
from ..functions import text as T
from .registry import query


def _dec(c, prec: int = 12, scale: int = 2):
    return c.cast(f"decimal({prec},{scale})")


_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))"
)


def _rev():
    price = _dec(F.col("l_extendedprice"))
    disc = _dec(F.col("l_discount"), 4, 2)
    return price * _dec(F.lit(1) - disc, 4, 2)


@query(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
      CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                    ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)
           / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
        CAST({_REV_SQL} AS DECIMAL(16,4)) AS volume,
        sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region   ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'ASIA'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): what fraction of the
    ASIA-customer order volume, per order year, was supplied by
    NATION_3.  Six-way join with role-playing nation dims.

    Plan: region/nation/supplier/customer all broadcast (small dims);
    the one real shuffle is lineitem↔orders on orderkey.  The share is
    a conditional-sum / sum over the SAME exact decimal column, divided
    once in double — engine-order-proof.
    """
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = table(spark, sf_dir, "supplier")
    cn = n.alias("cn")
    sn = n.alias("sn")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(broadcast(cn), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(broadcast(r), F.col("cn.n_regionkey") == F.col("r_regionkey"))
        .join(broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(broadcast(sn), F.col("s_nationkey") == F.col("sn.n_nationkey"))
    )
    vol = _rev().cast("decimal(16,4)")
    zero = F.lit(0).cast("decimal(16,4)")
    rows = joined.select(
        F.year("o_orderdate").alias("o_year"),
        vol.alias("volume"),
        F.col("sn.n_name").alias("supp_nation"),
    )
    return rows.groupBy("o_year").agg(
        (
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
                .otherwise(zero)
            ).cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share")
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
      CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
      CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1998-10-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top 20 customers by
    lost revenue from returned lineitems in one quarter.

    Plan: the returnflag + date filters push to the scans; customer and
    nation broadcast; the lineitem↔orders shuffle carries only the
    filtered quarter.  LIMIT has the (revenue DESC, c_custkey)
    total-order tiebreak.
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
        AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): orders per
    customer INCLUDING zero-order customers (left outer join with the
    filter inside the join condition — pushing it to WHERE would drop
    the zeros), then the histogram of those counts.

    Substitution: the reference filter ``o_comment NOT LIKE
    '%special%requests%'`` becomes ``o_orderpriority <> '1-URGENT'``
    (no comment column); identical plan shape.

    Plan: outer join shuffles on custkey; COUNT(col) (not COUNT(*))
    gives 0 for null-extended rows on both engines; second agg is over
    ~40 distinct counts.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no,
        CAST(SUM({_REV_SQL}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-07-01'
        AND l_shipdate <  TIMESTAMP '1998-10-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): per-supplier revenue over one
    quarter, return the supplier(s) achieving the maximum.

    Plan: one shuffle agg builds revenue0 from a SINGLE lineitem scan;
    the scalar MAX is a global max window over the aggregated
    per-supplier frame (supplier-cardinality rows through one
    partition — at 100 TB that's the supplier dim, not the fact
    table).  The naive ``revenue0.agg(max)`` + join-back recomputes
    the whole aggregate in Spark (no CTE materialization, no exchange
    reuse across the two branches — verified on the final AQE plan),
    scanning lineitem twice; the window trades that second fact scan
    for a dim-sized single-partition pass.  Revenue is an exact
    decimal sum cast to double, so the equality against MAX is
    representation-safe.
    """
    from pyspark.sql import Window

    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-07-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-10-01").cast("timestamp"))
    )
    s = table(spark, sf_dir, "supplier")
    revenue0 = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).cast("double").alias("total_revenue")
    )
    mx = F.max("total_revenue").over(Window.partitionBy())
    return (
        revenue0.withColumn("mx", mx)
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH perpart AS (
      SELECT l_partkey, AVG(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN perpart ON perpart.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#1' AND p_size <= 5
      AND l_quantity < 0.2 * avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lineitems whose
    quantity is below 20% of their part's average quantity, for one
    brand/size slice; total extended price / 7.

    Substitution: ``p_container = 'MED BOX'`` becomes ``p_size <= 5``
    (no container column).  The correlated scalar subquery becomes a
    pre-aggregated per-part frame joined back on partkey — the
    decorrelation Catalyst itself would do, written explicitly so the
    avg is computed ONCE.  l_quantity is an integer-valued double, so
    AVG is exact on both engines regardless of partial-sum order and
    the 0.2·avg comparison has no boundary ambiguity.

    Plan: two shuffles on partkey (agg + join, co-partitioned under
    AQE); part dim filter broadcasts.
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 5)
    )
    perpart = l.groupBy(F.col("l_partkey").alias("pp_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    joined = (
        l.join(broadcast(p), l.l_partkey == p.p_partkey)
        .join(perpart, l.l_partkey == F.col("pp_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    )
    return joined.agg(
        (F.sum(_dec(F.col("l_extendedprice"))).cast("double") / 7.0)
        .cast("double")
        .alias("avg_yearly")
    )


@query(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE
      (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
         AND l_quantity BETWEEN 1 AND 11)
      OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
         AND l_quantity BETWEEN 10 AND 20)
      OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
         AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive predicate revenue): three OR'd
    (brand, size-range, quantity-range) branches over the part join.

    Plan note: the disjunction mixes columns from both sides, so it
    cannot fully push below the join — but the common p_partkey
    equi-key keeps it a broadcast hash join with the residual OR as a
    post-join filter, and the per-side prefixes (p_size <= 15 ∨ ... ,
    l_quantity <= 30) are derivable pushdowns.  One exact decimal sum.
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & qty.between(20, 30)
        )
    )
    return (
        l.join(broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for
    finalized orders, suppliers whose lineitem was returned while
    every OTHER supplier on the same multi-supplier order was not —
    the classic EXISTS + NOT-EXISTS pair against the same fact table.

    Substitution: ``l_receiptdate > l_commitdate`` (absent columns)
    becomes ``l_returnflag = 'R'`` as the "at fault" predicate;
    identical semi/anti plan shape.

    Plan: both subqueries become one shuffle-keyed LEFT SEMI and one
    LEFT ANTI join on l_orderkey (co-partitioned with the l1 scan
    under AQE); orders filter pushes down; supplier dim broadcasts.
    No DISTINCT-rewrite, no self-cartesian.
    """
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = table(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k1"), F.col("l_suppkey").alias("sk1")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("sk2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("sk3")
    )
    waiting = (
        l1.join(
            l2,
            (F.col("k1") == F.col("k2")) & (F.col("sk1") != F.col("sk2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("k1") == F.col("k3")) & (F.col("sk1") != F.col("sk3")),
            "left_anti",
        )
        .join(o, F.col("k1") == o.o_orderkey)
        .join(broadcast(s), F.col("sk1") == s.s_suppkey)
    )
    return waiting.groupBy("s_name").agg(F.count("*").alias("numwait"))


@query(
    "q22_idle_balances",
    oracle="""
    WITH avgbal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
             / COUNT(*) AS a
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment,
      CAST(COUNT(*) AS BIGINT) AS numcust,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer, avgbal
    WHERE c_acctbal > a
      AND NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderpriority = '1-URGENT'
      )
    GROUP BY c_mktsegment
    """,
)
def q22_idle_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-threshold + anti-join): customers with
    above-average positive balances and no urgent orders, grouped by
    segment.

    Substitution: phone-country-code grouping becomes c_mktsegment (no
    phone column); ``no orders in 7 years`` becomes ``no URGENT
    orders`` (this generator gives every customer at least one order,
    so a bare anti-join would be vacuously empty at every sf) — same
    scalar-subquery + NOT EXISTS plan, non-trivial output.

    Plan: the global average is a 1-row frame (exact decimal sum /
    count, divided once in double — c_acctbal is a double column, so a
    naive double SUM would be partial-order-dependent and could flip
    the > boundary between engines) cross-joined broadcast; the NOT
    EXISTS is a LEFT ANTI shuffle join on custkey.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avgbal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(_dec(F.col("c_acctbal"))).cast("double") / F.count("*")
            ).alias("a")
        )
    )
    return (
        c.crossJoin(broadcast(avgbal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec(F.col("c_acctbal"))).cast("double").alias("totacctbal"),
        )
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation, o_year,
      CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT sn.n_name, EXTRACT(YEAR FROM o_orderdate) AS o_year,
        CAST({_REV_SQL} AS DECIMAL(18,4))
          - CAST(CAST(p_retailprice AS DECIMAL(12,2))
                 * CAST(0.6 AS DECIMAL(4,2))
                 * CAST(l_quantity AS DECIMAL(4,0)) AS DECIMAL(18,4))
          AS amount
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN orders   ON o_orderkey = l_orderkey
      WHERE p_name LIKE '%widget%'
    )
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): per supplier-nation per
    order-year profit on parts matching a name pattern.

    Substitution: no partsupp table in this dataset, so
    ``ps_supplycost`` becomes a cost proxy ``0.6 * p_retailprice``
    carried on the part dim — the plan keeps Q9's signature (fact scan
    joined to FOUR dims + orders, LIKE filter on the part name, profit
    = revenue minus cost*qty, grouped by a dim attribute and a derived
    year).  Ref: rahulrrixe/sec-edgar has no relational engine; this is
    battery widening per SURVEY.md §2.6.

    Plan: part (LIKE-filtered), supplier, nation all broadcast; the one
    big shuffle is lineitem↔orders on orderkey.  Profit is computed
    per-row in exact DECIMAL(18,4) and summed exactly; the only double
    cast is the final output — engine-order-proof.
    """
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").alias("sn")
    cost = (
        _dec(F.col("p_retailprice"))
        * F.lit(0.6).cast("decimal(4,2)")
        * F.col("l_quantity").cast("decimal(4,0)")
    ).cast("decimal(18,4)")
    amount = _rev().cast("decimal(18,4)") - cost
    rows = (
        l.join(broadcast(p), l.l_partkey == p.p_partkey)
        .join(broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(broadcast(n), F.col("s_nationkey") == F.col("sn.n_nationkey"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .select(
            F.col("sn.n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
    )
    return rows.groupBy("nation", "o_year").agg(
        F.sum("amount").cast("double").alias("sum_profit")
    )


@query(
    "q11_important_stock",
    oracle="""
    WITH partval AS (
      SELECT l_partkey,
        SUM(CAST(CAST(p_retailprice AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(4,0)) AS DECIMAL(18,2)))
          AS part_value
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey, CAST(part_value AS DOUBLE) AS value
    FROM partval
    WHERE CAST(part_value AS DOUBLE) * (SELECT COUNT(*) FROM partval)
          > (SELECT CAST(SUM(part_value) AS DOUBLE) FROM partval) * 1.5
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): per-part
    inventory value restricted to one nation group, keeping parts whose
    value exceeds a fraction of the GLOBAL total — the group-agg +
    global-scalar-threshold (HAVING with scalar subquery) shape.

    Substitution: no partsupp, so part value = Σ p_retailprice ×
    l_quantity over the lineitems shipped by suppliers of the chosen
    nations (an observed-flow inventory proxy), and the original's
    fixed fraction (which TPC-H itself rescales by 1/SF precisely
    because it empties out as the part count grows) becomes
    "value > 1.5 × the average part value" — scale-invariant, so the
    query stays non-trivial at every sf.

    Plan: ONE aggregation builds partval (shuffle on partkey; supplier/
    nation/part broadcast); the scalar total AND count are one window
    over the aggregated frame (part-dim cardinality through one
    partition — the q15 trade: no second fact scan).  Values are exact
    DECIMAL(18,2) sums; both engines derive the threshold from the same
    exact sums/counts with the same double ops (value·n > total·1.5),
    so the > boundary cannot flip.
    """
    from pyspark.sql import Window

    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    val = (
        _dec(F.col("p_retailprice")) * F.col("l_quantity").cast("decimal(4,0)")
    ).cast("decimal(18,2)")
    partval = (
        l.join(broadcast(p), l.l_partkey == p.p_partkey)
        .join(broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(val).alias("part_value"))
    )
    w = Window.partitionBy()
    return (
        partval.withColumn("total", F.sum("part_value").over(w))
        .withColumn("n_parts", F.count("*").over(w))
        .filter(
            F.col("part_value").cast("double") * F.col("n_parts")
            > F.col("total").cast("double") * 1.5
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("part_value").cast("double").alias("value"),
        )
    )


@query(
    "q12_late_priority",
    oracle="""
    SELECT l_returnflag AS shipgroup,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
    GROUP BY shipgroup
    """,
)
def q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes & order priority): for one
    year's late-shipped lineitems, count high- vs low-priority orders
    per group — the two-conditional-sum shape.

    Substitution: no l_shipmode/l_commitdate/l_receiptdate columns, so
    the group key is l_returnflag and "late" = shipped more than 30
    days after the order date (a cross-table comparison, like the
    original's receipt>commit — it cannot push below the join).

    Plan: the year range pushes to the lineitem scan; the lateness
    predicate filters after the orderkey shuffle join; counts are
    integer-exact.
    """
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        .groupBy(F.col("l_returnflag").alias("shipgroup"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "q20_potential_promotion",
    oracle="""
    WITH flows AS (
      SELECT l_partkey, l_suppkey,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS supp_qty
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#1'
        AND l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate <  TIMESTAMP '1999-01-01'
      GROUP BY l_partkey, l_suppkey
    ),
    dominant AS (
      SELECT DISTINCT l_suppkey FROM flows f
      WHERE 10 * supp_qty > 3 * (
        SELECT SUM(supp_qty) FROM flows t WHERE t.l_partkey = f.l_partkey
      )
    )
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
      AND s_nationkey < 10
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers who
    dominate the flow of some Brand#1 part in 1998 (supplied >30% of
    that part's total quantity), restricted to a nation set — the
    nested-IN + correlated-quantity-threshold shape.

    Substitution: no partsupp, so "availqty > ½·Σ qty" becomes
    "this supplier's shipped qty > 0.3·part total qty" computed from
    the same fact table; ``p_name like 'forest%'`` becomes p_brand.

    Plan: one agg builds (part, supp) flows — brand + year filters
    push to the scans, part broadcast; the correlated subquery is a
    window-sum over partkey on the aggregated frame (no second scan);
    the threshold is pure integer math (10·q > 3·Σ), no float
    boundary.  The final IN is a broadcast LEFT SEMI join into the
    supplier dim.
    """
    from pyspark.sql import Window

    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    s = table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 10)
    flows = (
        l.join(broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("supp_qty"))
    )
    part_total = F.sum("supp_qty").over(Window.partitionBy("l_partkey"))
    dominant = (
        flows.withColumn("part_qty", part_total)
        .filter(10 * F.col("supp_qty") > 3 * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return s.join(
        broadcast(dominant), s.s_suppkey == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


@query(
    "profile_lineitem",
    oracle="""
    WITH wide AS (
      SELECT COUNT(*) AS n_rows,
        COUNT(l_orderkey) AS ok_nn, COUNT(DISTINCT l_orderkey) AS ok_nd,
        CAST(MIN(l_orderkey) AS VARCHAR) AS ok_min,
        CAST(MAX(l_orderkey) AS VARCHAR) AS ok_max,
        COUNT(l_quantity) AS q_nn, COUNT(DISTINCT l_quantity) AS q_nd,
        CAST(CAST(MIN(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS q_min,
        CAST(CAST(MAX(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS q_max,
        COUNT(l_extendedprice) AS p_nn, COUNT(DISTINCT l_extendedprice) AS p_nd,
        CAST(CAST(MIN(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) AS p_min,
        CAST(CAST(MAX(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) AS p_max,
        COUNT(l_returnflag) AS rf_nn, COUNT(DISTINCT l_returnflag) AS rf_nd,
        MIN(l_returnflag) AS rf_min, MAX(l_returnflag) AS rf_max,
        COUNT(l_linestatus) AS ls_nn, COUNT(DISTINCT l_linestatus) AS ls_nd,
        MIN(l_linestatus) AS ls_min, MAX(l_linestatus) AS ls_max,
        COUNT(l_shipdate) AS sd_nn, COUNT(DISTINCT l_shipdate) AS sd_nd,
        strftime(MIN(l_shipdate), '%Y-%m-%d %H:%M:%S') AS sd_min,
        strftime(MAX(l_shipdate), '%Y-%m-%d %H:%M:%S') AS sd_max
      FROM lineitem
    ), melted AS (
      SELECT 'l_orderkey' AS "column", 'int' AS kind, n_rows,
             ok_nn AS n_nonnull, ok_nd AS n_distinct,
             ok_min AS min_repr, ok_max AS max_repr FROM wide
      UNION ALL SELECT 'l_quantity', 'num', n_rows, q_nn, q_nd,
             q_min, q_max FROM wide
      UNION ALL SELECT 'l_extendedprice', 'num', n_rows, p_nn, p_nd,
             p_min, p_max FROM wide
      UNION ALL SELECT 'l_returnflag', 'str', n_rows, rf_nn, rf_nd,
             rf_min, rf_max FROM wide
      UNION ALL SELECT 'l_linestatus', 'str', n_rows, ls_nn, ls_nd,
             ls_min, ls_max FROM wide
      UNION ALL SELECT 'l_shipdate', 'ts', n_rows, sd_nn, sd_nd,
             sd_min, sd_max FROM wide
    )
    SELECT "column", kind, n_rows, n_nonnull, n_distinct,
      min_repr, max_repr,
      CAST(n_nonnull AS DOUBLE) / n_rows AS completeness
    FROM melted
    """,
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality profile of the fact table: per-column
    completeness, exact distinct counts, canonical-string min/max — the
    "analyze table" surface — in ONE pass (operators/profile.py; the
    six distinct-aggs compile to a single Expand + HashAggregate, and
    the melt to long form touches a 1-row frame).  Canonical strings +
    a single double division keep the output driver-hash stable."""
    from ..operators.profile import ColumnSpec, profile_columns

    li = table(spark, sf_dir, "lineitem", spread=True)
    return profile_columns(
        li,
        [
            ColumnSpec("l_orderkey", "int"),
            ColumnSpec("l_quantity", "num"),
            ColumnSpec("l_extendedprice", "num"),
            ColumnSpec("l_returnflag", "str"),
            ColumnSpec("l_linestatus", "str"),
            ColumnSpec("l_shipdate", "ts"),
        ],
    )


@query(
    "audit_constraints",
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n,
             COUNT(l_orderkey) AS nk,
             COUNT(DISTINCT (l_orderkey, l_linenumber)) AS n_pk,
             SUM(CASE WHEN l_quantity BETWEEN 1 AND 50
                      THEN 1 ELSE 0 END) AS n_qty_ok,
             SUM(CASE WHEN l_discount >= 0 AND l_discount <= 0.1
                      THEN 1 ELSE 0 END) AS n_disc_ok,
             SUM(CASE WHEN l_returnflag IN ('A', 'N', 'R')
                      THEN 1 ELSE 0 END) AS n_flag_ok
      FROM lineitem
    )
    SELECT "constraint", CAST(actual AS BIGINT) AS actual,
           CAST(expected AS BIGINT) AS expected, passed FROM (
      SELECT 'completeness(l_orderkey)' AS "constraint", nk AS actual, n
             AS expected, nk = n AS passed FROM s
      UNION ALL
      SELECT 'unique(l_orderkey, l_linenumber)', n_pk, n, n_pk = n FROM s
      UNION ALL
      SELECT 'range(l_quantity in [1, 50])', n_qty_ok, n, n_qty_ok = n FROM s
      UNION ALL
      SELECT 'range(l_discount in [0, 0.1])', n_disc_ok, n, n_disc_ok = n
      FROM s
      UNION ALL
      SELECT 'domain(l_returnflag in A/N/R)', n_flag_ok, n, n_flag_ok = n
      FROM s
    )
    """,
)
def audit_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint CHECK suite as ONE pass: completeness,
    PK uniqueness, numeric ranges, and a domain check all fold into a
    single aggregate over the scan (the distinct-PK count rides the
    same hash agg), then pivot into one (constraint, actual, expected,
    passed) row each — the CI-gate surface a 100 TB ingest runs before
    publishing a partition.  Compare operators/observability.py for
    the zero-extra-pass in-flight variant; this one is the standalone
    audit with a verdict per rule."""
    l = table(spark, sf_dir, "lineitem")
    s = l.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("l_orderkey").alias("nk"),
        F.countDistinct("l_orderkey", "l_linenumber").alias("n_pk"),
        F.sum(F.col("l_quantity").between(1, 50).cast("long")).alias(
            "n_qty_ok"
        ),
        F.sum(
            ((F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.1)).cast(
                "long"
            )
        ).alias("n_disc_ok"),
        F.sum(F.col("l_returnflag").isin("A", "N", "R").cast("long")).alias(
            "n_flag_ok"
        ),
    )
    rules = [
        ("completeness(l_orderkey)", "nk"),
        ("unique(l_orderkey, l_linenumber)", "n_pk"),
        ("range(l_quantity in [1, 50])", "n_qty_ok"),
        ("range(l_discount in [0, 0.1])", "n_disc_ok"),
        ("domain(l_returnflag in A/N/R)", "n_flag_ok"),
    ]
    checks = F.array(
        *[
            F.struct(
                F.lit(name).alias("constraint"),
                F.col(c).alias("actual"),
                F.col("n").alias("expected"),
                (F.col(c) == F.col("n")).alias("passed"),
            )
            for name, c in rules
        ]
    )
    return s.select(F.explode(checks).alias("r")).select("r.*")


# k-anonymity threshold: equivalence classes smaller than this leak.
_KANON_K = 12


@query(
    "audit_k_anonymity",
    oracle=f"""
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      FROM customer GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, CAST(n AS BIGINT) AS class_size,
           CAST(0 AS BIGINT) AS gen_level, FALSE AS suppressed
    FROM cls WHERE n >= {_KANON_K}
    UNION ALL
    SELECT c_nationkey, '*' AS c_mktsegment, CAST(SUM(n) AS BIGINT),
           CAST(1 AS BIGINT), SUM(n) < {_KANON_K}
    FROM cls WHERE n < {_KANON_K} GROUP BY 1
    """,
)
def audit_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit with one generalization step (local recoding)
    — the privacy gate a dataset passes before quasi-identifiers ship:
    every (nation, market-segment) equivalence class must hold at
    least k={_K} records; classes below k generalize the segment away
    ('*') and re-test at the coarser (nation, *) level, and classes
    that STILL leak are marked suppressed — the standard
    generalize-then-suppress ladder (Sweeney's k-anonymity, computed
    bottom-up from exact class counts).

    Scale shape: one QI-keyed aggregate over the scan (output is
    vocabulary-shaped: |nations|x|segments| classes), pinned so the
    pass/violate split doesn't re-scan the fact table; the rollup
    re-aggregates only the violating classes.  At any corpus size the
    post-scan frames are class-count-shaped.
    """
    c = table(spark, sf_dir, "customer")
    cls = (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("n"))
        .cache()
    )
    ok = cls.filter(F.col("n") >= _KANON_K).select(
        "c_nationkey",
        "c_mktsegment",
        F.col("n").alias("class_size"),
        F.lit(0).cast("bigint").alias("gen_level"),
        F.lit(False).alias("suppressed"),
    )
    rolled = (
        cls.filter(F.col("n") < _KANON_K)
        .groupBy("c_nationkey")
        .agg(F.sum("n").alias("class_size"))
        .select(
            "c_nationkey",
            F.lit("*").alias("c_mktsegment"),
            F.col("class_size").cast("bigint"),
            F.lit(1).cast("bigint").alias("gen_level"),
            (F.col("class_size") < _KANON_K).alias("suppressed"),
        )
    )
    return ok.unionByName(rolled)


audit_k_anonymity.__doc__ = audit_k_anonymity.__doc__.replace(
    "{_K}", str(_KANON_K)
)


@query(
    "agg_weighted_percentiles",
    oracle="""
    WITH base AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(l_quantity AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem
    ), cum AS (
      SELECT flag, price_cents, w,
        SUM(w) OVER (PARTITION BY flag ORDER BY price_cents, l_orderkey,
                     l_linenumber ROWS UNBOUNDED PRECEDING) AS cw,
        SUM(w) OVER (PARTITION BY flag) AS tw
      FROM base
    )
    SELECT flag, CAST(MAX(tw) AS BIGINT) AS total_weight,
      MIN(CASE WHEN 4 * cw >= tw THEN price_cents END) AS p25_cents,
      MIN(CASE WHEN 2 * cw >= tw THEN price_cents END) AS p50_cents,
      MIN(CASE WHEN 4 * cw >= 3 * tw THEN price_cents END) AS p75_cents
    FROM cum GROUP BY flag
    """,
)
def agg_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED percentiles (p25/p50/p75 of extended price,
    weighted by quantity) per return flag — the primitive behind
    fair token-budget statistics ("the median document BY TOKEN COUNT"
    is a weighted median, not a row median; Spark ships approximate
    and row-exact percentiles but no weighted form).

    Lower weighted percentile: the smallest value v where the
    cumulative weight of all rows <= v reaches q of the total.  Every
    comparison is an integer cross-multiplication (4·cw >= 3·tw), so
    no division/float enters the plan; ties in value share a
    cumulative crossing, making the answer independent of tie order
    (the key tiebreak merely pins a total order for the window).

    Scale shape: a NAIVE ``sum(w) over (partition by flag order by
    price)`` caps parallelism at the number of flags (3) — the whole
    corpus through 3 tasks; the 10x probe measured that shape 3.8x.
    This plan collapses the corpus to a VALUE HISTOGRAM first
    (sum of weight per (flag, price) — a map-side-combined hash agg,
    fully parallel), so the cumulative window runs over the price
    DOMAIN (bounded by the cent grid, not the row count) and merging
    ties cannot move the percentile (the crossing value is the same
    whether equal prices accumulate in one step or many).  For
    percentiles over a continuous/unbounded domain where no histogram
    helps, the general tool is
    operators/relational.grouped_weighted_cumsum (two-phase grouped
    running sum, the global-ranker device) — unit-tested separately.
    """
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("price_cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    # hist is referenced twice (cumulative + totals); pinned so the
    # corpus scan runs once (domain-sized frame, free to cache).
    hist = base.groupBy("flag", "price_cents").agg(
        F.sum("w").alias("hw")
    ).cache()
    wcum = (
        Window.partitionBy("flag")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "flag", "price_cents", F.sum("hw").over(wcum).alias("cw")
    )
    # totals derive from the histogram, NOT from base — a second
    # reference to base would re-execute the corpus scan.
    totals = hist.groupBy("flag").agg(F.sum("hw").alias("tw"))
    cum = cum.join(broadcast(totals), "flag")
    pick = lambda a, b: F.min(  # noqa: E731
        F.when(a * F.col("cw") >= b * F.col("tw"), F.col("price_cents"))
    )
    return cum.groupBy("flag").agg(
        F.max("tw").cast("bigint").alias("total_weight"),
        pick(F.lit(4), F.lit(1)).alias("p25_cents"),
        pick(F.lit(2), F.lit(1)).alias("p50_cents"),
        pick(F.lit(4), F.lit(3)).alias("p75_cents"),
    )


def _selfjoin_oracle(depth: int = 4, width: int = 256) -> str:
    h = "CAST('0x' || substr(md5(j::VARCHAR || ':' || k), 1, 15) AS BIGINT)"
    return f"""
    WITH keys AS (
      SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
    ), probes AS (
      SELECT j, {h} % {width} AS bucket
      FROM keys CROSS JOIN (SELECT unnest(range({depth})) AS j)
    ), sketch AS (
      SELECT j, bucket, COUNT(*) AS cnt FROM probes GROUP BY 1, 2
    ), est AS (
      SELECT MIN(s) AS cms_estimate FROM (
        SELECT j, SUM(CAST(cnt AS HUGEINT) * cnt) AS s
        FROM sketch GROUP BY j)
    ), ex AS (
      SELECT SUM(CAST(c AS HUGEINT) * c) AS exact_size FROM (
        SELECT COUNT(*) AS c FROM keys GROUP BY k)
    )
    SELECT CAST(exact_size AS BIGINT) AS exact_size,
      CAST(cms_estimate AS BIGINT) AS cms_estimate,
      CAST(cms_estimate * 1000000 // exact_size AS BIGINT) AS over_ppm
    FROM ex, est
    """


@query("agg_selfjoin_size_estimate", oracle=_selfjoin_oracle())
def agg_selfjoin_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join cardinality estimation from a count-min sketch — the
    classic AMS/CM second-moment application: F₂ = Σ_v f(v)² is what a
    planner needs to size ``lineitem ⋈ lineitem ON l_partkey`` (or to
    detect key skew before choosing a join strategy), and the sketch
    answers it from D×W bounded cells instead of an exact per-key
    frequency table.  Row-wise Σ cnt² over-estimates F₂ by collision
    cross-terms; min over the D rows is the estimate.  Alongside the
    exact answer the query emits the over-estimate ratio in ppm — on
    the fixed md5 hash family the whole structure is deterministic, so
    the oracle replays the sketch (and its collisions) bit-for-bit.

    Scale shape: sketch build = one map-side-combined groupBy into
    ≤ D×W cells; exact F₂ (emitted for the gate's comparison) is one
    key-grained aggregate; nothing corpus-shaped survives either.
    """
    from ..operators.sketches import countmin_build, countmin_self_join_size

    li = table(spark, sf_dir, "lineitem", spread=True)
    keys = li.select(F.col("l_partkey").cast("string").alias("k"))
    sketch = countmin_build(keys, "k", depth=4, width=256)
    est = countmin_self_join_size(sketch)
    c = F.col("c").cast("decimal(38,0)")
    exact = (
        keys.groupBy("k")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(c * c).alias("exact_size"))
    )
    return exact.crossJoin(broadcast(est)).select(
        F.col("exact_size").cast("bigint").alias("exact_size"),
        F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
        F.expr(
            "CAST(CAST(cms_estimate AS DECIMAL(38,0)) * 1000000"
            " DIV exact_size AS BIGINT)"
        ).alias("over_ppm"),
    )


@query(
    "agg_trimmed_mean",
    oracle="""
    WITH base AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
      FROM lineitem
    ), hist AS (
      SELECT flag, price_cents, COUNT(*) AS h
      FROM base GROUP BY 1, 2
    ), cum AS (
      SELECT flag, price_cents, h,
        SUM(h) OVER (PARTITION BY flag ORDER BY price_cents
                     ROWS UNBOUNDED PRECEDING) AS cw,
        SUM(h) OVER (PARTITION BY flag) AS n
      FROM hist
    ), kept AS (
      SELECT flag, price_cents, n,
        GREATEST(LEAST(cw, n - n // 10) - GREATEST(cw - h, n // 10),
                 0) AS keep
      FROM cum
    )
    SELECT flag, CAST(MAX(n) AS BIGINT) AS n_rows,
      CAST(SUM(keep) AS BIGINT) AS n_kept,
      CAST(SUM(CAST(price_cents AS HUGEINT) * keep) AS DOUBLE)
        / CAST(SUM(keep) AS DOUBLE) AS trimmed_mean_cents
    FROM kept GROUP BY flag
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-trimmed mean per group (drop the lowest and highest
    decile of ROWS, average the middle 80%) — the robust location
    estimate a metrics pipeline uses where a plain mean is
    outlier-hostage and a median wastes data.

    Same scalable shape as agg_weighted_percentiles: collapse to a
    value histogram (map-side-combined hash agg), run the cumulative
    window over the price DOMAIN, then compute each value's surviving
    multiplicity as the overlap of its rank interval (cw−h, cw] with
    the kept band (n/10, n−n/10] — pure integer clamps, so the trim
    is exact at any tie structure.  The mean divides two exact
    integers in DOUBLE at the very end.
    """
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("price_cents"),
    )
    hist = base.groupBy("flag", "price_cents").agg(
        F.count("*").alias("h")
    )
    wcum = (
        Window.partitionBy("flag")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("flag")
    cum = hist.select(
        "flag",
        "price_cents",
        "h",
        F.sum("h").over(wcum).alias("cw"),
        F.sum("h").over(wtot).alias("n"),
    )
    lo = F.expr("n DIV 10")
    kept = cum.select(
        "flag",
        "price_cents",
        "n",
        F.greatest(
            F.least(F.col("cw"), F.col("n") - lo)
            - F.greatest(F.col("cw") - F.col("h"), lo),
            F.lit(0),
        ).alias("keep"),
    )
    pc = F.col("price_cents").cast("decimal(38,0)")
    return kept.groupBy("flag").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.sum("keep").cast("bigint").alias("n_kept"),
        (
            F.sum(pc * F.col("keep").cast("decimal(38,0)")).cast("double")
            / F.sum("keep").cast("double")
        ).alias("trimmed_mean_cents"),
    )


# KMV sketch size (bottom-k minimum hash values).
_KMV_K = 64


@query(
    "agg_kmv_distinct",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)),
                           1, 15) AS BIGINT) AS h
      FROM lineitem
    ), bottomk AS (
      SELECT h FROM hashed ORDER BY h LIMIT {_KMV_K}
    ), kth AS (
      SELECT MAX(h) AS hk, COUNT(*) AS k FROM bottomk
    ), ex AS (
      SELECT COUNT(DISTINCT l_partkey) AS exact_distinct FROM lineitem
    )
    SELECT CAST(exact_distinct AS BIGINT) AS exact_distinct,
      CAST(CASE WHEN k < {_KMV_K} THEN k
           ELSE (CAST(k - 1 AS HUGEINT) * 1152921504606846976) // hk END AS BIGINT)
        AS kmv_estimate,
      CAST(hk AS BIGINT) AS kth_min_hash
    FROM ex, kth
    """,
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch — the
    third member of the sketch family (CMS = frequencies, HLL =
    distincts via register maxima, KMV = distincts via order
    statistics): keep the k smallest hash values; the k-th smallest
    estimates the hash density, so n̂ = (k−1)·2^60 / h_(k) on the
    md5-derived 60-bit hash space.  Bottom-k sketches are also the
    mergeable basis for distinct SAMPLING (the k survivors are a
    uniform sample of the distinct keys) and set-resemblance.

    Under k distinct keys the sketch IS the exact answer (the CASE
    branch) — both engines replay the identical rule, and the
    estimate is one integer floor-division of exact integers.

    Scale shape: dedupe by hash (map-side combined), then a global
    bottom-k — TakeOrdered, never a full sort: each partition keeps
    its k smallest, the driver merges P·k values.  The exact count
    rides the same scan for the gate's comparison.
    """
    li = table(spark, sf_dir, "lineitem")
    h = T.md5_hash64(F.col("l_partkey").cast("string"))
    hashed = li.select(h.alias("h")).distinct()
    bottomk = hashed.orderBy("h").limit(_KMV_K)
    kth = bottomk.agg(F.max("h").alias("hk"), F.count("*").alias("k"))
    exact = li.agg(F.count_distinct("l_partkey").alias("exact_distinct"))
    return exact.crossJoin(broadcast(kth)).select(
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        F.when(F.col("k") < _KMV_K, F.col("k").cast("decimal(38,0)"))
        .otherwise(
            # (k-1)·2^60 exceeds int64 — exact in DECIMAL(38,0)
            F.expr(
                "CAST(k - 1 AS DECIMAL(38,0)) * 1152921504606846976 DIV hk"
            )
        )
        .cast("bigint")
        .alias("kmv_estimate"),
        F.col("hk").cast("bigint").alias("kth_min_hash"),
    )


# Sampler-uniformity buckets.
_UNIF_B = 16


@query(
    "audit_sampler_uniformity",
    oracle=f"""
    WITH b AS (
      SELECT CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
                   || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT)
             % {_UNIF_B} AS bucket
      FROM lineitem
    ), o AS (
      SELECT bucket, COUNT(*) AS obs FROM b GROUP BY bucket
    ), n AS (SELECT SUM(obs) AS n FROM o)
    SELECT CAST(n AS BIGINT) AS n_rows,
      CAST({_UNIF_B} AS BIGINT) AS n_buckets,
      CAST(SUM(CAST({_UNIF_B} * obs - n AS HUGEINT)
               * ({_UNIF_B} * obs - n)) AS DOUBLE)
        / ({_UNIF_B} * CAST(n AS DOUBLE)) AS chi2,
      CAST(MAX(obs) - MIN(obs) AS BIGINT) AS bucket_spread
    FROM o CROSS JOIN n GROUP BY n
    """,
)
def audit_sampler_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the repo's own sampling primitive: every deterministic
    sample in the battery keys on an md5-derived hash (splits,
    stratified/temperature sampling, bootstrap) — this query measures
    whether that hash actually spreads rows uniformly, as the
    chi-square statistic of the 16-bucket histogram against uniform
    (plus the raw max−min bucket spread).  χ² = Σ(B·o−n)² / (B·n) is
    formed from exact integers (HUGEINT/DECIMAL(38): (B·o−n)² can
    pass int64 at warehouse row counts) with ONE double division —
    engine-exact, like every other float-emitting gate.  Expected
    value under uniformity ≈ B−1 = 15; a sampler bug (biased hash,
    truncated key) shows up as χ² orders of magnitude larger.

    Scale shape: one bucket-keyed aggregate (16 groups), a 1-row
    total, and a 16-row reduction.
    """
    li = table(spark, sf_dir, "lineitem")
    h = T.md5_hash64(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit(":"),
            F.col("l_linenumber").cast("string"),
        )
    )
    o = (
        li.select((h % _UNIF_B).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("obs"))
    )
    n = o.agg(F.sum("obs").alias("n"))
    dev = (
        F.lit(_UNIF_B) * F.col("obs") - F.col("n")
    ).cast("decimal(38,0)")
    return (
        o.crossJoin(broadcast(n))
        .groupBy("n")
        .agg(
            F.lit(_UNIF_B).cast("bigint").alias("n_buckets"),
            (
                F.sum(dev * dev).cast("double")
                / (F.lit(_UNIF_B) * F.col("n").cast("double"))
            ).alias("chi2"),
            (F.max("obs") - F.min("obs")).cast("bigint").alias(
                "bucket_spread"
            ),
        )
        .select(
            F.col("n").cast("bigint").alias("n_rows"),
            "n_buckets",
            "chi2",
            "bucket_spread",
        )
    )


@query(
    "agg_kmv_resemblance",
    oracle=f"""
    WITH a AS (
      SELECT DISTINCT l_partkey AS k FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
    ), b AS (
      SELECT DISTINCT l_partkey AS k FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '5-LOW'
    ), u AS (
      SELECT COALESCE(a.k, b.k) AS k,
        a.k IS NOT NULL AS in_a, b.k IS NOT NULL AS in_b,
        CAST('0x' || substr(md5(CAST(COALESCE(a.k, b.k) AS VARCHAR)),
             1, 15) AS BIGINT) AS h
      FROM a FULL OUTER JOIN b ON a.k = b.k
    ), bottomk AS (
      SELECT in_a, in_b FROM u ORDER BY h, k LIMIT {_KMV_K}
    ), est AS (
      SELECT COUNT(*) AS kk,
        SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS n_both
      FROM bottomk
    ), ex AS (
      SELECT SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS inter,
        COUNT(*) AS uni
      FROM u
    )
    SELECT CAST(uni AS BIGINT) AS union_size,
      CAST(inter AS BIGINT) AS intersection_size,
      CAST(inter * 1000000 // uni AS BIGINT) AS jaccard_ppm,
      CAST(n_both * 1000000 // kk AS BIGINT) AS kmv_jaccard_ppm
    FROM ex, est
    """,
)
def agg_kmv_resemblance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set resemblance from the bottom-k sketch (Broder): the Jaccard
    similarity of two part-key sets (urgent-order parts vs low-
    priority-order parts) estimated as the fraction of the UNION's k
    minimum hash values that belong to both sets — the device behind
    MinHash itself, here in its sketch-comparison form (two stored
    bottom-k sketches answer resemblance without touching the data
    again).  Emitted next to the exact Jaccard so the gate
    value-checks both the estimate and its error.

    Scale shape: two distinct key sets (map-combined), one full outer
    join on the key, a TakeOrdered bottom-k of the union, two 1-row
    reductions.  In production the two bottom-k sketches are tiny
    persisted artifacts; the full outer join here exists only to also
    produce the exact answer for the gate.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")

    def side(prio: str, name: str) -> DataFrame:
        return (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .filter(F.col("o_orderpriority") == prio)
            .select(F.col("l_partkey").alias("k"))
            .distinct()
            .withColumn(name, F.lit(True))
        )

    a = side("1-URGENT", "in_a")
    b = side("5-LOW", "in_b")
    u = (
        a.join(b, "k", "full_outer")
        .select(
            "k",
            F.coalesce("in_a", F.lit(False)).alias("in_a"),
            F.coalesce("in_b", F.lit(False)).alias("in_b"),
            T.md5_hash64(F.col("k").cast("string")).alias("h"),
        )
    )
    bottomk = u.orderBy("h", "k").limit(_KMV_K)
    est = bottomk.agg(
        F.count("*").alias("kk"),
        F.sum((F.col("in_a") & F.col("in_b")).cast("long")).alias("both"),
    )
    ex = u.agg(
        F.sum((F.col("in_a") & F.col("in_b")).cast("long")).alias("inter"),
        F.count("*").alias("uni"),
    )
    return ex.crossJoin(broadcast(est)).select(
        F.col("uni").cast("bigint").alias("union_size"),
        F.col("inter").cast("bigint").alias("intersection_size"),
        F.expr("CAST(inter * 1000000 DIV uni AS BIGINT)").alias(
            "jaccard_ppm"
        ),
        F.expr("CAST(both * 1000000 DIV kk AS BIGINT)").alias(
            "kmv_jaccard_ppm"
        ),
    )
