"""Scale-pattern battery: the shuffle-volume / iterative-algorithm
shapes a 100 TB deployment leans on, each oracle-checked.

- Bloom-prefiltered semi-join (runtime-filter pattern, explicit and
  reusable): prune the fact scan before the shuffle when the dim is
  too big to broadcast as a hash relation but its Bloom filter isn't.
- Integer PageRank: iterative rank scoring made engine-replayable by
  doing every operation in non-negative BIGINT micro-units (floating
  PageRank can never be value-checked across engines — sum order).
- Interval sweep (max concurrency): the +1/-1 event-sweep that
  replaces the quadratic interval self-join.
- Seasonal baseline anomaly screen: two-pass filter-by-aggregate with
  exact-decimal moment sums so mean/variance are order-independent.

Determinism rules follow the registry docstring: exact DECIMAL or
BIGINT accumulation, DOUBLE only for final arithmetic on already-exact
operands, md5-only hashing, total-order tiebreaks on every top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.functions import broadcast

from ..catalog import table
from ..operators.bloom import bloom_prefilter
from ..operators.graph import ppr_int
from ..operators.zorder import morton_key, morton_key_sql
from .registry import query


@query(
    "j_bloom_prefilter",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    )
    GROUP BY o_orderpriority
    """,
)
def j_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join (operators/bloom.py): build the
    dim-key Bloom filter distributively (shuffle bounded by filter
    size, not key count), broadcast the one-row bit array over the
    fact scan, drop non-candidates inside the scan stage, THEN run the
    exact semi-join on the surviving ~0.1% of rows.

    At 100 TB this is the explicit form of Spark's runtime bloom
    filter (spark.sql.optimizer.runtime.bloomFilter.enabled): the
    exact join's shuffle moves |matches| + fp*|facts| rows instead of
    |facts|.  False positives are removed by the exact join, so the
    result equals the plain semi-join — which is what the oracle runs.
    """
    dim = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    keys = dim.select("c_custkey")
    facts = table(spark, sf_dir, "orders")
    candidates = bloom_prefilter(
        facts, "o_custkey", keys, "c_custkey", n_bits=1 << 18, k=5
    )
    exact = candidates.join(
        keys.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", "semi"
    )
    return exact.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("double")
        .alias("total_price"),
    )


_PR_SCALE = 10**12
_PR_EDGES_SQL = """
      SELECT DISTINCT o_custkey AS s, 1000000 + l_suppkey AS d
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_orderkey % 50 = 0
"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer↔supplier bipartite trade graph ``(s, d)`` every
    trade-graph query reads (suppliers offset by 1e6 into a shared id
    space) — _PR_EDGES_SQL is its oracle twin."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 50 == 0
    ).select("l_orderkey", "l_suppkey")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("s"),
            (F.lit(1000000) + F.col("l_suppkey")).alias("d"),
        )
        .distinct()
    )


def _pr_round(prev: str, out: str) -> str:
    """One integer-PageRank round as SQL (mirrors operators/graph.py
    ppr_int arithmetic with every node a seed exactly: BIGINT floor
    division via //)."""
    return f"""
    {out} AS (
      SELECT n.id,
             tele.t + (85 * COALESCE(i.s_in, 0)) // 100 AS rank
      FROM nodes n
      CROSS JOIN tele
      LEFT JOIN (
        SELECT e.d AS id, SUM(c.contrib) AS s_in
        FROM edges e
        JOIN (SELECT r.id, r.rank // dg.deg AS contrib
              FROM {prev} r JOIN deg dg ON r.id = dg.s) c
          ON e.s = c.id
        GROUP BY e.d
      ) i ON n.id = i.id
    )"""


@query(
    "graph_pagerank",
    oracle=f"""
    WITH raw AS ({_PR_EDGES_SQL}),
    edges AS (
      SELECT s, d FROM raw UNION SELECT d AS s, s AS d FROM raw
    ),
    deg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s),
    nodes AS (SELECT DISTINCT s AS id FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    tele AS (
      SELECT ((15 * {_PR_SCALE}::BIGINT) // 100) // n AS t,
             {_PR_SCALE}::BIGINT // n AS r0
      FROM nn
    ),
    r0 AS (SELECT id, tele.r0 AS rank FROM nodes CROSS JOIN tele),
    {_pr_round("r0", "r1")},
    {_pr_round("r1", "r2")},
    {_pr_round("r2", "r3")}
    SELECT id, CAST(rank AS BIGINT) AS rank
    FROM r3 ORDER BY rank DESC, id LIMIT 20
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 influence scores on the customer<->supplier trade graph
    (operators/graph.py ppr_int with every node a seed, 3 synchronous
    rounds).  Every operation is non-negative BIGINT — rank mass 1e12
    micro-units — so the scores are bit-identical regardless of
    partitioning, task order, or engine: the only way an iterative rank
    is value-checkable at all.  The oracle unrolls the same three rounds as CTEs.

    Scale shape: per round one node-id-partitioned join + one partial
    agg (same as connected components); the edge sample keeps the gate
    fast while the operator itself is size-agnostic.
    """
    # every node a seed; ppr_int symmetrizes internally (undirected)
    ranks = ppr_int(
        _trade_edges(spark, sf_dir), lambda c: F.lit(True), 3, _PR_SCALE
    )
    return ranks.orderBy(F.desc("rank"), "id").limit(20)


def _lpa_round(prev: str, out: str) -> str:
    """One synchronous label-propagation round as SQL (mirrors
    operators/graph.py label_propagation exactly: most-frequent
    neighbour label, ties to the smaller label)."""
    return f"""
    {out} AS (
      SELECT id, label FROM (
        SELECT e.s AS id, l.label, COUNT(*) AS n,
               ROW_NUMBER() OVER (
                 PARTITION BY e.s ORDER BY COUNT(*) DESC, l.label
               ) AS rk
        FROM edges e JOIN {prev} l ON e.d = l.id
        GROUP BY e.s, l.label
      ) WHERE rk = 1
    )"""


@query(
    "graph_label_propagation",
    oracle=f"""
    WITH raw AS ({_PR_EDGES_SQL}),
    edges AS (
      SELECT s, d FROM raw UNION SELECT d AS s, s AS d FROM raw
    ),
    l0 AS (SELECT DISTINCT s AS id, s AS label FROM edges),
    {_lpa_round("l0", "l1")},
    {_lpa_round("l1", "l2")},
    {_lpa_round("l2", "l3")}
    SELECT CAST(label AS BIGINT) AS community, COUNT(*) AS n_members
    FROM l3 GROUP BY label
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community sizes after 3 synchronous label-propagation rounds on
    the customer<->supplier trade graph (operators/graph.py
    label_propagation) — community detection alongside components
    (reachability) and PageRank (influence).  Async LPA is run-order
    dependent and unverifiable; this form is a total-ordered integer
    argmax per round (most-frequent neighbour label, ties to the
    smaller label), so a second engine replays the whole trajectory —
    the oracle unrolls the same three rounds as CTEs.
    """
    from ..operators.graph import label_propagation

    labels = label_propagation(_trade_edges(spark, sf_dir), "s", "d", 3)
    return labels.groupBy(F.col("community")).agg(
        F.count("*").alias("n_members")
    )


@query(
    "events_max_concurrent",
    oracle="""
    WITH deltas AS (
      SELECT o_orderpriority, o_orderdate AS ts, COUNT(*) AS delta
      FROM orders GROUP BY o_orderpriority, o_orderdate
      UNION ALL
      SELECT o_orderpriority, o_orderdate + INTERVAL 90 DAY AS ts,
             -COUNT(*) AS delta
      FROM orders GROUP BY o_orderpriority, o_orderdate
    ),
    net AS (
      SELECT o_orderpriority, ts, SUM(delta) AS net
      FROM deltas GROUP BY o_orderpriority, ts
    ),
    cum AS (
      SELECT o_orderpriority,
             SUM(net) OVER (PARTITION BY o_orderpriority ORDER BY ts)
               AS open_orders
      FROM net
    )
    SELECT o_orderpriority, CAST(MAX(open_orders) AS BIGINT) AS max_concurrent
    FROM cum GROUP BY o_orderpriority
    """,
)
def events_max_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent open orders per priority class — the interval
    sweep: each interval becomes a +1 at its start and a -1 at its
    (exclusive) end, collapse deltas per timestamp, and the running
    sum's maximum is the answer.  O(n log n) with one shuffle, versus
    the quadratic interval self-join a naive formulation shuffles at
    100 TB.  Collapsing per-timestamp BEFORE the window makes the
    cumulative sum's ordering key unique, so the running values are
    deterministic (no peer-order sensitivity).
    """
    o = table(spark, sf_dir, "orders")
    starts = o.groupBy(
        "o_orderpriority", F.col("o_orderdate").alias("ts")
    ).agg(F.count("*").alias("delta"))
    ends = o.groupBy(
        "o_orderpriority",
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("ts"),
    ).agg((-F.count("*")).alias("delta"))
    net = (
        starts.unionByName(ends)
        .groupBy("o_orderpriority", "ts")
        .agg(F.sum("delta").alias("net"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("ts")
    cum = net.select(
        "o_orderpriority", F.sum("net").over(w).alias("open_orders")
    )
    return cum.groupBy("o_orderpriority").agg(
        F.max("open_orders").alias("max_concurrent")
    )


@query(
    "events_seasonal_anomaly",
    oracle="""
    WITH base AS (
      SELECT event_type,
             dayofweek(ts) + 1 AS dow,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,2))) AS s1,
             SUM(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(19,2))
                      * CAST(value AS DECIMAL(18,2)))
               AS s2
      FROM events GROUP BY event_type, dayofweek(ts) + 1
    ),
    cut AS (
      SELECT event_type, dow,
             CAST(s1 AS DOUBLE) / n
             + 3 * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * n))
               AS threshold
      FROM base WHERE n > 1
    )
    SELECT e.event_type, c.dow, e.event_id,
           CAST(e.value AS DOUBLE) AS value, c.threshold
    FROM events e
    JOIN cut c
      ON e.event_type = c.event_type AND dayofweek(e.ts) + 1 = c.dow
    WHERE CAST(e.value AS DOUBLE) > c.threshold
    """,
)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly screen: per (event_type, day-of-week)
    mean + 3 sigma threshold, then flag rows above their own season's
    threshold.  The filter-by-aggregate shape (tiny per-group moment
    agg broadcast back over the scan — never a window sort of the
    fact), with the moments accumulated in exact DECIMAL so mean and
    variance are independent of partitioning/sum order; the final
    double arithmetic runs on exact operands, bit-identical in both
    engines.
    """
    e = table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.dayofweek("ts").alias("dow"),
        F.col("value").cast("double").alias("value"),
    )
    v2 = F.col("value").cast("decimal(18,2)")
    base = e.groupBy("event_type", "dow").agg(
        F.count("*").alias("n"),
        F.sum(v2).alias("s1"),
        F.sum((v2 * v2).cast("decimal(38,4)")).alias("s2"),
    )
    cut = base.filter(F.col("n") > 1).select(
        "event_type",
        "dow",
        (
            F.col("s1").cast("double") / F.col("n")
            + 3
            * F.sqrt(
                (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
                    "double"
                )
                / (F.col("n") * F.col("n"))
            )
        ).alias("threshold"),
    )
    return (
        e.join(broadcast(cut), ["event_type", "dow"])
        .filter(F.col("value") > F.col("threshold"))
        .select("event_type", "dow", "event_id", "value", "threshold")
    )


@query(
    "events_scd2_build",
    oracle="""
    SELECT user_id,
           event_type AS status,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              IS NULL) AS is_current
    FROM events
    """,
)
def events_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: turn a change-event log
    into [valid_from, valid_to) interval rows with an is_current flag —
    the standard warehouse dimension-versioning shape, and the natural
    left side of the battery's as-of join (operators/asof.py) for
    point-in-time enrichment.

    The LEAD is the SALTED form (operators/relational.salted_next:
    per-(user, 6 h bucket) windows + a bucket-summary carry — the
    unique (ts, event_id) tiebreak makes it deterministic under ties
    and no task ever owns a hot user's whole change log).
    """
    from ..operators.scd import scd2_build
    from ._heat import events_user_bucket

    # heat-dispatched (r11 #1): plain LEAD window unless the probe
    # measures a hot user
    return scd2_build(
        table(spark, sf_dir, "events"),
        bucket_s=events_user_bucket(spark, sf_dir),
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH pairs AS (
      SELECT user_id,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
             event_type AS next_type
      FROM events
    ),
    cnt AS (
      SELECT prev_type, next_type, COUNT(*) AS n
      FROM pairs WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    ),
    tot AS (SELECT prev_type, SUM(n) AS t FROM cnt GROUP BY prev_type)
    SELECT c.prev_type, c.next_type, c.n,
           CAST(c.n AS DOUBLE) / CAST(t.t AS DOUBLE) AS p
    FROM cnt c JOIN tot t ON c.prev_type = t.prev_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the user journey:
    consecutive event-type pairs per user (LAG with a unique tiebreak),
    counted globally, normalized per source state.  The lag is the
    SALTED per-user form (operators/relational.salted_prev: per-(user,
    6 h bucket) windows + a bucket-summary carry — no task owns a hot
    user's stream); the transition counts partial-aggregate before
    the one small shuffle; probabilities divide two exact BIGINTs in
    double (bit-identical in both engines).  This is the
    journey-mining / next-event-prediction feature shape.
    """
    from ..operators.relational import salted_prev
    from ._heat import events_user_bucket

    e = table(spark, sf_dir, "events")
    pairs = salted_prev(
        e.select("user_id", "event_type", "ts", "event_id"),
        key_cols="user_id",
        ts_col="ts",
        tiebreak_cols=["event_id"],
        payload_cols=["event_type"],
        # heat-dispatched (r11 #1): plain LAG window unless the probe
        # measures a hot user
        bucket_s=events_user_bucket(spark, sf_dir),
    ).select(
        F.col("prev_event_type").alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    cnt = pairs.groupBy("prev_type", "next_type").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("prev_type").agg(F.sum("n").alias("t"))
    return cnt.join(broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.col("t").cast("double")).alias("p"),
    )


@query(
    "events_session_native",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
        CASE WHEN LAG(ts) OVER w IS NULL
               OR ts >= LAG(ts) OVER w + INTERVAL 1800 SECOND
             THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
        SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
      MIN(ts) AS session_start,
      MAX(ts) + INTERVAL 1800 SECOND AS session_end,
      COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def events_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` (streaming/session_native.py
    session_rollup — same function drives the append-mode stream):
    all session state JVM-side, no Python workers.  Semantics pin: the
    window end is last-event + gap, end-EXCLUSIVE, so an event exactly
    ``gap`` after its predecessor starts a new session — the oracle's
    lag→flag→cumsum replay uses ``>=`` on that boundary accordingly
    (the hand-rolled events_sessionize uses ``>``; both conventions
    exist in the wild, this battery now checks both).
    """
    from ..streaming.session_native import session_rollup

    e = table(spark, sf_dir, "events").select("user_id", "ts")
    return session_rollup(e, gap_seconds=1800)


@query(
    "events_scd2_merge",
    oracle="""
    SELECT user_id,
           event_type AS status,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              IS NULL) AS is_current
    FROM events
    """,
)
def events_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance: build the dimension from the first
    ~half of the log (events before day 16), then MERGE the remainder
    in (operators/scd.py scd2_merge) — close affected current rows at
    the first new timestamp, append the new interval rows, pass
    untouched users through.  The oracle rebuilds from scratch, so the
    gate proves merge(build(old), new) == build(all): the property that
    lets a 100 TB dimension absorb a daily delta without re-sorting
    history (the merge shuffles only |delta| + |affected current
    rows|, never the closed history)."""
    from ..operators.scd import scd2_build, scd2_merge

    e = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast(e.schema["ts"].dataType)
    old = e.filter(F.col("ts") < cut)
    new = e.filter(F.col("ts") >= cut)
    dim = scd2_build(old)
    return scd2_merge(dim, new)


@query(
    "events_scd2_pit_enrich",
    oracle="""
    WITH dim AS (
      SELECT user_id,
             event_type AS status,
             ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM events
    ),
    purchases AS (
      SELECT event_id, user_id, ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           CAST(p.value AS DOUBLE) AS value,
           d.status AS status_at_purchase
    FROM purchases p
    JOIN dim d
      ON p.user_id = d.user_id
     AND d.valid_from <= p.ts
     AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    """,
)
def events_scd2_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment AGAINST the SCD2 dimension — the
    consumer side of events_scd2_build: each purchase picks up the
    user's status row whose [valid_from, valid_to) interval contains
    the purchase timestamp.  The oracle states it as the textbook
    range-predicate join; the engine does NOT run that theta join —
    because SCD2 intervals tile time per key, "the interval containing
    ts" equals "the latest valid_from <= ts", so the as-of operator
    (operators/asof.py: union + window, salted per-(user, bucket) form
    — hot-user-safe, no range blowup) produces the identical row.  This equivalence is
    exactly why warehouses pair SCD2 with as-of lookups at scale.
    """
    from ..operators.asof import asof_join
    from ..operators.scd import scd2_build
    from ._heat import events_user_bucket

    e = table(spark, sf_dir, "events")
    # heat-dispatched (r11 #1): both the SCD2 LEAD and the as-of run
    # plain unless the probe measures a hot user
    _bkt = events_user_bucket(spark, sf_dir)
    dim = scd2_build(e, bucket_s=_bkt).select(
        "user_id", "status", "valid_from"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").cast("double").alias("value"),
    )
    m = asof_join(
        purchases,
        dim,
        on="user_id",
        left_ts="ts",
        right_ts="valid_from",
        right_cols=["status", "valid_from"],
        suffix="",
        bucket_s=_bkt,
    )
    return m.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("status").alias("status_at_purchase"),
    )


@query(
    "events_mv_rewrite",
    oracle="""
    SELECT date_trunc('week', ts) AS week, event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_mv_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view answering: the WEEKLY rollup is computed by
    re-aggregating the DAILY rollup (the battery's standing MV shape,
    events_tumbling_daily) instead of rescanning the fact table — the
    oracle IS the direct fact-table query, so the gate proves the
    rewrite: aggregate(MV) == aggregate(raw) for algebraic measures
    (COUNT sums; exact DECIMAL sums re-sum losslessly).

    At 100 TB this is the read-side payoff of maintaining rollups
    (events_incremental_rollup proves the write side): a dashboard's
    month query touches 365 MV rows, not 10^11 events.  Non-algebraic
    measures (distinct users) need mergeable sketches instead — the
    HLL register twin (agg_hll_merge) covers exactly that case.
    """
    e = table(spark, sf_dir, "events")
    # the daily MV (same shape events_tumbling_daily materializes)
    daily = e.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_dec"),
    )
    # answering the weekly question FROM the MV: algebraic re-agg
    return daily.groupBy(
        F.date_trunc("week", "day").alias("week"), "event_type"
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_dec").cast("double").alias("total_value"),
    )


@query(
    "agg_equidepth_ntile",
    oracle="""
    WITH b AS (
      SELECT l_extendedprice AS price,
             NTILE(8) OVER (
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
             ) AS bucket
      FROM lineitem
    )
    SELECT bucket, COUNT(*) AS n,
           CAST(MIN(price) AS DOUBLE) AS lo,
           CAST(MAX(price) AS DOUBLE) AS hi
    FROM b GROUP BY bucket
    """,
)
def agg_equidepth_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) histogram — exact NTILE(8) semantics
    over a unique total order, computed by the PARALLEL two-phase
    ranker (operators/relational.py parallel_ntile: range partition +
    local rank + P-row offset cumsum) instead of
    ``ntile().over(Window.orderBy(...))``, whose empty-partition
    window funnels every row through ONE task.  The 10x probe
    measured the naive form superlinear (11.6x); the two-phase form
    is a plain parallel sort.  tests/test_parallel_rank.py pins
    bucket-for-bucket equality to the builtin NTILE; the oracle here
    is DuckDB's native NTILE — same semantics, third engine.

    Scale note: exact depth buckets still cost a global range shuffle;
    the sketch path (approx_percentile cutpoints, one pass, mergeable
    — agg_percentiles_approx) trades exact boundaries for no sort.
    """
    from ..operators.relational import parallel_ntile

    l = table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("price"),
        "l_orderkey",
        "l_linenumber",
    )
    b = parallel_ntile(l, ["price", "l_orderkey", "l_linenumber"], 8)
    return b.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.min("price").cast("double").alias("lo"),
        F.max("price").cast("double").alias("hi"),
    )


@query(
    "j_salted_skew_join",
    oracle="""
    WITH facts AS (
      SELECT CASE WHEN o_orderkey % 10 < 7 THEN 1
                  ELSE o_custkey % 100 END AS k,
             o_totalprice
      FROM orders
    ),
    dim AS (
      SELECT c_custkey % 100 AS k,
             'seg_' || CAST(c_custkey % 100 AS VARCHAR) AS label
      FROM customer GROUP BY c_custkey % 100
    )
    SELECT d.label, COUNT(*) AS n,
           CAST(SUM(CAST(f.o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             AS total_price
    FROM facts f JOIN dim d ON f.k = d.k
    GROUP BY d.label
    """,
)
def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key shuffle join under 8-way salting
    (operators/relational.py salted_join):
    70% of the fact rows share one synthetic key — the shape where a
    plain shuffle join runs at the speed of its hottest task.  The
    fact side salts on a per-row unique column (o_orderkey, md5, never
    rand()), the dim explodes ×8, the join key becomes (k, salt) and
    the hot key spreads over 8 tasks.  The oracle is the PLAIN join:
    salting must be row-identical to not salting.
    """
    from ..operators.relational import salted_join

    o = table(spark, sf_dir, "orders")
    facts = o.select(
        F.when(F.col("o_orderkey") % 10 < 7, 1)
        .otherwise(F.col("o_custkey") % 100)
        .alias("k"),
        "o_totalprice",
        "o_orderkey",
    )
    dim = (
        table(spark, sf_dir, "customer")
        .groupBy((F.col("c_custkey") % 100).alias("k"))
        .agg(
            F.concat(
                F.lit("seg_"), (F.min("c_custkey") % 100).cast("string")
            ).alias("label")
        )
    )
    joined = salted_join(
        facts, dim, "k", salt_buckets=8, salt_source="o_orderkey"
    )
    return joined.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("double")
        .alias("total_price"),
    )


@query(
    "events_attribution_last_touch",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, ts AS touch_ts, event_type AS touch_type
      FROM events WHERE event_type IN ('click', 'view')
    ),
    matched AS (
      SELECT p.event_id, p.user_id, p.ts, t.touch_ts, t.touch_type
      FROM purchases p
      ASOF LEFT JOIN touches t
        ON p.user_id = t.user_id AND t.touch_ts <= p.ts
    )
    SELECT event_id, user_id, ts,
      CASE WHEN touch_ts IS NOT NULL AND ts - touch_ts <= INTERVAL 7 DAY
           THEN touch_type END AS touch_type,
      CASE WHEN touch_ts IS NOT NULL AND ts - touch_ts <= INTERVAL 7 DAY
           THEN touch_ts END AS touch_ts,
      (touch_ts IS NOT NULL AND ts - touch_ts <= INTERVAL 7 DAY)
        AS attributed
    FROM matched
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase joins the
    latest preceding click/view by the same user within a 7-day
    window — the as-of operator (operators/asof.py: union+window in
    the salted per-(user, bucket) form — hot-user-safe, no range
    blowup) composed with an attribution-window predicate.  DuckDB's native ASOF LEFT JOIN is the oracle, so the
    operator's point-in-time semantics are pinned by a second engine's
    independent implementation.
    """
    from ..operators.asof import asof_join
    from ._heat import events_user_bucket

    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("touch_type"),
    )
    m = asof_join(
        purchases,
        touches,
        on="user_id",
        left_ts="ts",
        right_ts="touch_ts",
        right_cols=["touch_type", "touch_ts"],
        suffix="",
        # heat-dispatched (r11 #1): plain unless a measured hot user
        bucket_s=events_user_bucket(spark, sf_dir),
    )
    from ..functions.scalars import epoch_s

    within = F.col("touch_ts").isNotNull() & (
        epoch_s("ts") - epoch_s("touch_ts") <= 7 * 86400
    )
    return m.select(
        "event_id",
        "user_id",
        "ts",
        F.when(within, F.col("touch_type")).alias("touch_type"),
        F.when(within, F.col("touch_ts")).alias("touch_ts"),
        within.alias("attributed"),
    )


@query(
    "events_time_to_convert",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    views AS (
      SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'
    ),
    lagged AS (
      SELECT date_diff('second', t.view_ts, p.ts) AS lag_s
      FROM purchases p
      ASOF JOIN views t
        ON p.user_id = t.user_id AND t.view_ts <= p.ts
    )
    SELECT COUNT(*) AS n_converted,
      quantile_cont(CAST(lag_s AS DOUBLE), 0.5) AS p50_s,
      quantile_cont(CAST(lag_s AS DOUBLE), 0.9) AS p90_s,
      CAST(MAX(lag_s) AS BIGINT) AS max_s
    FROM lagged
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: seconds from each purchase
    back to the user's latest preceding view (the as-of operator
    again — inner flavor via the not-null filter), summarized as
    exact p50/p90/max.  The funnel family's latency complement:
    events_funnel_conversion counts WHETHER users convert inside a
    horizon, this measures HOW FAST the conversions that happen are.
    Exact percentiles interpolate identically in both engines
    (agg_percentiles parity); lags are integer seconds from the
    epoch_s helper.
    """
    from ..functions.scalars import epoch_s
    from ..operators.asof import asof_join
    from ._heat import events_user_bucket

    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    m = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="view_ts",
        right_cols=["view_ts"],
        suffix="",
        # heat-dispatched (r11 #1): plain unless a measured hot user
        bucket_s=events_user_bucket(spark, sf_dir),
    ).filter(F.col("view_ts").isNotNull())
    lag_s = (epoch_s("ts") - epoch_s("view_ts")).alias("lag_s")
    lagged = m.select(lag_s)
    return lagged.agg(
        F.count("*").alias("n_converted"),
        F.percentile(F.col("lag_s").cast("double"), F.lit(0.5)).alias("p50_s"),
        F.percentile(F.col("lag_s").cast("double"), F.lit(0.9)).alias("p90_s"),
        F.max("lag_s").cast("bigint").alias("max_s"),
    )


@query(
    "events_cohort_ltv",
    oracle="""
    WITH cohort AS (
      SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    rev AS (
      SELECT c.cohort_day,
             date_diff('day', c.cohort_day, CAST(date_trunc('day', e.ts) AS DATE))
               AS day_offset,
             SUM(CAST(e.value AS DECIMAL(18,2))) AS day_rev
      FROM events e JOIN cohort c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND CAST(date_trunc('day', e.ts) AS DATE) >= c.cohort_day
      GROUP BY 1, 2
    )
    SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
      CAST(SUM(day_rev) OVER (
        PARTITION BY cohort_day ORDER BY day_offset
      ) AS DOUBLE) AS cum_revenue
    FROM rev
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: per signup cohort, CUMULATIVE
    purchase revenue by day offset — the money twin of
    events_retention_cohorts (which counts who comes back; this sums
    what they spend).  Revenue accumulates in exact DECIMAL through
    both the per-day agg and the running window (128-bit adds are
    order-free), converting to double only at the end, so the whole
    cumulative curve is value-checkable.  The running sum's window is
    per-cohort and its ordering key (day_offset) is unique after the
    pre-aggregation — small, partitioned, deterministic.
    """
    e = table(spark, sf_dir, "events")
    cohort = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.date_trunc("day", "ts").cast("date")).alias("cohort_day"))
    )
    day = F.date_trunc("day", "ts").cast("date")
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", day.alias("day"), F.col("value").cast("decimal(18,2)").alias("v"))
        .join(cohort, "user_id")
        .filter(F.col("day") >= F.col("cohort_day"))
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("bigint").alias("day_offset"),
        )
        .agg(F.sum("v").alias("day_rev"))
    )
    w = Window.partitionBy("cohort_day").orderBy("day_offset")
    return rev.select(
        "cohort_day",
        "day_offset",
        F.sum("day_rev").over(w).cast("double").alias("cum_revenue"),
    )


@query(
    "agg_rfm_segmentation",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS cust,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS spend
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT cust,
        NTILE(4) OVER (ORDER BY last_order, cust) AS r_bucket,
        NTILE(4) OVER (ORDER BY n_orders, cust) AS f_bucket,
        NTILE(4) OVER (ORDER BY spend, cust) AS m_bucket
      FROM base
    )
    SELECT r_bucket, f_bucket, m_bucket, COUNT(*) AS n_customers
    FROM scored GROUP BY 1, 2, 3
    """,
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quartile-bucket every customer on Recency
    (last order date), Frequency (order count), and Monetary (exact
    decimal spend), then count the 4x4x4 segment grid — the classic
    marketing-analytics cube.  Each quartile is an exact NTILE over a
    unique (metric, cust) total order, computed by the PARALLEL
    two-phase ranker (operators/relational.parallel_ntile) — three
    global rankings with zero single-partition windows; the oracle
    uses DuckDB's native NTILE, same semantics, third engine.
    """
    from ..operators.relational import parallel_ntile

    o = table(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("spend"),
    )
    r = parallel_ntile(base, ["last_order", "cust"], 4).select(
        "cust", F.col("bucket").alias("r_bucket")
    )
    f = parallel_ntile(base, ["n_orders", "cust"], 4).select(
        "cust", F.col("bucket").alias("f_bucket")
    )
    m = parallel_ntile(base, ["spend", "cust"], 4).select(
        "cust", F.col("bucket").alias("m_bucket")
    )
    return (
        r.join(f, "cust")
        .join(m, "cust")
        .groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "agg_market_basket",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM li),
    supp AS (
      SELECT l_partkey, COUNT(*) AS part_support FROM li GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS pair_support
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.part_a, p.part_b, p.pair_support,
      CAST(p.pair_support AS DOUBLE) * n.n
        / (sa.part_support * sb.part_support) AS lift
    FROM pairs p
    CROSS JOIN n_orders n
    JOIN supp sa ON p.part_a = sa.l_partkey
    JOIN supp sb ON p.part_b = sb.l_partkey
    WHERE p.pair_support >= 3
    ORDER BY p.pair_support DESC, lift DESC, p.part_a, p.part_b
    LIMIT 25
    """,
)
def agg_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: parts co-occurring in an order, with
    lift = P(a,b) / (P(a)·P(b)) — the co-occurrence/association
    primitive (the text twin is text_bigram_pmi; same algebra, item
    space instead of token space).  The pair join is keyed on the
    ORDER (bounded fan-out: k lines → k(k-1)/2 pairs per order, never
    a corpus-wide cross), the supports broadcast back onto the pair
    counts, and lift divides exact BIGINT products in double.
    Support-3 prune before the top-k; total-order tiebreak.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    # Order count stays IN the plan as a broadcast 1-row aggregate (the
    # repo-wide scalar-subquery pattern; its own oracle does CROSS JOIN
    # n_orders) — no eager driver-side .count() job per invocation.
    n_orders = li.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    supp = li.groupBy("l_partkey").agg(F.count("*").alias("part_support"))
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("pair_support"))
        .filter(F.col("pair_support") >= 3)
    )
    sa = supp.select(
        F.col("l_partkey").alias("part_a"),
        F.col("part_support").alias("sa"),
    )
    sb = supp.select(
        F.col("l_partkey").alias("part_b"),
        F.col("part_support").alias("sb"),
    )
    # No broadcast hints on sa/sb: at bench scale AQE broadcasts them
    # anyway, and at 100x the per-part support dim is corpus-sized —
    # forcing the hint there would OOM the build side (VERDICT r5 #2).
    out = (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "pair_support",
            (
                F.col("pair_support").cast("double")
                * F.col("n_orders")
                / (F.col("sa") * F.col("sb"))
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.desc("pair_support"), F.desc("lift"), "part_a", "part_b"
    ).limit(25)


@query(
    "events_top_paths",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN LAG(ts) OVER w IS NULL
               OR ts >= LAG(ts) OVER w + INTERVAL 1800 SECOND
             THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
        SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    capped AS (
      SELECT user_id, sid, ts, event_id, event_type FROM sess
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                 ORDER BY ts, event_id) <= 64
    ),
    paths AS (
      SELECT user_id, sid,
        array_to_string(list_transform(
          list_sort(list(struct_pack(ts := ts, event_id := event_id,
                                     event_type := event_type))),
          s -> s.event_type), '>') AS path
      FROM capped GROUP BY user_id, sid
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 15
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey paths: each 30-min session becomes its ordered
    event-type sequence ('view>click>purchase'), counted corpus-wide —
    sequential pattern mining at the session grain (the funnel family
    generalized from one fixed pattern to ALL observed patterns).

    Order inside a path is pinned by sorting collected (ts, event_id,
    type) structs — array_sort on structs compares field-by-field, so
    the concatenation is deterministic under any aggregation order
    (collect_list alone would not be; DuckDB sorts the same struct
    list).  Paths are truncated to the first 64 steps per session:
    a 30-min-gap session is length-bounded on real behavior, but a
    bot key streaming events forever never breaks the gap — a
    row_number pre-filter caps that key's rows BEFORE the collect, so
    the aggregation buffer is hard-bounded at 64 structs (and 64-step
    prefixes are a total path identity for any human session).
    Sessionization
    reuses the lag→flag→cumsum composition; per-user windows,
    corpus-wide path counts partial-aggregate, top-15 with a
    total-order tiebreak.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # Full-precision timestamp comparison (ts >= lag + 30min), matching
    # the oracle's INTERVAL arithmetic exactly on microsecond-typed ts;
    # a second-truncated epoch delta would disagree with the oracle on
    # sub-second gap boundaries (ADVICE r5).  Same convention as
    # events_session_native.
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts")
                >= F.lag("ts").over(w) + F.expr("INTERVAL 1800 SECONDS")
            ),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    sess = marked.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("is_start").over(wrun).alias("sid"),
    )
    # The 64-step cap is a ROW filter BEFORE the collect (row_number
    # per session), not a slice after it — slicing a collected array
    # would still build the unbounded array in the aggregation buffer.
    wsess = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    capped = (
        sess.withColumn("rn", F.row_number().over(wsess))
        .filter(F.col("rn") <= 64)
        .drop("rn")
    )
    paths = (
        capped.groupBy("user_id", "sid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("steps")
        )
        .select(
            F.array_join(
                F.transform("steps", lambda s: s["event_type"]), ">"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(15)
    )


@query(
    "events_dau_wau",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ),
    spine AS (SELECT DISTINCT day FROM du),
    wau AS (
      SELECT s.day, COUNT(DISTINCT du.user_id) AS wau
      FROM spine s
      JOIN du ON du.day BETWEEN s.day - 6 AND s.day
      GROUP BY s.day
    ),
    dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY day)
    SELECT d.day, d.dau, w.wau,
           CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
    FROM dau d JOIN wau w ON d.day = w.day
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU stickiness per day — the product-
    analytics engagement ratio.  The WAU side avoids the theta join
    (day BETWEEN d-6 AND d) the oracle runs: each (day, user) row
    explodes into the exactly-7 trailing days it contributes to, the
    join becomes an equi-semi-join against the day spine, and the
    distinct count partial-aggregates — banded fan-out instead of a
    range join, the same trick as operators/interval.py.  Ratios
    divide two exact BIGINTs in double.
    """
    e = table(spark, sf_dir, "events")
    du = e.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).distinct()
    spine = du.select("day").distinct()
    contrib = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "user_id",
    ).join(broadcast(spine), "day", "semi")
    wau = contrib.groupBy("day").agg(
        F.countDistinct("user_id").alias("wau")
    )
    dau = du.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
            "stickiness"
        ),
    )


@query(
    "j_null_safe",
    oracle="""
    WITH l AS (
      SELECT event_id,
             CASE WHEN value < 10 THEN NULL
                  ELSE CAST(FLOOR(value) AS BIGINT) % 5 END AS k
      FROM events
    ),
    r AS (
      SELECT CASE WHEN n_nationkey >= 20 THEN NULL
                  ELSE n_nationkey % 5 END AS k,
             COUNT(*) AS n_dim
      FROM nation GROUP BY 1
    )
    SELECT l.k, COUNT(*) AS n_events,
           CAST(MIN(r.n_dim) AS BIGINT) AS n_dim
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY l.k
    """,
)
def j_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of vanishing — the semantics needed
    when null is a real category (unknown segment, missing locale) and
    dropping it would silently lose rows.  Catalyst plans ``<=>`` as a
    hashable equi-join key (no fallback to a nested-loop theta join),
    so the null bucket shuffles like any other key — at scale a fat
    null bucket is then a plain skew problem with the plain cure
    (operators/relational.salted_join)."""
    e = table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("value") < 10, None)
        .otherwise(F.floor("value").cast("bigint") % 5)
        .alias("k"),
    )
    r = (
        table(spark, sf_dir, "nation")
        .select(
            F.when(F.col("n_nationkey") >= 20, None)
            .otherwise(F.col("n_nationkey") % 5)
            .alias("k")
        )
        .groupBy("k")
        .agg(F.count("*").alias("n_dim"))
    )
    j = e.join(broadcast(r), e["k"].eqNullSafe(r["k"])).select(
        e["k"], "n_dim"
    )
    return j.groupBy("k").agg(
        F.count("*").alias("n_events"), F.min("n_dim").alias("n_dim")
    )


_Z_BITS = 12
_Z_X_SQL = "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))"
_Z_Y_SQL = f"o_custkey % {1 << _Z_BITS}"


@query(
    "curation_zorder_locality",
    oracle=f"""
    WITH keyed AS (
      SELECT {morton_key_sql(_Z_X_SQL, _Z_Y_SQL, _Z_BITS)} AS z,
             {_Z_X_SQL} AS day_x, {_Z_Y_SQL} AS cust_y
      FROM orders
    )
    SELECT CAST(z >> 14 AS BIGINT) AS chunk, COUNT(*) AS n,
           CAST(MIN(day_x) AS BIGINT) AS day_lo,
           CAST(MAX(day_x) AS BIGINT) AS day_hi,
           CAST(MIN(cust_y) AS BIGINT) AS cust_lo,
           CAST(MAX(cust_y) AS BIGINT) AS cust_hi
    FROM keyed GROUP BY CAST(z >> 14 AS BIGINT)
    """,
)
def curation_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key (operators/zorder.py) over
    (order date, customer): per 16384-key z-range chunk — a stand-in
    for one parquet file after ``repartitionByRange(z).sortWithin
    Partitions(z)`` — report the chunk's bounding box in BOTH
    dimensions.  Because Morton chunks are spatially local, every
    chunk's day-range AND customer-range are small fractions of the
    domain, which is exactly what makes min/max file skipping work for
    two filter columns at once (tests/test_zorder.py asserts the
    locality quantitatively; this query pins the key arithmetic to the
    oracle bit-for-bit).
    """
    o = table(spark, sf_dir, "orders")
    x = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    y = F.col("o_custkey") % (1 << _Z_BITS)
    keyed = o.select(
        morton_key(x, y, _Z_BITS).alias("z"),
        x.cast("bigint").alias("day_x"),
        y.cast("bigint").alias("cust_y"),
    )
    return keyed.groupBy(
        F.shiftright("z", 14).alias("chunk")
    ).agg(
        F.count("*").alias("n"),
        F.min("day_x").alias("day_lo"),
        F.max("day_x").alias("day_hi"),
        F.min("cust_y").alias("cust_lo"),
        F.max("cust_y").alias("cust_hi"),
    )


@query(
    "agg_ivm_join_maintenance",
    oracle="""
    WITH j AS (
      SELECT c.c_nationkey AS nation,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    )
    SELECT nation, COUNT(*) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM j GROUP BY nation
    """,
)
def agg_ivm_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN materialized view — the
    delta-join algebra Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB applied to a
    per-nation revenue MV over customer⋈orders, with BOTH sides
    receiving deltas (new customers: c_custkey % 10 = 0; new orders:
    o_orderkey % 7 = 0).  The query computes
    re-agg(MV_old ∪ agg(ΔA⋈B_old) ∪ agg(A_old⋈ΔB) ∪ agg(ΔA⋈ΔB)) while
    the ORACLE recomputes the view directly from the full tables — the
    hash match PROVES the maintenance algebra, the same way the SCD2
    merge and incremental-rollup gates prove theirs.

    At scale the three delta terms are the whole point: each joins a
    DELTA (day-sized) against a base or another delta, so maintaining
    the MV costs O(|Δ| × join fan-out) instead of re-scanning A⋈B;
    MV_old is read pre-aggregated from the store (here it is computed
    in-plan because the gate replays from scratch — the plan shape is
    identical).  All measures are algebraic (count, integer-cents sum),
    the precondition for aggregate-level merging.
    """
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", cents.alias("cents")
    )
    a_old = cust.filter(F.col("c_custkey") % 10 != 0)
    da = cust.filter(F.col("c_custkey") % 10 == 0)
    b_old = orders.filter(F.col("o_orderkey") % 7 != 0)
    db = orders.filter(F.col("o_orderkey") % 7 == 0)

    def agg_term(A, B):
        return (
            A.join(B, A["c_custkey"] == B["o_custkey"])
            .groupBy(F.col("c_nationkey").alias("nation"))
            .agg(
                F.count("*").alias("n_orders"),
                F.sum("cents").alias("revenue_cents"),
            )
        )

    mv_old = agg_term(a_old, b_old)  # the stored MV, replayed in-plan
    merged = (
        mv_old.unionByName(agg_term(da, b_old))
        .unionByName(agg_term(a_old, db))
        .unionByName(agg_term(da, db))
    )
    return merged.groupBy("nation").agg(
        F.sum("n_orders").alias("n_orders"),
        F.sum("revenue_cents").alias("revenue_cents"),
    )


# Fold-buffer bound for the per-user EWMA folds: each user's collected
# array is capped at their last _EWMA_FOLD_DAYS OBSERVED days (a
# row_number window per user, not a calendar cutoff).  The fold skips
# inactive days by design, so the residual-weight argument is in FOLD
# STEPS: the 91st-most-recent observation carries weight 0.75^90
# ~ 6e-12 regardless of how sparse the calendar gaps are — a contract
# bound, not an approximation.  Observed-days (vs the earlier
# calendar-days form) also keeps sparse users in the output: a user
# whose last event is >90 days before the corpus max still folds their
# own trailing history.  Asserted adversarially by
# tools/fold_skew_probe.py's one-user-50%-of-events corpus (SCALE.md).
_EWMA_FOLD_DAYS = 90


def _capped_daily(e: DataFrame) -> DataFrame:
    """Per-(user, day) counts restricted to each user's last
    _EWMA_FOLD_DAYS observed days — the shared head of both EWMA
    queries.  The row_number window shuffles on user_id, the same key
    the downstream fold aggregates on, so the cap costs no extra
    exchange."""
    daily = e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.col("day").desc())
    return (
        daily.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _EWMA_FOLD_DAYS)
        .select("user_id", "day", "cnt")
    )


@query(
    "events_ewma_smoothing",
    oracle="""
    WITH daily0 AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ), daily AS (
      SELECT user_id, day, cnt FROM (
        SELECT user_id, day, cnt,
          row_number() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn
        FROM daily0)
      WHERE rn <= 90
    ), folded AS (
      SELECT user_id, COUNT(*) AS n_days,
        list_reduce(
          list_prepend(CAST(0 AS DOUBLE), list_transform(
            list_sort(list(struct_pack(day := day, cnt := cnt))),
            s -> CAST(s.cnt AS DOUBLE))),
          (acc, x) -> acc * 0.75 + x * 0.25) AS ewma
      FROM daily GROUP BY user_id
    )
    SELECT user_id, n_days, ewma FROM folded
    WHERE n_days >= 5
    """,
)
def events_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted daily activity (EWMA, α = 1/4)
    — the classic smoothing primitive behind trend/alerting baselines,
    made engine-exact: the recurrence s_t = 0.75·s_{t-1} + 0.25·x_t is
    a LEFT FOLD over the day-ordered observation list, so both engines
    evaluate the identical float sequence (the sorted-fold determinism
    rule; α = 1/4 and 3/4 are exact binary fractions, keeping each
    step a clean multiply-add).  Users need >= 5 active days.

    Scale shape: daily counts partial-aggregate; each user's fold is
    over their own observed days only (irregular series — smoothing
    skips gaps by design, documented), HARD-BOUNDED at each user's
    last _EWMA_FOLD_DAYS OBSERVED days: the fold array can never
    exceed 90 elements per user regardless of history length, so a
    bot key with years of daily rows cannot blow up one aggregation
    buffer (the r6 unbounded-fold hygiene flag).  The bound is in
    FOLD STEPS — the 91st-most-recent observation would carry weight
    0.75^90 ~ 6e-12, far below double noise at these magnitudes — so
    truncation is a contract formalization, not an approximation
    knob, and it holds for sparse users exactly as for dense ones
    (the earlier calendar-anchored form dropped users inactive >90
    days and put real weight ~0.1875 on days just past the cutoff
    for sparse series).  The streaming twin
    (streaming/ewma_stream.py) holds the same <=90-observation
    buffer per key and refolds it, so batch and stream stay
    bit-identical at ANY history length.
    """
    e = table(spark, sf_dir, "events")
    daily = _capped_daily(e)
    folded = daily.groupBy("user_id").agg(
        F.count("*").alias("n_days"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("day", "cnt"))
                ),
                lambda s: s["cnt"].cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc * 0.75 + x * 0.25,
        ).alias("ewma"),
    )
    return folded.filter(F.col("n_days") >= 5).select(
        "user_id", "n_days", "ewma"
    )


# Deterministic Poisson(1) bootstrap: md5-uniform u per (row, replicate)
# cut against the FIXED cumulative-pmf thresholds below (shared
# literals, so both engines derive identical weights).  Hash budget:
# 8 md5s per row, each BIT-SLICED into four 32-bit uniforms (128 bits
# = 4 slices of 8 hex chars; u = slice / 2^32 — granularity 2.3e-10
# vs the tightest CDF gap ~1e-5, so slicing loses nothing) — 4x fewer
# hashes than the one-md5-per-(row, replicate) form this replaced
# (VERDICT r6 #8; a SINGLE md5 for all 32 replicates would leave only
# 4 bits each, far too coarse for the 1e-5 CDF cuts).  The md5s are
# materialized in a projection BEFORE the replicate explode so each
# is computed once per row, never once per (row, slice).
_BOOT_B = 32
_BOOT_G = 8  # md5 calls per row
_BOOT_J = _BOOT_B // _BOOT_G  # 32-bit slices per md5
_TWO32 = float(1 << 32)
_BOOT_CDF = (
    0.36787944117144233,  # P(X<=0)
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
)


@query(
    "agg_bootstrap_ci",
    oracle=f"""
    WITH h AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        {", ".join(
          f"md5(o_orderkey || ':{g}') AS h{g}" for g in range(_BOOT_G)
        )}
      FROM orders
    ), u AS (
      SELECT cents, g * {_BOOT_J} + j AS b,
        CAST(CAST('0x' || substr(
          CASE g {" ".join(f"WHEN {g} THEN h{g}" for g in range(_BOOT_G))}
          END, 1 + 8 * j, 8) AS BIGINT) AS DOUBLE) / {_TWO32} AS uu
      FROM h
      CROSS JOIN (SELECT unnest(range(0, {_BOOT_G})) AS g)
      CROSS JOIN (SELECT unnest(range(0, {_BOOT_J})) AS j)
    ), w AS (
      SELECT b, cents,
        (CASE
          {" ".join(
            f"WHEN uu < {t} THEN {k}" for k, t in enumerate(_BOOT_CDF)
          )}
          ELSE {len(_BOOT_CDF)} END) AS wt
      FROM u
    ), means AS (
      SELECT b,
        CAST(SUM(wt * cents) AS DOUBLE) / SUM(wt) AS mean_cents
      FROM w GROUP BY b HAVING SUM(wt) > 0
    ), s AS (
      SELECT list_sort(list(mean_cents)) AS ms FROM means
    ), t AS (
      SELECT (SELECT CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                / COUNT(*) FROM orders) AS true_mean, ms FROM s
    )
    SELECT true_mean AS true_mean_cents,
      ms[2] AS ci_lo, ms[{_BOOT_B // 2}] AS ci_mid,
      ms[{_BOOT_B - 1}] AS ci_hi,
      ms[{_BOOT_B - 1}] - ms[2] AS ci_width
    FROM t
    """,
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed DETERMINISTIC bootstrap confidence interval for the
    mean order value: 32 Poisson(1) resample replicates, each row's
    replicate weight derived by cutting an md5-uniform against the
    fixed Poisson CDF thresholds (shared literal constants — both
    engines compute identical integer weights, so the whole bootstrap
    is value-checkable, unlike rand()-based resampling which can never
    be replayed).  Reports the true mean plus low/mid/high resample-
    mean order statistics.

    Scale shape: the replicate fan-out is a bounded explode (x32);
    per-replicate means are map-combined integer sums; the final order
    statistics sort 32 numbers.  This is the production pattern for
    error bars on corpus statistics — one pass, no sampling state, and
    retries/replays produce identical intervals.
    """
    o = table(spark, sf_dir, "orders", spread=True).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # 4 md5s per row, materialized once in this projection; the
    # replicate explode below only SLICES them (8x fewer hashes than
    # hashing per (row, replicate) — see _BOOT_G note above).
    hashed = o.select(
        "cents",
        *[
            F.md5(
                F.concat_ws(":", F.col("o_orderkey"), F.lit(str(g)))
            ).alias(f"h{g}")
            for g in range(_BOOT_G)
        ],
    )
    slices = F.array(
        *[
            F.conv(F.substring(f"h{g}", 1 + 8 * j, 8), 16, 10)
            .cast("bigint")
            .cast("double")
            / F.lit(_TWO32)
            for g in range(_BOOT_G)
            for j in range(_BOOT_J)
        ]
    )
    rep = hashed.select(
        "cents", F.posexplode(slices).alias("b", "u")
    )
    u = F.col("u")
    wt = None
    for k, t in enumerate(_BOOT_CDF):
        cond = u < F.lit(t)
        wt = F.when(cond, k) if wt is None else wt.when(cond, k)
    wt = wt.otherwise(len(_BOOT_CDF))
    means = (
        rep.select("b", "cents", wt.alias("wt"))
        .groupBy("b")
        .agg(
            F.sum(F.col("wt") * F.col("cents")).alias("swc"),
            F.sum("wt").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            (F.col("swc").cast("double") / F.col("sw")).alias("mean_cents")
        )
    )
    true_mean = o.agg(
        (F.sum("cents").cast("double") / F.count("*")).alias(
            "true_mean_cents"
        )
    )
    sorted_means = means.agg(
        F.array_sort(F.collect_list("mean_cents")).alias("ms")
    )
    return (
        true_mean.crossJoin(broadcast(sorted_means))
        .select(
            "true_mean_cents",
            F.element_at("ms", 2).alias("ci_lo"),
            F.element_at("ms", _BOOT_B // 2).alias("ci_mid"),
            F.element_at("ms", _BOOT_B - 1).alias("ci_hi"),
            (
                F.element_at("ms", _BOOT_B - 1) - F.element_at("ms", 2)
            ).alias("ci_width"),
        )
    )


def _kcore_round(prev: str, out: str, k: int) -> str:
    """One synchronous k-core pruning round as SQL (mirrors one round of
    operators/graph.kcore_fixpoint: drop nodes with degree < k and their
    edges, simultaneously)."""
    return f"""
    {out} AS (
      SELECT e.s, e.d FROM {prev} e
      JOIN (SELECT s FROM (SELECT s, COUNT(*) AS deg FROM {prev} GROUP BY s)
            WHERE deg >= {k}) ka ON e.s = ka.s
      JOIN (SELECT s FROM (SELECT s, COUNT(*) AS deg FROM {prev} GROUP BY s)
            WHERE deg >= {k}) kb ON e.d = kb.s
    )"""


@query(
    "graph_kcore_prune",
    oracle=f"""
    WITH raw AS ({_PR_EDGES_SQL}),
    e0 AS (
      SELECT s, d FROM raw UNION SELECT d AS s, s AS d FROM raw
    ),
    {_kcore_round("e0", "e1", 3)},
    {_kcore_round("e1", "e2", 3)},
    {_kcore_round("e2", "e3", 3)}
    SELECT s AS id, COUNT(*) AS degree
    FROM e3 GROUP BY s
    """,
)
def graph_kcore_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At most three synchronous 3-core pruning rounds on the
    customer↔supplier trade graph (operators/graph.kcore_fixpoint capped
    at max_rounds=3) — the density-peeling primitive behind community
    cores and spam-cluster isolation, in the fixed-round
    engine-replayable form.  The oracle unrolls exactly three rounds as
    CTEs; the operator stops earlier only at the fixpoint, where a
    further round is the identity, so both give the same rows.  Per
    round: one map-combined degree aggregate + two semi-joins — the
    same iterative-join shape as components and LPA, linear in
    surviving edges.
    """
    from ..operators.graph import kcore_fixpoint

    return kcore_fixpoint(_trade_edges(spark, sf_dir), k=3, max_rounds=3)


@query(
    "graph_kcore_fixpoint",
    oracle=f"""
    WITH raw AS ({_PR_EDGES_SQL}),
    e0 AS (
      SELECT s, d FROM raw UNION SELECT d AS s, s AS d FROM raw
    ),
    {_kcore_round("e0", "e1", 3)},
    {_kcore_round("e1", "e2", 3)},
    {_kcore_round("e2", "e3", 3)},
    {_kcore_round("e3", "e4", 3)}
    SELECT s AS id, COUNT(*) AS degree
    FROM e4 GROUP BY s
    """,
)
def graph_kcore_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-core (run-to-FIXPOINT peeling) of the trade graph —
    operators/graph.kcore_fixpoint.  Unlike the fixed-round form
    above, this is the decomposition a production pipeline needs:
    rounds run until no node drops, lineage cut per round with
    lineage_cut so the executed plan stays O(1) deep at any depth
    (the unrolled form grew ~3^rounds — caught permanently by the
    plan-audit Exchange ceiling).  Oracle: pruning is IDEMPOTENT at
    the fixpoint (once every survivor has degree ≥ k, a further round
    is the identity), so the SQL twin safely over-unrolls 4 rounds —
    convergence on this graph takes 2 (asserted in
    tests/test_stats_invariants.py); DuckDB re-evaluates the repeated
    round subtree ~3x per unroll, so the over-unroll is kept minimal
    (6 rounds measured 49s at sf0.01; 4 rounds ~5s).  The idempotence
    argument is only valid when convergence depth <= the unroll, so
    the unroll is PINNED via assert_rounds=4: at any gate SF where the
    trade graph peels deeper, the Spark side raises instead of
    silently diverging from its oracle.
    """
    from ..operators.graph import kcore_fixpoint

    return kcore_fixpoint(_trade_edges(spark, sf_dir), k=3, assert_rounds=4)


@query(
    "graph_wcc_components",
    oracle=f"""
    WITH RECURSIVE raw AS ({_PR_EDGES_SQL}),
    edges AS (
      SELECT s, d FROM raw UNION SELECT d AS s, s AS d FROM raw
    ), reach(id, lbl) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, r.lbl FROM edges e JOIN reach r ON e.d = r.id
    )
    SELECT id, CAST(MIN(lbl) AS BIGINT) AS component
    FROM reach GROUP BY id
    """,
)
def graph_wcc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly connected components of the trade graph via alternating
    large-star/small-star contraction (operators/graph.wcc_star,
    Kiveris et al. SoCC'14) — the MapReduce-optimal WCC whose working
    set SHRINKS per round, complementing the label-table
    Shiloach–Vishkin form the dedup family uses (operators/graph.
    connected_components) whose per-round shuffle is always |E|+|V|.

    Oracle: exact transitive min-reachability via a recursive CTE — no
    fixed unroll, no idempotence pin needed (unlike the kcore twins):
    DuckDB's UNION-recursion runs to ITS fixpoint, so both engines
    compute the true component minimum independently and the gate
    compares two genuinely run-to-convergence answers.  The closure is
    O(sum of component sizes squared) rows, which caps at the gate SFs;
    at 100 TB only the Spark side runs, and its per-round cost is the
    star contraction, never a closure.
    """
    from ..operators.graph import wcc_star

    return wcc_star(_trade_edges(spark, sf_dir))


# ORACLE NOTE — struct_pack field order is semantic in DuckDB:
# list_reduce lambdas evaluate struct_pack fields SEQUENTIALLY, and a
# later field's acc.<name> reference sees the value just computed for
# an EARLIER field of the same name (shadowing).  n_alerts must
# therefore be packed BEFORE ewma so its condition reads the
# PRE-update baseline — packing ewma first silently compared against
# the post-update value (caught by the oracle gate).
@query(
    "events_ewma_alerts",
    oracle="""
    WITH daily0 AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ), daily AS (
      SELECT user_id, day, cnt FROM (
        SELECT user_id, day, cnt,
          row_number() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn
        FROM daily0)
      WHERE rn <= 90
    ), folded AS (
      SELECT user_id, COUNT(*) AS n_days,
        list_reduce(
          list_prepend(struct_pack(n_alerts := CAST(0 AS BIGINT),
                                   ewma := CAST(0 AS DOUBLE),
                                   warm := CAST(0 AS BIGINT)),
            list_transform(
              list_sort(list(struct_pack(day := day, cnt := cnt))),
              s -> struct_pack(n_alerts := CAST(0 AS BIGINT),
                               ewma := CAST(s.cnt AS DOUBLE),
                               warm := CAST(1 AS BIGINT)))),
          (acc, x) -> struct_pack(
            n_alerts := acc.n_alerts +
              CASE WHEN acc.warm >= 3 AND x.ewma > 2.0 * acc.ewma
                   THEN 1 ELSE 0 END,
            ewma := acc.ewma * 0.75 + x.ewma * 0.25,
            warm := acc.warm + 1)) AS st
      FROM daily GROUP BY user_id
    )
    SELECT user_id, n_days, st.ewma AS ewma, st.n_alerts AS n_alerts
    FROM folded WHERE n_days >= 5
    """,
)
def events_ewma_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA spike alerting — the control-chart use of the smoothing
    fold: walking each user's day-ordered counts, a day ALERTS when it
    exceeds 2× the running EWMA (after a 3-day warmup so the cold
    baseline can't fire).  The fold accumulator is a STRUCT
    (ewma, n_alerts, warmup) — both engines evaluate the identical
    (multiply-add, compare, increment) sequence because the fold order
    is the sorted day order and every constant is an exact binary
    fraction.  Reports per-user final baseline and alert count.

    Scale shape: identical to events_ewma_smoothing (daily partial
    aggregate + per-user fold hard-bounded at each user's last
    _EWMA_FOLD_DAYS observed days); the struct accumulator adds state
    WIDTH, not extra passes —
    the pattern for any sequential-scan statistic (drawdown, streaks,
    CUSUM) expressed as one fold.
    """
    e = table(spark, sf_dir, "events")
    daily = _capped_daily(e)
    init = F.struct(
        F.lit(0.0).alias("ewma"),
        F.lit(0).cast("bigint").alias("n_alerts"),
        F.lit(0).cast("bigint").alias("warm"),
    )
    folded = daily.groupBy("user_id").agg(
        F.count("*").alias("n_days"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "cnt"))),
                lambda s: s["cnt"].cast("double"),
            ),
            init,
            lambda acc, x: F.struct(
                (acc["ewma"] * 0.75 + x * 0.25).alias("ewma"),
                (
                    acc["n_alerts"]
                    + F.when(
                        (acc["warm"] >= 3) & (x > 2.0 * acc["ewma"]), 1
                    ).otherwise(0)
                ).alias("n_alerts"),
                (acc["warm"] + 1).alias("warm"),
            ),
        ).alias("st"),
    )
    return folded.filter(F.col("n_days") >= 5).select(
        "user_id",
        "n_days",
        F.col("st.ewma").alias("ewma"),
        F.col("st.n_alerts").alias("n_alerts"),
    )


# ORACLE NOTE — this oracle deliberately does NOT mirror the Spark
# struct-accumulator fold.  Under DuckDB 1.0's grouped vectorized
# lambda evaluation, a struct_pack field assigned from a rarely-true
# CASE branch inside list_reduce comes back with ANOTHER GROUP's value
# (observed: first-crossing days swapped between adjacent user_ids;
# the identical fold on a single-group input is correct, and the
# always-assigned cp/mx/c fields are correct even grouped).  So the
# oracle replays the recurrence as an O(n²)-per-user PREFIX SCAN —
# C_j re-reduced over each prefix with a single-BIGINT accumulator
# (no struct, no conditional assignment), crossings read positionally
# from the C list — which is bounded at n ≤ 90 by the observed-days
# cap.  Both formulations compute the same recurrence; equality of
# results is exactly what the gate then checks.
@query(
    "events_cusum_changepoint",
    oracle="""
    WITH daily0 AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ), daily AS (
      SELECT user_id, day, cnt FROM (
        SELECT user_id, day, cnt,
          row_number() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn
        FROM daily0)
      WHERE rn <= 90
    ), pre AS (
      SELECT user_id, COUNT(*) AS n_days,
        CAST(SUM(cnt) AS BIGINT) AS total,
        list_sort(list(struct_pack(day := day, cnt := cnt))) AS lst
      FROM daily GROUP BY user_id
    ), cv AS (
      SELECT user_id, n_days, total, lst,
        list_transform(generate_series(1, len(lst)), j ->
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(list_slice(lst, 1, j),
                s -> 2 * n_days * s.cnt - 3 * total)),
            (a, b) -> GREATEST(CAST(0 AS BIGINT), a + b))) AS c
      FROM pre
    ), marked AS (
      SELECT user_id, n_days, total, lst, c,
        list_filter(generate_series(1, len(c)), j ->
          c[j] >= 4 * total AND
          (CASE WHEN j = 1 THEN 0 ELSE c[j-1] END) < 4 * total) AS ups
      FROM cv
    )
    SELECT user_id, n_days, total,
      CAST(len(ups) AS BIGINT) AS n_changepoints,
      GREATEST(CAST(0 AS BIGINT),
        CAST(list_max(list_prepend(CAST(0 AS BIGINT), c)) AS BIGINT))
        AS max_cusum,
      CASE WHEN len(ups) = 0 THEN DATE '1970-01-01'
           ELSE lst[ups[1]].day END AS first_cp_day
    FROM marked WHERE n_days >= 5
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection on each user's day-ordered
    activity counts — the Page (1954) control chart that catches a
    SUSTAINED rate shift the per-day EWMA alert misses: the statistic
    accumulates deviation-above-slack, so five consecutive mildly-hot
    days fire where no single day would.

    Engine-exact by integer scaling: with n = #days and s = total
    events for the user, the update is written in units of 2n·counts —
    C_i = max(0, C_{i-1} + 2·n·cnt_i - 3·s), i.e. deviation from the
    user's own mean (2·n·cnt - 2·s) minus a half-mean slack (s), with
    a changepoint when C crosses H = 4·s (two means).  Every quantity
    is exact int64 (bounded by 2·90²·max_daily_cnt under the 90-day
    cap), so both engines replay the identical fold — no float
    thresholds, no variance estimate.  Reports per user: crossing
    count, the first crossing day, and the max statistic.

    Scale shape: identical to the EWMA folds — daily partial aggregate,
    per-user buffer hard-bounded at the last _EWMA_FOLD_DAYS observed
    days (the row_number cap shares the fold's user_id shuffle), one
    struct-accumulator fold; n and s are sibling aggregates of the
    same groupBy, so the whole detector is one exchange.
    """
    e = table(spark, sf_dir, "events")
    daily = _capped_daily(e)
    epoch = F.lit("1970-01-01").cast("date")
    init = F.struct(
        F.lit(0).cast("bigint").alias("cp"),
        F.lit(0).cast("bigint").alias("fd"),
        F.lit(0).cast("bigint").alias("mx"),
        F.lit(0).cast("bigint").alias("c"),
    )
    pre = daily.groupBy("user_id").agg(
        F.count("*").alias("n_days"),
        F.sum("cnt").alias("total"),
        F.array_sort(F.collect_list(F.struct("day", "cnt"))).alias("arr"),
    )
    n, s = F.col("n_days"), F.col("total")

    def step(acc, x):
        new_c = F.greatest(
            F.lit(0).cast("bigint"), acc["c"] + 2 * n * x["cnt"] - 3 * s
        )
        crossing = (acc["c"] < 4 * s) & (new_c >= 4 * s)
        return F.struct(
            (acc["cp"] + F.when(crossing, 1).otherwise(0)).alias("cp"),
            # first-crossing day as days-since-epoch (0 = none) — the
            # accumulator stays all-BIGINT to mirror the oracle (see
            # the ORACLE NOTE above: nullable DATE lambda fields break
            # under DuckDB's grouped vectorized evaluation, and a NULL
            # date would also render 'None' vs 'NaT' at the driver).
            F.when(
                (acc["fd"] == 0) & crossing,
                F.datediff(x["day"], epoch).cast("bigint"),
            )
            .otherwise(acc["fd"])
            .alias("fd"),
            F.greatest(acc["mx"], new_c).alias("mx"),
            new_c.alias("c"),
        )

    folded = pre.select(
        "user_id", "n_days", "total", F.aggregate("arr", init, step).alias("st")
    )
    return folded.filter(F.col("n_days") >= 5).select(
        "user_id",
        "n_days",
        "total",
        F.col("st.cp").alias("n_changepoints"),
        F.col("st.mx").alias("max_cusum"),
        F.date_add(epoch, F.col("st.fd").cast("int")).alias("first_cp_day"),
    )


# ACF lag horizon: correlations are reported for lags 1.._ACF_MAX_LAG.
_ACF_MAX_LAG = 7

# Shared oracle CTE: the gap-filled daily event-count series
# (day = days since epoch, c = count, missing days = 0).
_DAILY_SERIES_SQL = """
    daily0 AS (
      SELECT datediff('day', DATE '1970-01-01',
                      CAST(date_trunc('day', ts) AS DATE)) AS day,
             COUNT(*) AS cnt
      FROM events GROUP BY 1
    ), bounds AS (
      SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily0
    ), days AS (
      SELECT unnest(generate_series(lo, hi)) AS day FROM bounds
    ), daily AS (
      SELECT d.day, COALESCE(c.cnt, 0) AS c
      FROM days d LEFT JOIN daily0 c ON d.day = c.day
    )"""


def _gapfilled_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, c): the gap-filled daily event-count series.  The
    day-grained aggregate is cached — it is referenced multiple times
    by every series consumer (bounds + alignment sides) and without
    the pin each reference re-executes the fact scan.  Series-shaped
    (T rows), so pinning is free at any corpus size.

    CALENDAR-WIDENING HAZARD (poison sweep, POISON.md): the dense
    spine spans min(day)..max(day), so ONE misdated row — the classic
    null→epoch 1970 default, or a far-future clock — widens T from the
    true observation window to the full error-spanned calendar (47k
    days for 1970..2100) and every quadratic consumer's pair frame by
    T'²/T².  The pair loops are repartitioned so that cost spreads,
    but pipelines ingesting untrusted timestamps should quarantine
    out-of-window rows upstream (the intake-gate pattern of
    streaming/url_intake)."""
    e = table(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01").cast("date")
    daily0 = (
        e.groupBy(
            F.datediff(F.date_trunc("day", "ts").cast("date"), epoch)
            .cast("bigint")
            .alias("day")
        )
        .agg(F.count("*").alias("cnt"))
        .cache()
    )
    bounds = daily0.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    days = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    return days.join(daily0, "day", "left").select(
        "day", F.coalesce("cnt", F.lit(0)).alias("c")
    )


@query(
    "events_acf_lags",
    oracle=f"""
    WITH {_DAILY_SERIES_SQL}, lags AS (
      SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag
    ), pairs AS (
      SELECT l.lag, x.c AS cx, y.c AS cy
      FROM lags l, daily x, daily y WHERE y.day = x.day + l.lag
    ), s AS (
      SELECT lag, COUNT(*) AS m,
        SUM(CAST(cx AS HUGEINT)) AS sx, SUM(CAST(cy AS HUGEINT)) AS sy,
        SUM(CAST(cx AS HUGEINT) * cy) AS sxy,
        SUM(CAST(cx AS HUGEINT) * cx) AS sxx,
        SUM(CAST(cy AS HUGEINT) * cy) AS syy
      FROM pairs GROUP BY 1
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(m AS BIGINT) AS n_pairs,
      CAST(m * sxy - sx * sy AS DOUBLE) AS cov_num,
      CASE WHEN (m * sxx - sx * sx) = 0 OR (m * syy - sy * sy) = 0
           THEN NULL
           ELSE ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
                      / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                             * CAST(m * syy - sy * sy AS DOUBLE)), 9)
      END AS acf
    FROM s ORDER BY lag
    """,
)
def events_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the gap-filled daily event-count series at
    lags 1..7 — the seasonality/trend diagnostic a pipeline runs
    before picking rollup windows or alerting baselines (a weekly
    cycle shows as an acf peak at lag 7).

    Engine-exactness: every moment (Σx, Σxy, Σx², pair count) is an
    exact integer — DECIMAL(38,0) here, HUGEINT in the oracle — and
    each lag's Pearson correlation over the aligned overlap is formed
    from those integers with DOUBLE used only for the final
    sqrt/divide on already-exact operands (correctly-rounded IEEE ops
    on identical inputs), then rounded to 9 places like the other
    float-emitting gates.  Exact while Σc²·T < 10^38 — at 10^9
    events/day for a century the products sit near 10^27, thirty
    orders under the bound.

    Scale shape: the raw scan collapses to ONE day-grained partial
    aggregate (series-shaped, T rows); the day spine is a single-row
    sequence() explode; the lag fan-out is a 7-row broadcast; the
    self-alignment is an equi-join on day+lag between two T-row
    frames; the final agg is 7 groups.  Nothing downstream of the
    first aggregate is corpus-shaped, so the plan's cost is the scan.
    """
    daily = _gapfilled_daily(spark, sf_dir)
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    x = daily.crossJoin(broadcast(lags)).select(
        "lag", (F.col("day") + F.col("lag")).alias("ydy"), F.col("c").alias("cx")
    )
    y = daily.select(F.col("day").alias("ydy"), F.col("c").alias("cy"))
    d18 = lambda c: F.col(c).cast("decimal(18,0)")  # noqa: E731
    s = (
        x.join(y, "ydy")
        .groupBy("lag")
        .agg(
            F.count("*").alias("m"),
            F.sum(d18("cx")).alias("sx"),
            F.sum(d18("cy")).alias("sy"),
            F.sum(d18("cx") * d18("cy")).alias("sxy"),
            F.sum(d18("cx") * d18("cx")).alias("sxx"),
            F.sum(d18("cy") * d18("cy")).alias("syy"),
        )
    )
    md = F.col("m").cast("decimal(18,0)")
    num = md * F.col("sxy") - F.col("sx") * F.col("sy")
    den1 = md * F.col("sxx") - F.col("sx") * F.col("sx")
    den2 = md * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "lag",
        F.col("m").alias("n_pairs"),
        num.cast("double").alias("cov_num"),
        F.when((den1 == 0) | (den2 == 0), F.lit(None)).otherwise(
            F.round(
                num.cast("double")
                / F.sqrt(den1.cast("double") * den2.cast("double")),
                9,
            )
        ).alias("acf"),
    ).orderBy("lag")


@query(
    "events_trend_mannkendall",
    oracle=f"""
    WITH {_DAILY_SERIES_SQL}, pairs AS (
      SELECT CASE WHEN y.c > x.c THEN 1 WHEN y.c < x.c THEN -1 ELSE 0 END
        AS sgn
      FROM daily x, daily y WHERE x.day < y.day
    ), s AS (
      SELECT SUM(CAST(sgn AS BIGINT)) AS s_stat FROM pairs
    ), nrow AS (
      SELECT COUNT(*) AS n FROM daily
    ), ties AS (
      SELECT COALESCE(SUM(CAST(t * (t - 1) * (2 * t + 5) AS BIGINT)), 0)
        AS tie_term
      FROM (SELECT COUNT(*) AS t FROM daily GROUP BY c) g WHERE t > 1
    )
    SELECT CAST(n AS BIGINT) AS n_days, CAST(s_stat AS BIGINT) AS s_stat,
      CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT) AS var18,
      CASE WHEN n * (n - 1) * (2 * n + 5) - tie_term = 0 THEN NULL
        WHEN s_stat > 0 THEN ROUND((CAST(s_stat AS DOUBLE) - 1)
          / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
                 / 18.0), 9)
        WHEN s_stat < 0 THEN ROUND((CAST(s_stat AS DOUBLE) + 1)
          / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
                 / 18.0), 9)
        ELSE 0.0 END AS z
    FROM s, nrow, ties
    """,
)
def events_trend_mannkendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the gap-filled daily event-count
    series — the standard NONPARAMETRIC monotone-trend detector (is
    traffic drifting up or down, without assuming a distribution).
    It is exactly the engine-replayable member of the trend-test
    family: the statistic S = Σ_{{i<j}} sign(c_j − c_i) is a pure
    integer, and the tie-corrected variance is the exact integer
    n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) over 18 — DOUBLE enters only at
    the final z (continuity-corrected, rounded to 9 like every other
    float-emitting gate).

    Scale shape: the pair frame is T² of the SERIES length (T days —
    independent of corpus size; the corpus only feeds the one
    day-grained aggregate, pinned once by the shared series head), so
    the quadratic pairing is bounded by the calendar, not the data:
    a decade is ~6.7M sign comparisons.  Tie groups are a c-keyed agg
    on the T-row frame.
    """
    daily = _gapfilled_daily(spark, sf_dir)
    # spread the T² sign loop: the spine is a 1-partition frame, so
    # without this ONE task owns every pair — the poison corpus (one
    # epoch-zero + one far-future row → 47k-day calendar, 1.1e9 pairs)
    # measured it at 26s in a single task at sf0.001
    parts = spark.sparkContext.defaultParallelism
    x = daily.repartition(parts).select(
        F.col("day").alias("dx"), F.col("c").alias("cx")
    )
    y = daily.select(F.col("day").alias("dy"), F.col("c").alias("cy"))
    sgn = (
        F.when(F.col("cy") > F.col("cx"), 1)
        .when(F.col("cy") < F.col("cx"), -1)
        .otherwise(0)
        .cast("bigint")
    )
    s = (
        x.join(broadcast(y), F.col("dx") < F.col("dy"))
        .agg(F.sum(sgn).alias("s_stat"))
    )
    nrow = daily.agg(F.count("*").alias("n"))
    t = F.col("t")
    ties = (
        daily.groupBy("c")
        .agg(F.count("*").alias("t"))
        .filter(t > 1)
        .agg(
            F.coalesce(
                F.sum((t * (t - 1) * (2 * t + 5)).cast("bigint")), F.lit(0)
            ).alias("tie_term")
        )
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ).cast("bigint")
    sd = F.sqrt(var18.cast("double") / 18.0)
    z = (
        F.when(var18 == 0, F.lit(None).cast("double"))
        .when(
            F.col("s_stat") > 0,
            F.round((F.col("s_stat").cast("double") - 1) / sd, 9),
        )
        .when(
            F.col("s_stat") < 0,
            F.round((F.col("s_stat").cast("double") + 1) / sd, 9),
        )
        .otherwise(F.lit(0.0))
    )
    return (
        s.crossJoin(broadcast(nrow))
        .crossJoin(broadcast(ties))
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            F.col("s_stat").cast("bigint").alias("s_stat"),
            var18.alias("var18"),
            z.alias("z"),
        )
    )


@query(
    "events_trend_theilsen",
    oracle=f"""
    WITH {_DAILY_SERIES_SQL}, slopes AS (
      SELECT CAST(y.c - x.c AS DOUBLE) / CAST(y.day - x.day AS DOUBLE)
        AS slope, COUNT(*) AS cnt
      FROM daily x, daily y WHERE x.day < y.day
      GROUP BY 1
    ), cum AS (
      SELECT slope, cnt,
        SUM(cnt) OVER (ORDER BY slope ROWS UNBOUNDED PRECEDING) AS cw,
        SUM(cnt) OVER () AS n
      FROM slopes
    )
    SELECT CAST(n AS BIGINT) AS n_pairs, ROUND(slope, 9) AS sen_slope
    FROM cum WHERE cw >= (n + 1) // 2 AND cw - cnt < (n + 1) // 2
    """,
)
def events_trend_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust slope of the gap-filled daily event-count
    series — the median of all pairwise slopes, the rank-based
    companion to Mann-Kendall (events_trend_mannkendall answers "is
    there a monotone trend?", this answers "how steep?", immune to
    ~29% outlier contamination where an OLS slope is not).

    Determinism: each slope is ONE IEEE division of two exact
    integers (bit-identical in both engines); the oracle selects the
    median element by rank over (slope, dy, dx) — rows that tie on the
    full key carry the same slope VALUE, which is why the Spark side
    may aggregate pairs to (slope, count) FIRST: the value at
    cumulative rank (n+1)/2 over slope order is the identical median.

    Scale shape: the pair frame is calendar²-bounded (T² of the
    series length, like Mann-Kendall) but NEVER shuffled or sorted at
    pair grain — pairs collapse map-side into per-slope counts
    (distinct slopes ≤ distinct (Δcount, Δday) combinations, orders of
    magnitude below T²), then the two-phase grouped cumsum walks slope
    order and one filter picks the median.  The pair-grain global sort
    this replaced died of executor memory on the poison corpus's
    47k-day calendar (1.1e9 pairs — POISON.md class 2); the grouped
    form runs the same input in seconds.
    """
    from ..operators.relational import grouped_weighted_cumsum

    daily = _gapfilled_daily(spark, sf_dir)
    # same 1-partition-spine T² fix as events_trend_mannkendall: spread
    # the pair generation before the slope exchange
    parts = spark.sparkContext.defaultParallelism
    x = daily.repartition(parts).select(
        F.col("day").alias("dxd"), F.col("c").alias("cx")
    )
    y = daily.select(F.col("day").alias("dyd"), F.col("c").alias("cy"))
    slopes = (
        x.join(broadcast(y), F.col("dxd") < F.col("dyd"))
        .select(
            (
                (F.col("cy") - F.col("cx")).cast("double")
                / (F.col("dyd") - F.col("dxd")).cast("double")
            ).alias("slope"),
        )
        .groupBy("slope")
        .agg(F.count("*").alias("cnt"))
        .withColumn("_g", F.lit(1))
    )
    cum = grouped_weighted_cumsum(slopes, ["_g"], ["slope"], "cnt", out_col="cw")
    n = cum.agg(F.sum("cnt").alias("n"))
    target = F.expr("(n + 1) DIV 2")
    return (
        cum.crossJoin(broadcast(n))
        .filter(
            (F.col("cw") >= target) & (F.col("cw") - F.col("cnt") < target)
        )
        .select(
            F.col("n").cast("bigint").alias("n_pairs"),
            F.round("slope", 9).alias("sen_slope"),
        )
    )


def _ppr_round(prev: str, out: str) -> str:
    """One personalized-PageRank round as SQL (mirrors
    operators/graph.ppr_int: teleport only at seeds)."""
    return f"""
    {out} AS (
      SELECT n.id,
             (CASE WHEN n.seed THEN tele.t ELSE 0 END)
               + (85 * COALESCE(i.s_in, 0)) // 100 AS rank
      FROM nodes n
      CROSS JOIN tele
      LEFT JOIN (
        SELECT e.d AS id, SUM(c.contrib) AS s_in
        FROM edges e
        JOIN (SELECT r.id, r.rank // dg.deg AS contrib
              FROM {prev} r JOIN deg dg ON r.id = dg.s) c
          ON e.s = c.id
        GROUP BY e.d
      ) i ON n.id = i.id
    )"""


@query(
    "graph_ppr_seeded",
    oracle=f"""
    WITH raw AS ({_PR_EDGES_SQL}),
    edges AS (
      SELECT s, d FROM raw UNION SELECT d AS s, s AS d FROM raw
    ),
    deg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s),
    nodes AS (SELECT DISTINCT s AS id, s < 100 AS seed FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes WHERE seed),
    tele AS (
      SELECT ((15 * {_PR_SCALE}::BIGINT) // 100) // n AS t,
             {_PR_SCALE}::BIGINT // n AS r0
      FROM nn
    ),
    r0 AS (
      SELECT id, CASE WHEN seed THEN tele.r0 ELSE 0 END AS rank
      FROM nodes CROSS JOIN tele
    ),
    {_ppr_round("r0", "r1")},
    {_ppr_round("r1", "r2")},
    {_ppr_round("r2", "r3")}
    SELECT id, CAST(rank AS BIGINT) AS rank
    FROM r3 WHERE id >= 100 ORDER BY rank DESC, id LIMIT 20
    """,
)
def graph_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a seed set (customers with key
    < 100) on the trade graph — "more like these": the random surfer
    restarts at a SEED, so rank measures proximity to the seed set
    (seed-expansion retrieval / lookalike labeling), not global
    influence.  Top-20 NON-seed nodes so the answer is the expansion,
    not the seeds themselves.  Integer micro-units as in
    graph_pagerank — bit-identical across engines and layouts; the
    oracle unrolls the same three rounds with the seed-conditional
    teleport (operators/graph.ppr_int).

    Scale shape: identical to graph_pagerank per round; the seed flag
    is a pure expression on the node id, so personalization adds zero
    data movement.
    """
    from ..operators.graph import ppr_int

    ranks = ppr_int(_trade_edges(spark, sf_dir), lambda c: c < 100, 3, _PR_SCALE)
    return (
        ranks.filter(F.col("id") >= 100)
        .orderBy(F.desc("rank"), "id")
        .limit(20)
    )


@query(
    "events_attribution_linear",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts
      FROM events WHERE event_type = 'purchase'
    ), touches AS (
      SELECT user_id, ts AS touch_ts, event_type AS touch_type
      FROM events WHERE event_type IN ('click', 'view')
    ), cand AS (
      SELECT p.event_id, t.touch_type, t.touch_ts,
        ROW_NUMBER() OVER (PARTITION BY p.event_id
                           ORDER BY t.touch_ts DESC, t.touch_type) AS rn,
        COUNT(*) OVER (PARTITION BY p.event_id) AS n
      FROM purchases p JOIN touches t
        ON p.user_id = t.user_id
        AND t.touch_ts <= p.ts
        AND p.ts - t.touch_ts <= INTERVAL 7 DAY
    ), credited AS (
      SELECT touch_type,
        1000000 // n + CASE WHEN rn = 1 THEN 1000000 % n ELSE 0 END
          AS credit
      FROM cand
    ), attributed AS (
      SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
        CAST(SUM(credit) AS BIGINT) AS credit_ppm
      FROM credited GROUP BY touch_type
    ), none_row AS (
      SELECT '(none)' AS touch_type,
        CAST(COUNT(*) AS BIGINT) AS n_touches,
        CAST(COUNT(*) * 1000000 AS BIGINT) AS credit_ppm
      FROM purchases p
      WHERE NOT EXISTS (
        SELECT 1 FROM touches t
        WHERE t.user_id = p.user_id AND t.touch_ts <= p.ts
          AND p.ts - t.touch_ts <= INTERVAL 7 DAY)
    )
    SELECT * FROM attributed UNION ALL SELECT * FROM none_row
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-weight) multi-touch attribution: every purchase
    splits 1,000,000 ppm of conversion credit equally across ALL its
    click/view touches in the 7-day lookback; the integer-division
    remainder goes to the MOST RECENT touch so each conversion's
    credit sums to exactly 1,000,000 (credit is conserved — the
    invariant last-touch attribution gets for free and linear models
    usually fudge with floats).  Untouched purchases surface as the
    '(none)' row carrying their full credit.

    Scale shape: candidate generation is the banded interval join
    (operators/interval.range_join: tolerance-width integer bins,
    3-bin probe equi-join — never a theta join; the oracle IS the
    theta join, pinning the band semantics); per-purchase counts ride
    one window partitioned by event_id; the '(none)' side is an
    anti-join on the same candidates.

    HOT-KEY WARNING — dies on skewed keys: candidate generation is
    uncapped, so a user holding 30 % of events produces O(hot²)
    in-band pairs; on the r10 Zipf-skew corpus this exact query
    Java-heap-OOM'd and killed the SparkContext (BENCH_SF1_SKEW.md).
    It stays registered as the ORACLE-EXACT semantics; the production
    path is events_attribution_capped (≤ K candidates per purchase by
    construction, measured flat on the same corpus).
    """
    from ..operators.interval import range_join

    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("touch_type"),
    )
    from ..functions.scalars import epoch_s

    # Band widened by 2s, then refined at FULL timestamp precision:
    # range_join's internal refine compares second-truncated epochs,
    # but event timestamps are microsecond-granular and the oracle's
    # `p.ts - t.touch_ts <= INTERVAL 7 DAY` is exact — at sf0.1 a pair
    # landed inside the one-second truncation skew of the 7-day edge
    # and the engines disagreed (caught by the first full sweep at
    # sf0.1).  The +2s superset band loses no true pair; the exact
    # timestamp predicates decide membership identically to the oracle.
    cand = range_join(
        purchases,
        touches,
        on="user_id",
        left_ts="ts",
        right_ts="touch_ts",
        tolerance_s=7 * 86400 + 2,
        suffix="",
    ).filter(
        (F.col("touch_ts") <= F.col("ts"))
        & (F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS"))
    )
    # cand feeds both the credit pass and the '(none)' anti-join;
    # pinned so the interval join (and its two event scans) runs once.
    cand = cand.cache()
    wn = Window.partitionBy("event_id")
    wr = Window.partitionBy("event_id").orderBy(
        F.desc("touch_ts"), "touch_type"
    )
    credited = cand.select(
        "event_id",
        "touch_type",
        F.count("*").over(wn).alias("n"),
        F.row_number().over(wr).alias("rn"),
    ).select(
        "touch_type",
        (
            F.expr("1000000 DIV n")
            + F.when(F.col("rn") == 1, F.expr("1000000 % n")).otherwise(0)
        ).alias("credit"),
    )
    attributed = credited.groupBy("touch_type").agg(
        F.count("*").cast("bigint").alias("n_touches"),
        F.sum("credit").cast("bigint").alias("credit_ppm"),
    )
    none_row = (
        purchases.join(
            cand.select("event_id").distinct(), "event_id", "left_anti"
        )
        .agg(F.count("*").alias("c"))
        .select(
            F.lit("(none)").alias("touch_type"),
            F.col("c").cast("bigint").alias("n_touches"),
            (F.col("c") * 1000000).cast("bigint").alias("credit_ppm"),
        )
    )
    return attributed.unionByName(none_row)


@query(
    "events_attribution_capped",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts
      FROM events WHERE event_type = 'purchase'
    ), ranked AS (
      SELECT user_id, ts AS touch_ts, event_type AS touch_type,
        event_id AS t_eid,
        ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS rk
      FROM events WHERE event_type IN ('click', 'view')
    ), anchored AS (
      SELECT p.event_id, p.user_id, p.ts, MAX(t.rk) AS r
      FROM purchases p JOIN ranked t
        ON t.user_id = p.user_id AND t.touch_ts <= p.ts
      GROUP BY p.event_id, p.user_id, p.ts
    ), cand AS (
      SELECT a.event_id, t.touch_type, t.rk,
        ROW_NUMBER() OVER (PARTITION BY a.event_id
                           ORDER BY t.rk DESC) AS rn,
        COUNT(*) OVER (PARTITION BY a.event_id) AS n
      FROM anchored a JOIN ranked t
        ON t.user_id = a.user_id
        AND t.rk > a.r - 20 AND t.rk <= a.r
        AND t.touch_ts >= a.ts - INTERVAL 7 DAY
    ), credited AS (
      SELECT touch_type,
        1000000 // n + CASE WHEN rn = 1 THEN 1000000 % n ELSE 0 END
          AS credit
      FROM cand
    ), attributed AS (
      SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
        CAST(SUM(credit) AS BIGINT) AS credit_ppm
      FROM credited GROUP BY touch_type
    ), none_row AS (
      SELECT '(none)' AS touch_type,
        CAST(COUNT(*) AS BIGINT) AS n_touches,
        CAST(COUNT(*) * 1000000 AS BIGINT) AS credit_ppm
      FROM purchases p
      WHERE NOT EXISTS (
        SELECT 1 FROM cand c WHERE c.event_id = p.event_id)
    )
    SELECT * FROM attributed UNION ALL SELECT * FROM none_row
    """,
)
def events_attribution_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution over the K=20 MOST RECENT touches
    per purchase — the skew-proof production twin of
    events_attribution_linear.  The uncapped operator generates every
    in-band (purchase, touch) pair before crediting; on the r10
    Zipf-skew corpus (one user holding 30% of events) that is O(hot²)
    candidates and it DIED (Java-heap OOM → SparkContext shutdown,
    BENCH_SF1_SKEW.md) — exactly how a 100 TB attribution job dies on
    a bot account.  Capping the lookback at the K most recent touches
    is also the business-correct model (a 7-day window with thousands
    of touches dilutes credit into noise).

    Scale shape (operators/interval.capped_recent_join): rank touches
    per user with the SALTED two-level ranker (local rank per (user,
    6 h bucket) + per-bucket offsets — no task ever owns a hot user's
    full stream; r11, closing VERDICT r10 #1), as-of join the anchor
    rank (salted union+window with a bucket-summary carry — same
    guarantee), explode ≤K candidate ranks per purchase, equi-join on
    (user, rank) — rank in the join key SPREADS a hot user across
    partitions — then exact 7-day refine.  Candidates ≤ K·|purchases|
    by construction, independent of key heat.

    Remainder credit goes to the highest rank (most recent touch) —
    rank is unique per user, so the tiebreak is total in both engines.
    """
    from ..operators.interval import capped_recent_join
    from ._heat import events_user_bucket

    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("touch_type"),
        F.col("event_id").alias("t_eid"),
    )
    cand = capped_recent_join(
        purchases,
        touches,
        on="user_id",
        left_ts="ts",
        right_ts="touch_ts",
        right_id="t_eid",
        k=20,
        tolerance="7 DAYS",
        # heat-dispatched (r11 #1): the internal rank + as-of run
        # plain unless a measured hot user; the per-left-row k-cap
        # bounds candidates either way
        bucket_s=events_user_bucket(spark, sf_dir),
    ).cache()
    wn = Window.partitionBy("event_id")
    wr = Window.partitionBy("event_id").orderBy(F.desc("_rk"))
    credited = cand.select(
        "event_id",
        "touch_type",
        F.count("*").over(wn).alias("n"),
        F.row_number().over(wr).alias("rn"),
    ).select(
        "touch_type",
        (
            F.expr("1000000 DIV n")
            + F.when(F.col("rn") == 1, F.expr("1000000 % n")).otherwise(0)
        ).alias("credit"),
    )
    attributed = credited.groupBy("touch_type").agg(
        F.count("*").cast("bigint").alias("n_touches"),
        F.sum("credit").cast("bigint").alias("credit_ppm"),
    )
    none_row = (
        purchases.join(
            cand.select("event_id").distinct(), "event_id", "left_anti"
        )
        .agg(F.count("*").alias("c"))
        .select(
            F.lit("(none)").alias("touch_type"),
            F.col("c").cast("bigint").alias("n_touches"),
            (F.col("c") * 1000000).cast("bigint").alias("credit_ppm"),
        )
    )
    return attributed.unionByName(none_row)


@query(
    "graph_degree_histogram",
    oracle=f"""
    WITH raw AS ({_PR_EDGES_SQL}),
    edges AS (
      SELECT s, d FROM raw UNION SELECT d AS s, s AS d FROM raw
    ),
    deg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s),
    b AS (
      SELECT deg, length(bin(CAST(deg AS BIGINT))) AS bucket FROM deg
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
      CAST(2 ** (bucket - 1) AS BIGINT) AS degree_lo,
      CAST(COUNT(*) AS BIGINT) AS n_nodes,
      CAST(SUM(deg) AS BIGINT) AS edge_endpoints
    FROM b GROUP BY bucket
    """,
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the trade graph in power-of-two buckets
    (the bit-length device again — no float log) — the first thing to
    look at before ANY graph algorithm at scale: a heavy power-law
    tail is what makes k-core/label-prop/PageRank skew-sensitive, and
    this histogram is the evidence for (or against) salting hot
    nodes.  Buckets carry node counts AND edge-endpoint mass so the
    skew's share of WORK (not just of nodes) is visible.

    Scale shape: symmetrized-edge degree count (one node-keyed agg),
    then a ≤64-bucket histogram.
    """
    raw = _trade_edges(spark, sf_dir)
    sym = raw.unionByName(
        raw.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).distinct()
    deg = sym.groupBy("s").agg(F.count("*").alias("deg"))
    b = deg.select(
        "deg", F.length(F.bin(F.col("deg").cast("bigint"))).alias("bucket")
    )
    return b.groupBy("bucket").agg(
        F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(bucket - 1 AS INT))"
               " AS BIGINT)").alias("degree_lo"),
        F.count("*").cast("bigint").alias("n_nodes"),
        F.sum("deg").cast("bigint").alias("edge_endpoints"),
    ).select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "degree_lo", "n_nodes", "edge_endpoints",
    )


_PRIO_K = 40  # weighted sample size


@query(
    "sample_priority_weighted",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
          + 1 AS h1
      FROM documents WHERE n_chars > 0
    ), keyed AS (
      SELECT doc_id, weight,
        CAST(h1 AS DOUBLE) / CAST(weight AS DOUBLE) AS sort_key
      FROM w
    )
    SELECT doc_id, weight, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY sort_key, doc_id) AS rk
      FROM keyed
    ) WHERE rk <= {_PRIO_K}
    """,
)
def sample_priority_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement by PRIORITY
    (Duffield–Lund–Thorup): each row gets priority w/u with u uniform
    from the md5 hash — equivalently we keep the k SMALLEST u/w —
    so heavier documents are proportionally likelier to be kept, in
    ONE pass, reproducibly (hash, never rand()).  This is the
    length-weighted corpus subsample a curation run uses when "sample
    10k documents proportional to token mass" must be replayable.
    u/w is a single IEEE double division of exact integers — both
    engines compute the identical value (no transcendentals, unlike
    the u^(1/w) exponential-jumps form).

    Scale shape: the sort key is a map expression; top-k is
    TakeOrdered (each partition keeps k, driver merges P·k) — never a
    global sort.
    """
    d = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    from ..functions import text as T

    keyed = d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("weight"),
        (
            (T.md5_hash64(F.col("doc_id").cast("string")) + 1).cast("double")
            / F.col("n_chars").cast("double")
        ).alias("sort_key"),
    )
    w = Window.orderBy("sort_key", "doc_id")
    return (
        keyed.orderBy("sort_key", "doc_id")
        .limit(_PRIO_K)
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "weight", "rk")
    )
