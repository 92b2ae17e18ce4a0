"""Event-stream analytics (batch views of the streaming operators).

The reference's daily-index feed is a natural stream (SURVEY §2.9); the
streaming module (streaming/daily_feed.py) runs these same shapes with
readStream + watermarks.  Here they run as batch queries so the DuckDB
oracle can value-check the windowing/sessionization semantics — the
Structured Streaming incremental execution of an identical plan is
covered by tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..catalog import table
from ..functions.scalars import epoch_s
from .registry import query


def _dec(c, prec: int = 12, scale: int = 2):
    return c.cast(f"decimal({prec},{scale})")


@query(
    "events_tumbling_daily",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window aggregate (batch form of the streaming
    daily-feed rollup; window start == date_trunc day)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(_dec(F.col("value"), 18)).cast("double").alias("total_value"),
        )
    )


@query(
    "events_sessionize",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
        CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL 30 MINUTE
             OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_start
      FROM events
    ), sessions AS (
      SELECT user_id, ts, event_id,
        SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      COUNT(*) AS n_events,
      CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-min inactivity gap, expressed as the
    classic lag→flag→cumsum composition (batch equivalent of
    session_window / applyInPandasWithState in the streaming module).
    Partitioned by user_id — scales horizontally, no global sort.

    HOT-KEY WARNING: one window task owns a key's whole stream, so a
    user holding 30 % of a 100 TB table is one task holding 30 % of
    the table (measured: the salted-window probe puts 8.0M of 20M
    rows in one task at 40 % heat).  Stays registered as the
    oracle-exact single-window semantics; the production path is
    events_sessionize_salted (bit-identical, per-(user, bucket)
    windows + fragment merge)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                epoch_s("ts") - epoch_s(F.lag("ts").over(w))
                > 30 * 60
            ),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    sessions = marked.select(
        "user_id",
        "ts",
        "event_id",
        F.sum("is_start").over(wrun).alias("session_id"),
    )
    return sessions.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id")).agg(
        F.count("*").alias("n_events"),
        (F.max(epoch_s("ts")) - F.min(epoch_s("ts")))
        .cast("bigint")
        .alias("duration_s"),
    )


@query(
    "events_sessionize_salted",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
        CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL 30 MINUTE
             OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_start
      FROM events
    ), sessions AS (
      SELECT user_id, ts, event_id,
        SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      COUNT(*) AS n_events,
      CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def events_sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_sessionize with the SALTED two-level operator
    (operators/sessionize.salted_sessionize): per-(user, 6h-bucket)
    local sessionize, then an exact fragment merge — identical output
    to the single-window form (the oracle IS events_sessionize's),
    but no task ever owns more than one hot user's single bucket.
    The window-shaped answer to the r10 skew finding that windows,
    unlike aggregates, have no map-side combine to absorb a key
    holding 30% of the table.

    Scale shape: one shuffle on (user, bucket) — the hot user spreads
    across timespan/6h partitions — a same-keyed fragment aggregate,
    then one vocabulary-shaped shuffle on user over fragments.
    """
    from ..operators.sessionize import salted_sessionize

    e = table(spark, sf_dir, "events")
    s = salted_sessionize(e, gap_s=30 * 60, bucket_s=6 * 3600)
    return s.select(
        "user_id",
        "session_id",
        "n_events",
        (F.col("last_ep") - F.col("first_ep")).cast("bigint").alias("duration_s"),
    )


@query(
    "events_json_props",
    oracle="""
    WITH k AS (
      SELECT event_type,
        CASE WHEN json_valid(props)
             THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        END AS k
      FROM events
    )
    SELECT event_type,
      CAST(SUM(k) AS BIGINT) AS sum_k,
      COUNT(*) AS n
    FROM k
    WHERE k > 50
    GROUP BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON column access (the reference parses JSON
    payloads from the XBRL REST API, rest.py:126-156; here: get_json_object
    → typed filter/agg, which Catalyst can't push but evaluates codegen'd).

    Validity contract is STRICT (= DuckDB json_valid): a payload with
    trailing garbage ('{"k": 99} trash') extracts NULL.  Spark's
    get_json_object alone is prefix-lenient and WOULD extract 99, so
    the extraction runs behind the shared strict_json_gate
    (functions/jsonx.py — Arrow-batched, whitelisted parsing-layer
    UDF; rationale + 100 TB intake-time shape documented there).  The
    trailing-garbage poison row pins the parity (ADVICE r11)."""
    from ..functions.jsonx import strict_json_gate

    e = table(spark, sf_dir, "events")
    # try_cast, not cast: a valid payload can hold a NON-numeric k
    # ('{"k": NaN}' passes json_valid in both engines); the strict
    # ANSI cast of 'NaN' to bigint crashes Spark AND the DuckDB
    # oracle (which uses TRY_CAST for the same reason)
    k = strict_json_gate(
        F.get_json_object("props", "$.k").try_cast("bigint"),
        F.col("props"),
    )
    return (
        e.select("event_type", k.alias("k"))
        .filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(F.sum("k").cast("bigint").alias("sum_k"), F.count("*").alias("n"))
    )


@query(
    "events_asof_join",
    oracle="""
    SELECT c.event_id, c.ts, c.user_id, c.value,
           e.event_id AS event_id_err, e.value AS value_err, e.ts AS ts_err
    FROM (SELECT * FROM events
          WHERE event_type = 'click' AND user_id IS NOT NULL) c
    ASOF LEFT JOIN (SELECT * FROM events
          WHERE event_type = 'error' AND user_id IS NOT NULL) e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) join: every click event annotated with the
    most recent error event at-or-before it for the same user — the
    feature-attachment shape of a training-data pipeline.  The operator
    (operators/asof.py) is the union+window formulation — no range-join
    candidate blowup — HEAT-DISPATCHED (r12, VERDICT r11 #1): the
    sampled key-heat probe (operators/stats.py via
    queries/_heat.events_user_bucket) picks the plain single window on
    healthy corpora and the salted two-level form (windows per
    (user, 6 h bucket) plus a bucket-summary carry) at a measured hot
    user; both proven bit-identical.  The oracle is DuckDB's native
    ASOF LEFT JOIN, an independent implementation of the same
    semantics."""
    from ..operators.asof import asof_join
    from ._heat import events_user_bucket

    e = table(spark, sf_dir, "events")
    # NULL join keys dropped on BOTH sides, BOTH engines (ADVICE r12):
    # asof_join's window semantics group NULL keys together while
    # DuckDB's ASOF JOIN never matches NULL = NULL, so the gate
    # contract is self-enforcing only if neither engine ever sees a
    # NULL user_id — a future NULL-user poison row now cannot split
    # the engines on designed-but-divergent behavior.
    e = e.filter(F.col("user_id").isNotNull())
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id", "value"
    )
    return asof_join(
        clicks,
        errors,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id", "value", "ts"],
        suffix="_err",
        # heat-dispatched (r11 #1): plain single window on healthy
        # corpora; salted two-level (per-(user, 6 h bucket) + carry)
        # when the probe measures a hot user — both bit-identical
        bucket_s=events_user_bucket(spark, sf_dir),
    )


@query(
    "events_range_join",
    oracle="""
    SELECT c.event_id, c.ts, c.user_id,
           e.event_id AS event_id_err, e.value AS value_err, e.ts AS ts_err
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id
     AND abs(CAST(floor(epoch(c.ts)) AS BIGINT)
             - CAST(floor(epoch(e.ts)) AS BIGINT)) <= 1800
    """,
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded interval join: every (click, error) pair for the same user
    within 30 minutes.  The operator (operators/interval.py) buckets
    both sides into tolerance-width bins and equi-joins on (key, bin)
    with a 3-bin probe — never an all-pairs theta join; the oracle IS
    the theta join, which DuckDB can afford at gate scale."""
    from ..operators.interval import range_join

    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "value", "ts"
    )
    return range_join(
        clicks, errors, on="user_id", left_ts="ts", right_ts="ts",
        tolerance_s=1800, suffix="_err",
    )


@query(
    "events_funnel_conversion",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
        MIN(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
        ) AS next_purchase_ts
      FROM events
    )
    SELECT CAST(ts AS DATE) AS view_date,
      COUNT(*) AS n_views,
      CAST(SUM(CASE WHEN next_purchase_ts IS NOT NULL
        AND date_diff('second', ts, next_purchase_ts) <= 3600
        THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
    FROM ordered
    WHERE event_type = 'view'
    GROUP BY 1
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel step conversion: per day, how many 'view' events were
    followed by a 'purchase' from the same user within one hour — the
    sequential-pattern primitive of event analytics.

    The "next purchase after this event" lookup is a per-user SUFFIX
    MIN of purchase-ts — no self-join, no per-view probe — in the
    SALTED two-level form (operators/relational.salted_suffix_min):
    per-(user, 6 h bucket) descending windows with a strictly-
    PRECEDING running frame (the r10 O(n) frame rule: an
    UnboundedFollowing frame re-scans the remainder per row, O(n²) —
    the r10 skew probe measured it as a hung straggler) plus a
    bucket-summary carry, so a hot user's stream spreads across tasks
    instead of one (the single-window form measured 4.7× at
    sf10-skew); the daily rollup is a map-combined hash agg.
    """
    from ..operators.relational import salted_suffix_min
    from ._heat import events_user_bucket

    e = table(spark, sf_dir, "events")
    ordered = salted_suffix_min(
        e.select(
            "user_id", "ts", "event_id", "event_type",
            F.when(F.col("event_type") == "purchase", F.col("ts")).alias(
                "_pts"
            ),
        ),
        key_cols="user_id",
        ts_col="ts",
        tiebreak_cols=["event_id"],
        value_col="_pts",
        out_col="next_purchase_ts",
        # heat-dispatched (r11 #1): plain suffix-min window unless the
        # probe measures a hot user
        bucket_s=events_user_bucket(spark, sf_dir),
    )
    converted = (
        F.col("next_purchase_ts").isNotNull()
        & (epoch_s("next_purchase_ts") - epoch_s("ts") <= 3600)
    )
    return (
        ordered.filter(F.col("event_type") == "view")
        .groupBy(F.col("ts").cast("date").alias("view_date"))
        .agg(
            F.count("*").alias("n_views"),
            F.sum(F.when(converted, 1).otherwise(0))
            .cast("bigint")
            .alias("n_converted"),
        )
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH signups AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_date FROM events
    )
    SELECT s.cohort_date,
      CAST(date_diff('day', s.cohort_date, a.active_date) AS BIGINT) AS day_offset,
      CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users
    FROM signups s JOIN activity a ON s.user_id = a.user_id
    WHERE a.active_date >= s.cohort_date
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users bucketed by signup date, counted
    on each later day they were active — the cohort-retention shape
    (rows fan out only to distinct (user, day) pairs).

    Scale shape: the signup dimension is a per-user min agg; activity
    is a distinct projection; both shuffle once on user_id for the
    join (co-partitioned), and the cohort rollup is map-combined.
    Nothing is quadratic; the distinct caps fan-out at users x days.
    """
    e = table(spark, sf_dir, "events")
    signups = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("cohort_date"))
    )
    activity = e.select(
        "user_id", F.col("ts").cast("date").alias("active_date")
    ).distinct()
    return (
        signups.join(activity, "user_id")
        .filter(F.col("active_date") >= F.col("cohort_date"))
        .groupBy(
            "cohort_date",
            F.datediff("active_date", "cohort_date")
            .cast("bigint")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


@query(
    "agg_hll_distinct",
    oracle="""
    WITH h AS (
      SELECT event_type,
        CAST('0x' || substr(md5('u:' || CAST(user_id AS VARCHAR)), 1, 15)
             AS BIGINT) AS h
      FROM events
    ), wts AS (
      SELECT event_type, h % 16 AS bucket,
        CASE WHEN (h >> 4) = 0 THEN CAST(1 AS BIGINT)
             ELSE (CAST(1 AS BIGINT) << length(bin(h >> 4))) END AS w
      FROM h
    ), reg AS (
      SELECT event_type, bucket, MIN(w) AS w FROM wts GROUP BY 1, 2
    ), dim AS (
      SELECT DISTINCT e.event_type, b.bucket
      FROM events e CROSS JOIN (SELECT unnest(range(16)) AS bucket) b
    ), filled AS (
      SELECT d.event_type, COALESCE(r.w, 144115188075855872) AS w
      FROM dim d LEFT JOIN reg r
        ON d.event_type = r.event_type AND d.bucket = r.bucket
    ), est AS (
      SELECT event_type, 2.482931752321306e+19 / SUM(w) AS hll_estimate
      FROM filled GROUP BY 1
    ), ex AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1
    )
    SELECT e.event_type, x.n_exact, e.hll_estimate
    FROM est e JOIN ex x USING (event_type)
    """,
)
def agg_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user sketch per event type, next to the
    exact count — the bounded-memory cardinality primitive (16
    registers here so the toy corpus exercises every code path; at
    100 TB use 2^14 registers and the same code).

    Like the count-min sketch, this is NOT a probabilistic test: the
    md5 hash family is fixed, every register survives as an
    integer-exact long (operators/sketches.py — max-rho kept as
    min-weight 2^(W+1-rho), summed exactly), and the single double
    division at the end makes the ESTIMATE itself engine-reproducible
    bit-for-bit, independent of partitioning or aggregation order.
    Spark's builtin approx_count_distinct is the production shortcut;
    this operator exists because its estimate is contract-stable
    across engines, which the builtin's is not.
    """
    from ..operators.sketches import hll_estimate, hll_register_weights

    e = table(spark, sf_dir, "events")
    item = F.concat(F.lit("u:"), F.col("user_id").cast("string"))
    weights = hll_register_weights(e, ["event_type"], item)
    est = hll_estimate(weights, ["event_type"])
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type", "n_exact", "hll_estimate"
    )


@query(
    "skew_salted_aggregate",
    oracle="""
    SELECT event_type,
      COUNT(*) AS n,
      CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
      MIN(CAST(value AS DOUBLE)) AS min_value,
      MAX(CAST(value AS DOUBLE)) AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def skew_salted_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The groupBy-side skew tool on the gate: a 5-hot-key aggregation
    run as the two-phase salted aggregate (operators/relational.py) —
    phase 1 spreads each hot key over 16 salt buckets, phase 2 merges
    partials.  Results are identical to the plain GROUP BY the oracle
    runs (only order-free aggregates here: counts, integer sums,
    min/max — double SUMs would round differently under re-ordering
    and are kept on the decimal paths instead).
    """
    from ..operators.relational import salted_aggregate

    e = table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("value").cast("double").alias("value")
    )
    out = salted_aggregate(
        e,
        "event_type",
        {
            "n": ("event_id", "count"),
            "sum_event_id": ("event_id", "sum"),
            "min_value": ("value", "min"),
            "max_value": ("value", "max"),
        },
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        "sum_event_id",
        "min_value",
        "max_value",
    )


@query(
    "events_resample_daily",
    oracle="""
    WITH spans AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
      FROM events GROUP BY user_id
    ), days AS (
      SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM spans
    ), actual AS (
      SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT d.user_id, d.day, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events
    FROM days d LEFT JOIN actual a
      ON d.user_id = a.user_id AND d.day = a.day
    """,
)
def events_resample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily resampling: one row per (user, day) across each
    user's active span, zero-filled — the regularization step before
    any time-series modeling (and the C7 fill_days scalar applied to a
    real pipeline).

    Scale shape: per-user span agg → sequence+explode generates the
    calendar (fan-out = span days, no cross join with a global
    calendar) → left join of the daily counts, co-partitioned on
    user_id.
    """
    from ..functions.scalars import fill_days

    e = table(spark, sf_dir, "events")
    spans = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    days = spans.select(
        "user_id", F.explode(fill_days(F.col("d0"), F.col("d1"))).alias("day")
    )
    actual = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    return (
        days.join(actual, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


@query(
    "events_value_histogram",
    oracle="""
    WITH bounds AS (
      SELECT MIN(CAST(value AS DOUBLE)) AS lo, MAX(CAST(value AS DOUBLE)) AS hi
      FROM events
    )
    SELECT
      CAST(least(floor((CAST(value AS DOUBLE) - lo) / ((hi - lo) / 20)), 19)
           AS BIGINT) AS bucket,
      COUNT(*) AS n,
      CAST(MIN(CAST(value AS DOUBLE)) AS DOUBLE) AS bucket_min,
      CAST(MAX(CAST(value AS DOUBLE)) AS DOUBLE) AS bucket_max
    FROM events CROSS JOIN bounds
    GROUP BY 1
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of the value column — the
    distribution-profiling primitive (data-quality dashboards, outlier
    screens).  Bounds come from one tiny agg broadcast back over the
    scan (never a driver collect); bucket arithmetic is identical
    double math in both engines; the max value clamps into the last
    bucket.
    """
    from pyspark.sql.functions import broadcast

    e = table(spark, sf_dir, "events").select(
        F.col("value").cast("double").alias("v")
    )
    bounds = e.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / 20
    bucket = F.least(
        F.floor((F.col("v") - F.col("lo")) / width), F.lit(19)
    ).cast("bigint")
    return (
        e.crossJoin(broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("v").alias("bucket_min"),
            F.max("v").alias("bucket_max"),
        )
    )


@query(
    "events_p99_outliers",
    oracle="""
    WITH cut AS (
      SELECT event_type, quantile_cont(CAST(value AS DOUBLE), 0.99) AS p99
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, e.event_id, CAST(e.value AS DOUBLE) AS value, c.p99
    FROM events e JOIN cut c ON e.event_type = c.event_type
    WHERE CAST(e.value AS DOUBLE) > c.p99
    """,
)
def events_p99_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-by-aggregate: rows above their group's exact p99 — the
    outlier-screening shape (two passes over the fact: a tiny per-group
    percentile agg broadcast back over the scan; never a window sort of
    the full data).  Exact continuous percentiles interpolate
    identically in both engines (parity established by
    agg_percentiles)."""
    from pyspark.sql.functions import broadcast

    e = table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("value").cast("double").alias("value")
    )
    cut = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.99)).alias("p99")
    )
    return (
        e.join(broadcast(cut), "event_type")
        .filter(F.col("value") > F.col("p99"))
        .select("event_type", "event_id", "value", "p99")
    )


@query(
    "events_sliding_daily",
    oracle="""
    WITH w AS (
      SELECT unnest([CAST(date_trunc('day', ts) AS DATE) - 1,
                     CAST(date_trunc('day', ts) AS DATE)]) AS win_start,
             event_type, user_id, value
      FROM events
    )
    SELECT win_start, win_start + 2 AS win_end, event_type,
      COUNT(*) AS n_events,
      COUNT(DISTINCT user_id) AS n_users,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM w GROUP BY 1, 2, 3
    """,
)
def events_sliding_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window aggregate: 2-day windows advancing by
    1 day — every event lands in exactly two windows, giving each day
    a trailing 48h view (the moving-traffic shape; batch twin of
    streaming/sliding_stream.py, which runs the SAME window spec
    incrementally with a watermark).

    Spark's built-in ``F.window(ts, '2 days', '1 day')`` expands the
    event to its member windows JVM-side (WindowExec not needed — it's
    a generator + hash agg); the oracle replays the expansion as a
    2-element unnest.  Window origin is the epoch, so starts align to
    midnight exactly like ``date_trunc('day', ...)``.

    Scale shape: one explode(×2) → one hash agg keyed on
    (window, event_type); map-side partial aggregation halves the
    doubled stream before the shuffle.  No per-key state beyond the
    agg — contrast with a self-join formulation, which would shuffle
    the fact twice.
    """
    e = table(spark, sf_dir, "events")
    agg = e.groupBy(
        F.window("ts", "2 days", "1 day").alias("w"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(_dec(F.col("value"), 18)).cast("double").alias("total_value"),
    )
    return agg.select(
        F.col("w.start").cast("date").alias("win_start"),
        F.col("w.end").cast("date").alias("win_end"),
        "event_type",
        "n_events",
        "n_users",
        "total_value",
    )


@query(
    "events_incremental_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      MIN(value) AS min_value,
      MAX(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance: the daily rollup computed as
    MERGE(state, delta) — a frozen partial-aggregate state (days ≤ 15)
    unioned with the new arrivals' partial aggregate (days > 15) and
    re-aggregated with the merge functions (sum-of-counts,
    sum-of-sums, min-of-mins, max-of-maxes).  The oracle computes the
    rollup DIRECTLY over all rows, so the gate proves the incremental
    merge is exactly equivalent to full recomputation — the invariant
    every incremental pipeline depends on.

    All merged measures are algebraic (count/sum/min/max merge
    losslessly; the decimal sum keeps money exact through both
    levels).  AVG-style measures must merge from (sum, count) pairs,
    never from averages — which is why the state carries sums.

    Scale shape: at 100 TB the state side is a tiny pre-aggregated
    table (one row per (day, type)) and only the delta scans raw
    events — the re-agg shuffles |state| + |delta-groups| rows, not
    the fact.  Here both sides derive from the same scan to keep the
    query self-contained; Spark plans the two branches as one shuffle
    each of already-partial rows.
    """
    e = table(spark, sf_dir, "events")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "event_type",
        ).agg(
            F.count("*").alias("n"),
            F.sum(_dec(F.col("value"), 18)).alias("sv"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    state = partial(e.filter(F.dayofmonth("ts") <= 15))
    delta = partial(e.filter(F.dayofmonth("ts") > 15))
    return (
        state.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sv").cast("double").alias("total_value"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
    )


@query(
    "events_json_variant",
    oracle="""
    WITH k AS (
      SELECT event_type,
        CASE WHEN json_valid(props)
             THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        END AS k
      FROM events
    )
    SELECT event_type,
      COUNT(k) AS n_with_k,
      CAST(SUM(k) AS BIGINT) AS sum_k,
      MAX(k) AS max_k
    FROM k GROUP BY event_type
    """,
)
def events_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via the VARIANT type (Spark 4):
    ``parse_json`` shreds the props payload once into the binary
    variant encoding, ``variant_get`` then extracts typed paths
    without re-parsing — the engine-native semi-structured path that
    replaces per-access ``get_json_object`` string parsing (the
    events_json_props twin shows the classic route; on a wide
    multi-access workload variant parses once instead of N times).
    The oracle reads the same paths with DuckDB's JSON extraction.
    """
    from ..functions.jsonx import strict_json_gate

    e = table(spark, sf_dir, "events")
    # try_parse_json: malformed payloads become NULL variants instead
    # of failing the job (parse_json raises under ANSI — the poison
    # sweep's '{not json' row killed the strict form).  It is still
    # prefix-LENIENT on trailing garbage, so the strict gate applies
    # here too (see events_json_props / functions/jsonx.py).
    k = strict_json_gate(
        F.try_variant_get(F.try_parse_json("props"), "$.k", "bigint"),
        F.col("props"),
    )
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "events_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
        abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, d.value, d.med, m.mad,
      0.6745 * d.adev / m.mad AS modified_z
    FROM dev d JOIN mad m USING (event_type)
    WHERE m.mad > 0 AND 0.6745 * d.adev / m.mad > 3.5
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen via the modified z-score (Iglewicz-Hoban):
    0.6745·|x − median| / MAD > 3.5 — unlike the p99 screen, median and
    MAD are unmoved by the outliers themselves, so a burst of bad
    values can't mask itself.  A TWO-LEVEL dependent aggregation: the
    per-group median feeds the deviation column whose own per-group
    median (the MAD) feeds the final filter.

    Engine-exact: both engines interpolate continuous percentiles
    identically (parity established by agg_percentiles); the z-score
    is a fixed-order float expression over those shared values.
    Groups with MAD = 0 are excluded rather than divided by zero.

    Scale shape: two tiny per-group aggregates, each broadcast back
    over the events scan — two passes over the fact, zero windows,
    zero sorts of the full data (the same broadcast-back pattern as
    events_p99_outliers, applied twice in sequence).  Exact
    percentiles buffer per group; at 100 TB swap approx_percentile
    into both levels (mergeable sketch, no cross-engine oracle).
    """
    from pyspark.sql.functions import broadcast

    e = table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = e.join(broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    z = F.lit(0.6745) * F.col("adev") / F.col("mad")
    return (
        dev.join(broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (z > 3.5))
        .select(
            "event_id", "event_type", "value", "med", "mad",
            z.alias("modified_z"),
        )
    )


@query(
    "events_topk_trending",
    oracle="""
    WITH w AS (
      SELECT unnest([CAST(date_trunc('day', ts) AS DATE) - 1,
                     CAST(date_trunc('day', ts) AS DATE)]) AS win_start,
             event_type, value
      FROM events
    ), agg AS (
      SELECT win_start, event_type, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM w GROUP BY 1, 2
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY win_start
        ORDER BY n_events DESC, event_type) AS rk
      FROM agg
    )
    SELECT win_start, event_type, n_events, total_value,
      CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def events_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending leaderboard: the top-3 event types of every 2-day
    sliding window (1-day hop) by event count — the window-generator
    aggregate COMPOSED with a per-window rank, i.e. the "what's hot in
    the trailing 48h" dashboard query.

    Deterministic: rank orders by (count desc, event_type), a total
    order.  Scale shape: the window expansion + hash agg collapse the
    fact to |windows|×|types| rows BEFORE the rank window runs — the
    WindowGroupLimit (rk <= 3 pushed into the window sort) operates on
    the tiny aggregate, never the raw events.
    """
    e = table(spark, sf_dir, "events")
    agg = (
        e.groupBy(F.window("ts", "2 days", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_dec(F.col("value"), 18)).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("date").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    w = Window.partitionBy("win_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
    )


def _hll_merge_oracle() -> str:
    def regs(name: str, where: str) -> str:
        return f"""{name}_w AS (
          SELECT event_type,
            CAST('0x' || substr(md5('u:' || CAST(user_id AS VARCHAR)), 1, 15)
                 AS BIGINT) AS h
          FROM events {where}
        ), {name}_r AS (
          SELECT event_type, h % 16 AS bucket,
            MIN(CASE WHEN (h >> 4) = 0 THEN CAST(1 AS BIGINT)
                 ELSE (CAST(1 AS BIGINT) << length(bin(h >> 4))) END) AS w
          FROM {name}_w GROUP BY 1, 2
        )"""

    def est(name: str, src: str) -> str:
        return f"""{name} AS (
          SELECT d.event_type,
            2.482931752321306e+19
              / SUM(COALESCE(r.w, 144115188075855872)) AS e
          FROM (SELECT DISTINCT e.event_type, b.bucket
                FROM events e
                CROSS JOIN (SELECT unnest(range(16)) AS bucket) b) d
          LEFT JOIN {src} r
            ON d.event_type = r.event_type AND d.bucket = r.bucket
          GROUP BY d.event_type
        )"""

    return f"""
    WITH {regs('alldata', '')},
    {regs('ha', "WHERE day(ts) <= 15")},
    {regs('hb', "WHERE day(ts) > 15")},
    merged_r AS (
      SELECT event_type, bucket, MIN(w) AS w
      FROM (SELECT * FROM ha_r UNION ALL SELECT * FROM hb_r)
      GROUP BY 1, 2
    ),
    {est('direct', 'alldata_r')},
    {est('merged', 'merged_r')}
    SELECT d.event_type,
      d.e AS est_direct, m.e AS est_merged,
      d.e = m.e AS merge_exact
    FROM direct d JOIN merged m USING (event_type)
    """


@query("agg_hll_merge", oracle=_hll_merge_oracle())
def agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY proof — the property that makes HLL a
    100 TB primitive: registers built independently over two disjoint
    halves of the data, merged with per-register min-weight (== max
    rho), yield the IDENTICAL estimate as one pass over everything.
    The gate value-checks both estimates and the equality flag — the
    same merge-equivalence pattern as events_incremental_rollup, for
    the sketch family (what lets per-partition / per-day sketches
    roll up without ever rescanning history).

    Exactness carries over from agg_hll_distinct: registers are
    integer min-weights, so merged registers equal direct registers
    EXACTLY, and the single double division produces bit-identical
    estimates on both paths and both engines.
    """
    from ..operators.sketches import hll_estimate, hll_register_weights

    e = table(spark, sf_dir, "events")
    item = F.concat(F.lit("u:"), F.col("user_id").cast("string"))
    wa = hll_register_weights(
        e.filter(F.dayofmonth("ts") <= 15), ["event_type"], item
    )
    wb = hll_register_weights(
        e.filter(F.dayofmonth("ts") > 15), ["event_type"], item
    )
    merged = hll_estimate(wa.unionByName(wb), ["event_type"]).select(
        "event_type", F.col("hll_estimate").alias("est_merged")
    )
    direct = hll_estimate(
        hll_register_weights(e, ["event_type"], item), ["event_type"]
    ).select("event_type", F.col("hll_estimate").alias("est_direct"))
    return direct.join(merged, "event_type").select(
        "event_type",
        "est_direct",
        "est_merged",
        (F.col("est_direct") == F.col("est_merged")).alias("merge_exact"),
    )


@query(
    "events_rolling_reach_hll",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ),
    spine AS (SELECT DISTINCT day FROM du),
    h AS (
      SELECT day,
        CAST('0x' || substr(md5('u:' || CAST(user_id AS VARCHAR)), 1, 15)
             AS BIGINT) AS h
      FROM du
    ),
    wts AS (
      SELECT day, h % 16 AS bucket,
        CASE WHEN (h >> 4) = 0 THEN CAST(1 AS BIGINT)
             ELSE (CAST(1 AS BIGINT) << length(bin(h >> 4))) END AS w
      FROM h
    ),
    daily_reg AS (
      SELECT day, bucket, MIN(w) AS w FROM wts GROUP BY 1, 2
    ),
    fanned AS (
      SELECT day + CAST(off AS INT) AS wday, bucket, w
      FROM daily_reg CROSS JOIN (SELECT unnest(range(7)) AS off)
    ),
    win_reg AS (
      SELECT f.wday, f.bucket, MIN(f.w) AS w
      FROM fanned f SEMI JOIN spine s ON f.wday = s.day
      GROUP BY 1, 2
    ),
    dim AS (
      SELECT s.day AS wday, b.bucket
      FROM spine s CROSS JOIN (SELECT unnest(range(16)) AS bucket) b
    ),
    filled AS (
      SELECT d.wday, COALESCE(r.w, 144115188075855872) AS w
      FROM dim d LEFT JOIN win_reg r
        ON d.wday = r.wday AND d.bucket = r.bucket
    ),
    est AS (
      SELECT wday AS day, 2.482931752321306e+19 / SUM(w) AS reach_approx
      FROM filled GROUP BY 1
    ),
    exact AS (
      SELECT f.wday AS day, COUNT(DISTINCT du2.user_id) AS reach_exact
      FROM (SELECT day + CAST(off AS INT) AS wday, day
            FROM spine CROSS JOIN (SELECT unnest(range(7)) AS off)) f
      SEMI JOIN spine s ON f.wday = s.day
      JOIN du du2 ON du2.day = f.day
      GROUP BY 1
    )
    SELECT e.day, x.reach_exact, e.reach_approx
    FROM est e JOIN exact x USING (day)
    """,
)
def events_rolling_reach_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day reach (distinct users) per day via ROLLING HLL
    register merges — the windowed form of agg_hll_distinct and the
    payoff of mergeable sketches: each day's 16 registers are built
    ONCE from that day's users, and every window is a register-wise
    MIN of its 7 days (integer-exact, order-free), so 100 TB of users
    are scanned once while windows multiply freely.  The exact rolling
    distinct (fan-out + countDistinct, the events_dau_wau shape) rides
    alongside so the estimate's error is visible on the gate — and the
    estimate itself is bit-reproducible (md5 hash family + one double
    division), hence value-checkable, unlike the builtin
    approx_count_distinct.
    """
    from ..operators.sketches import hll_estimate, hll_register_weights

    e = table(spark, sf_dir, "events")
    du = e.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).distinct()
    spine = du.select("day").distinct()
    item = F.concat(F.lit("u:"), F.col("user_id").cast("string"))
    daily_reg = hll_register_weights(du, ["day"], item)
    fanned = daily_reg.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "bucket",
        "w",
    ).join(F.broadcast(spine), "day", "semi")
    win_reg = fanned.groupBy("day", "bucket").agg(F.min("w").alias("w"))
    est = hll_estimate(win_reg, ["day"]).withColumnRenamed(
        "hll_estimate", "reach_approx"
    )
    exact = (
        du.select(
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("day"),
            "user_id",
        )
        .join(F.broadcast(spine), "day", "semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("reach_exact"))
    )
    return est.join(exact, "day").select("day", "reach_exact", "reach_approx")


@query(
    "events_ab_test",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
        CASE WHEN CAST('0x' || substr(md5('ab:' || user_id), 1, 15)
                  AS BIGINT) % 2 = 0
             THEN 'A' ELSE 'B' END AS grp,
        SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
        SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv
      FROM events GROUP BY user_id
    ), cells AS (
      SELECT grp,
        COUNT(*) AS n_users,
        SUM(CASE WHEN np > nv THEN 1 ELSE 0 END) AS n_conv
      FROM per_user GROUP BY grp
    ), wide AS (
      SELECT
        CAST(MAX(CASE WHEN grp = 'A' THEN n_users END) AS BIGINT) AS na,
        CAST(MAX(CASE WHEN grp = 'A' THEN n_conv END) AS BIGINT) AS ca,
        CAST(MAX(CASE WHEN grp = 'B' THEN n_users END) AS BIGINT) AS nb,
        CAST(MAX(CASE WHEN grp = 'B' THEN n_conv END) AS BIGINT) AS cb
      FROM cells
    )
    SELECT na, ca, nb, cb,
      CAST(ca AS DOUBLE) / na AS p_a,
      CAST(cb AS DOUBLE) / nb AS p_b,
      (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
        / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
               * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
               * (CAST(1 AS DOUBLE) / na + CAST(1 AS DOUBLE) / nb)) AS z,
      abs((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
        / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
               * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
               * (CAST(1 AS DOUBLE) / na + CAST(1 AS DOUBLE) / nb)))
        > 1.96 AS significant
    FROM wide
    """,
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample conversion z-test (converted = more purchases than
    views) over a deterministic md5-parity user split — the
    experiment-analysis primitive: pooled-proportion
    z statistic from EXACT per-cell counts (the only floats are the
    final fixed expression over four integers, identical in both
    engines; assignment is md5-hash parity, so replays and engines
    agree on every user's arm — rand() assignment could never be
    value-checked).  |z| > 1.96 ≈ two-sided 5% significance.

    Scale shape: ONE map-combined user-grain aggregation (arm derived
    from the group key's md5 parity, so no assignment join exists) —
    after it only the 2-row cell frame moves; the z arithmetic runs on
    a broadcast-size frame.
    """
    e = table(spark, sf_dir, "events")
    from ..functions.text import md5_hash64

    # ONE per-user aggregation carries both the arm (md5 parity of the
    # group key) and the conversion counts — no distinct, no user-grain
    # join (converted = more purchases than views: a behavioural-ratio
    # definition that stays non-degenerate at every SF; presence-based
    # conversion is 100% in the synthetic corpus, making the pooled
    # variance zero and z undefined)
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("np"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("nv"),
    ).select(
        F.when(
            md5_hash64(F.concat(F.lit("ab:"), F.col("user_id"))) % 2 == 0,
            "A",
        )
        .otherwise("B")
        .alias("grp"),
        (F.col("np") > F.col("nv")).cast("long").alias("converted"),
    )
    cells = per_user.groupBy("grp").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").alias("n_conv"),
    )
    wide = cells.agg(
        F.max(F.when(F.col("grp") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("grp") == "A", F.col("n_conv"))).alias("ca"),
        F.max(F.when(F.col("grp") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("grp") == "B", F.col("n_conv"))).alias("cb"),
    )
    p_a = F.col("ca").cast("double") / F.col("na")
    p_b = F.col("cb").cast("double") / F.col("nb")
    pool = (F.col("ca") + F.col("cb")).cast("double") / (
        F.col("na") + F.col("nb")
    )
    z = (p_a - p_b) / F.sqrt(
        pool
        * (1 - pool)
        * (
            F.lit(1).cast("double") / F.col("na")
            + F.lit(1).cast("double") / F.col("nb")
        )
    )
    return wide.select(
        "na",
        "ca",
        "nb",
        "cb",
        p_a.alias("p_a"),
        p_b.alias("p_b"),
        z.alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    )


@query(
    "events_cuped_adjustment",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
        SUM(CASE WHEN event_type = 'purchase'
                 AND ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS x,
        SUM(CASE WHEN event_type = 'purchase'
                 AND ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY user_id
    ), s AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        CAST(SUM(x * x) AS BIGINT) AS sxx,
        CAST(SUM(x * y) AS BIGINT) AS sxy,
        CAST(SUM(y * y) AS BIGINT) AS syy
      FROM per_user
    )
    SELECT n, sx, sy,
      CAST(n * sxy - sx * sy AS DOUBLE)
        / (n * sxx - sx * sx) AS theta,
      (CAST(syy AS DOUBLE) / n) - (CAST(sy AS DOUBLE) / n)
        * (CAST(sy AS DOUBLE) / n) AS var_y,
      ((CAST(syy AS DOUBLE) / n) - (CAST(sy AS DOUBLE) / n)
         * (CAST(sy AS DOUBLE) / n))
      - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
        * (CAST(n * sxy - sx * sy AS DOUBLE) / (n * n))
        AS var_adj
    FROM s
    """,
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) computed ENTIRELY
    from sufficient statistics: pre-period purchases X (Jan 1-15) as
    the covariate for post-period purchases Y; θ = cov(X,Y)/var(X) and
    the adjusted-metric variance var(Y) - θ·cov(X,Y) all reduce to one
    map-combined aggregate of exact integer sums (n, Sx, Sy, Sxx, Sxy,
    Syy) plus a FIXED double expression — the same
    sufficient-statistics decomposition as the in-plan ridge trainer,
    and the production shape: no per-user residual pass, no second
    scan, deterministic across engines and replays.

    var_adj < var_y by exactly cov²/var(X)·1/n-scaled terms — the
    variance an A/B test recovers for free from pre-period data.
    """
    e = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") < cut), 1
            ).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") >= cut),
                1,
            ).otherwise(0)
        ).alias("y"),
    )
    s = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    theta = (n * sxy - sx * sy).cast("double") / (n * sxx - sx * sx)
    mean_y = sy.cast("double") / n
    var_y = (syy.cast("double") / n) - mean_y * mean_y
    var_adj = var_y - theta * (
        (n * sxy - sx * sy).cast("double") / (n * n)
    )
    return s.select(
        "n",
        "sx",
        "sy",
        theta.alias("theta"),
        var_y.alias("var_y"),
        var_adj.alias("var_adj"),
    )


@query(
    "events_rank_sum_test",
    oracle="""
    WITH pur AS (
      SELECT event_id, value,
        CASE WHEN CAST('0x' || substr(md5('ab:' || user_id), 1, 15)
                  AS BIGINT) % 2 = 0
             THEN 'A' ELSE 'B' END AS grp
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ), ranked AS (
      SELECT grp,
        ROW_NUMBER() OVER (ORDER BY value, event_id) AS rk
      FROM pur
    ), s AS (
      SELECT
        CAST(SUM(CASE WHEN grp = 'A' THEN rk ELSE 0 END) AS BIGINT) AS ra,
        CAST(SUM(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        CAST(SUM(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM ranked
    )
    SELECT na, nb,
      CAST(ra - na * (na + 1) // 2 AS BIGINT) AS u_a,
      (CAST(ra - na * (na + 1) // 2 AS DOUBLE) -
       CAST(na AS DOUBLE) * nb / 2)
        / sqrt(CAST(na AS DOUBLE) * nb * (na + nb + 1) / 12) AS z
    FROM s
    """,
)
def events_rank_sum_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney rank-sum test on purchase VALUES between the two
    md5-parity arms — the nonparametric companion to the proportion
    z-test (events_ab_test): does one arm's purchase-value
    DISTRIBUTION stochastically dominate?  U and its normal
    approximation derive from exact integer rank sums; ranks use the
    (value, event_id) total order, so they are unique and the whole
    statistic is engine-exact (the event-id tiebreak replaces the
    midrank tie correction — documented variant).

    Scale shape: this is where the parallel two-phase ranker earns its
    keep in a STATISTIC — `operators/relational.global_rank` ranks the
    corpus with a range shuffle + P-row offsets instead of the oracle's
    single-partition window, then one map-combined aggregate collapses
    to the 1-row sufficient statistics.  Same numbers, cluster-safe
    plan.
    """
    from ..functions.text import md5_hash64
    from ..operators.relational import global_rank

    pur = (
        table(spark, sf_dir, "events")
        # NULL measurements have no rank — and engines DISAGREE on
        # where NULL sorts (Spark NULLS FIRST asc, DuckDB NULLS LAST),
        # so an unexcluded missing value silently shifts every rank
        # (poison sweep: u_a off by 87 from one NULL purchase)
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
        )
        .select(
            "event_id",
            "value",
            F.when(
                md5_hash64(F.concat(F.lit("ab:"), F.col("user_id"))) % 2
                == 0,
                "A",
            )
            .otherwise("B")
            .alias("grp"),
        )
    )
    ranked = global_rank(pur, ["value", "event_id"])
    s = ranked.agg(
        F.sum(F.when(F.col("grp") == "A", F.col("rn")).otherwise(0)).alias(
            "ra"
        ),
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).alias("nb"),
    )
    na, nb, ra = F.col("na"), F.col("nb"), F.col("ra")
    # integer div: na*(na+1) is always even, and exact BIGINT arithmetic
    # keeps U precise past double's 2^53 (na ~ 1e10 at corpus scale)
    u_a = ra - F.expr("na * (na + 1) div 2")
    z = (
        u_a.cast("double") - na.cast("double") * nb / 2
    ) / F.sqrt(na.cast("double") * nb * (na + nb + 1) / 12)
    return s.select(
        "na",
        "nb",
        u_a.cast("bigint").alias("u_a"),
        z.alias("z"),
    )


@query(
    "events_session_entry_exit",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL 30 MINUTE
             OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_start
      FROM events
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
        SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    ), per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events,
        MIN(struct_pack(ts := ts, event_id := event_id,
                        event_type := event_type)).event_type AS entry_type,
        MAX(struct_pack(ts := ts, event_id := event_id,
                        event_type := event_type)).event_type AS exit_type
      FROM sess GROUP BY user_id, session_id
    )
    SELECT entry_type,
      CAST(COUNT(*) AS BIGINT) AS n_sessions,
      CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_bounces,
      CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000
           // COUNT(*) AS BIGINT) AS bounce_ppm,
      CAST(SUM(n_events) AS BIGINT) AS total_events,
      CAST(SUM(CASE WHEN entry_type = exit_type THEN 1 ELSE 0 END)
        AS BIGINT) AS n_same_exit
    FROM per_session GROUP BY entry_type
    """,
)
def events_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-page analytics: per session ENTRY event type — the
    landing surface — session counts, bounce share (single-event
    sessions, integer ppm), total event volume, and how often the
    session also EXITS on that type.  The funnel/bounce report a
    product team reads next to events_top_paths.

    Entry/exit are argmin/argmax by (ts, event_id) expressed as
    MIN/MAX over a (ts, event_id, event_type) struct — one aggregate,
    no extra window pass, identical lexicographic semantics on both
    engines (the event_id tiebreak makes the struct order total).

    Scale shape: the session assembly is the SALTED two-level exact
    sessionize (operators/sessionize.py) with entry/exit payloads —
    per-fragment struct-extrema in the local (user, 6 h bucket) pass,
    extrema-of-extrema in the fragment merge (associative, so
    bit-identical to the single-window argmin/argmax); per-session and
    per-entry aggregates are hash aggs; output is
    event-type-cardinality rows.
    """
    from ..operators.sessionize import salted_sessionize
    from ._heat import events_user_bucket

    e = table(spark, sf_dir, "events")
    per_session = salted_sessionize(
        e,
        # heat-dispatched (r11 #1): plain lag→flag→cumsum unless the
        # probe measures a hot user
        bucket_s=events_user_bucket(spark, sf_dir),
        payload_cols=["event_type"],
    ).select(
        "n_events",
        F.col("entry.event_type").alias("entry_type"),
        F.col("exit.event_type").alias("exit_type"),
    )
    bounce = F.sum((F.col("n_events") == 1).cast("long"))
    return per_session.groupBy("entry_type").agg(
        F.count("*").alias("n_sessions"),
        bounce.cast("bigint").alias("n_bounces"),
        F.expr(
            "CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("bounce_ppm"),
        F.sum("n_events").cast("bigint").alias("total_events"),
        F.sum((F.col("entry_type") == F.col("exit_type")).cast("long"))
        .cast("bigint")
        .alias("n_same_exit"),
    )


@query(
    "events_interarrival_percentiles",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
        CAST(date_diff('second',
          LAG(ts) OVER (PARTITION BY user_id, event_type
                        ORDER BY ts, event_id), ts) AS BIGINT) AS gap_s
      FROM events
    ), g AS (
      SELECT event_type, gap_s FROM gaps WHERE gap_s IS NOT NULL
    ), hist AS (
      SELECT event_type, gap_s, COUNT(*) AS h
      FROM g GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, gap_s, h,
        SUM(h) OVER (PARTITION BY event_type ORDER BY gap_s
                     ROWS UNBOUNDED PRECEDING) AS cw,
        SUM(h) OVER (PARTITION BY event_type) AS n
      FROM hist
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_gaps,
      MIN(CASE WHEN 2 * cw >= n THEN gap_s END) AS p50_s,
      MIN(CASE WHEN 10 * cw >= 9 * n THEN gap_s END) AS p90_s,
      MIN(CASE WHEN 100 * cw >= 99 * n THEN gap_s END) AS p99_s
    FROM cum GROUP BY event_type
    """,
)
def events_interarrival_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact inter-arrival-time percentiles per event type (per-user
    gaps between consecutive events of the same type) — the
    measurement that justifies a sessionization gap threshold or a
    watermark delay: p50/p90/p99 of the gap distribution, not a
    guessed 30 minutes.

    Same scalable shape as agg_weighted_percentiles: gaps come from
    the SALTED per-(user, type) lag (operators/relational.salted_prev
    — per-(key, 6 h bucket) windows + a bucket-summary carry, so a
    hot user's stream never lands in one task); the corpus then
    collapses to a (type, gap-seconds) VALUE HISTOGRAM, the cumulative
    window runs over the gap domain, and the percentile picks are
    integer cross-multiplications.
    """
    from ..operators.relational import salted_prev
    from ._heat import events_user_bucket

    e = table(spark, sf_dir, "events")
    lagged = salted_prev(
        e.select("user_id", "event_type", "ts", "event_id"),
        key_cols=["user_id", "event_type"],
        ts_col="ts",
        tiebreak_cols=["event_id"],
        payload_cols=["ts"],
        # heat-dispatched (r11 #1): the (user, type) key is never
        # hotter than the user key the probe measures
        bucket_s=events_user_bucket(spark, sf_dir),
    )
    gaps = lagged.select(
        "event_type",
        (epoch_s("ts") - epoch_s(F.col("prev_ts"))).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    hist = gaps.groupBy("event_type", "gap_s").agg(F.count("*").alias("h"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("gap_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "gap_s",
        F.sum("h").over(wcum).alias("cw"),
        F.sum("h").over(wtot).alias("n"),
    )
    pick = lambda a, b: F.min(  # noqa: E731
        F.when(a * F.col("cw") >= b * F.col("n"), F.col("gap_s"))
    )
    return cum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        pick(F.lit(2), F.lit(1)).alias("p50_s"),
        pick(F.lit(10), F.lit(9)).alias("p90_s"),
        pick(F.lit(100), F.lit(99)).alias("p99_s"),
    )


@query(
    "events_rfm_segmentation",
    oracle="""
    WITH anchor AS (
      SELECT CAST(date_trunc('day', MAX(ts)) AS DATE) AS max_day FROM events
    ), rfm AS (
      SELECT user_id,
        date_diff('day', CAST(date_trunc('day', MAX(ts)) AS DATE),
                  a.max_day) AS recency_days,
        COUNT(*) AS frequency,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM events CROSS JOIN anchor a
      GROUP BY user_id, a.max_day
    )
    SELECT user_id,
      CAST(recency_days AS BIGINT) AS recency_days,
      CAST(frequency AS BIGINT) AS frequency,
      monetary,
      CASE WHEN recency_days <= 7 THEN 3
           WHEN recency_days <= 30 THEN 2 ELSE 1 END AS r_score,
      CASE WHEN frequency >= 50 THEN 3
           WHEN frequency >= 10 THEN 2 ELSE 1 END AS f_score,
      CASE WHEN recency_days <= 7 AND frequency >= 50 THEN 'core'
           WHEN recency_days <= 30 THEN 'active'
           ELSE 'lapsed' END AS segment
    FROM rfm
    """,
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) user segmentation with
    FIXED threshold scores — the classic behavioral-cohort operator
    (retention targeting, activity-weighted sampling of user data).
    Recency anchors to the corpus max day (deterministic — never
    wall-clock now()); monetary sums exact DECIMAL cents then casts
    once (the battery's order-independent money rule).

    Scale shape: one user-keyed aggregate (map-combined) against a
    1-row broadcast anchor; thresholds are pure map expressions.  The
    absolute-threshold scores are deliberate: the QUARTILE-based
    sibling over the orders table already exists as
    agg_rfm_segmentation (parallel two-phase NTILE) — this is the
    streaming-side fixed-SLA variant that needs no second ranking
    pass.
    """
    e = table(spark, sf_dir, "events")
    anchor = e.agg(
        F.date_trunc("day", F.max("ts")).cast("date").alias("max_day")
    )
    rfm = (
        e.crossJoin(F.broadcast(anchor))
        .groupBy("user_id", "max_day")
        .agg(
            F.date_trunc("day", F.max("ts")).cast("date").alias("_last_day"),
            F.count("*").alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .select(
            "user_id",
            F.datediff("max_day", "_last_day").cast("bigint").alias(
                "recency_days"
            ),
            F.col("frequency").cast("bigint").alias("frequency"),
            "monetary",
        )
    )
    r_score = (
        F.when(F.col("recency_days") <= 7, 3)
        .when(F.col("recency_days") <= 30, 2)
        .otherwise(1)
    )
    f_score = (
        F.when(F.col("frequency") >= 50, 3)
        .when(F.col("frequency") >= 10, 2)
        .otherwise(1)
    )
    segment = (
        F.when((F.col("recency_days") <= 7) & (F.col("frequency") >= 50), "core")
        .when(F.col("recency_days") <= 30, "active")
        .otherwise("lapsed")
    )
    return rfm.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        r_score.cast("int").alias("r_score"),
        f_score.cast("int").alias("f_score"),
        segment.alias("segment"),
    )


@query(
    "events_anomaly_mad",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), med AS (
      SELECT event_type, n AS med_n FROM (
        SELECT event_type, n,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n, day) AS rk,
          COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM daily
      ) WHERE rk = (cnt + 1) // 2
    ), dev AS (
      SELECT d.event_type, d.day, d.n, m.med_n,
        abs(d.n - m.med_n) AS adev
      FROM daily d JOIN med m ON d.event_type = m.event_type
    ), mad AS (
      SELECT event_type, adev AS mad_n FROM (
        SELECT event_type, adev,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev, day) AS rk,
          COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM dev
      ) WHERE rk = (cnt + 1) // 2
    )
    SELECT d.event_type, d.day, CAST(d.n AS BIGINT) AS n,
      CAST(d.med_n AS BIGINT) AS median_n, CAST(m.mad_n AS BIGINT) AS mad_n
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    WHERE d.adev > 3 * m.mad_n
    ORDER BY d.event_type, d.day
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly screen by MEDIAN ABSOLUTE DEVIATION:
    flag (event_type, day) cells whose count deviates from the type's
    median by more than 3×MAD — the outlier rule that, unlike
    z-scores, is not itself dragged by the outliers it hunts.  Exact
    integer medians (lower median selected by rank, ties → day) and
    integer deviations — nothing floats, both engines agree exactly.

    Scale shape: the corpus feeds ONE (type, day) aggregate; every
    window after it runs on the type-partitioned day-series frame
    (≤ days×types rows, calendar-bounded at any corpus size) — the
    same series-shaped reasoning as the trend/changepoint battery.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    wt = Window.partitionBy("event_type")

    def lower_median(df: DataFrame, val: str, out: str) -> DataFrame:
        ranked = df.select(
            "event_type",
            F.col(val),
            F.row_number()
            .over(wt.orderBy(F.col(val), F.col("day")))
            .alias("rk"),
            F.count("*").over(wt).alias("cnt"),
        )
        return ranked.filter(
            F.col("rk") == F.expr("(cnt + 1) DIV 2")
        ).select("event_type", F.col(val).alias(out))

    med = lower_median(daily, "n", "med_n")
    dev = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day",
        "n",
        "med_n",
        F.abs(F.col("n") - F.col("med_n")).alias("adev"),
    )
    mad = lower_median(
        dev.select("event_type", "day", F.col("adev").alias("n")), "n", "mad_n"
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > 3 * F.col("mad_n"))
        .select(
            "event_type",
            "day",
            F.col("n").cast("bigint").alias("n"),
            F.col("med_n").cast("bigint").alias("median_n"),
            F.col("mad_n").cast("bigint").alias("mad_n"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "events_seasonality_dow",
    oracle="""
    WITH base AS (
      SELECT event_type, dayofweek(ts) + 1 AS dow, COUNT(*) AS n,
        COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, SUM(n) AS type_total FROM base GROUP BY event_type
    )
    SELECT b.event_type, CAST(b.dow AS BIGINT) AS dow,
      CAST(b.n AS BIGINT) AS n_events,
      CAST(b.n_users AS BIGINT) AS n_users,
      CAST(b.n * 1000000 // t.type_total AS BIGINT) AS share_ppm
    FROM base b JOIN tot t ON b.event_type = t.event_type
    ORDER BY b.event_type, b.dow
    """,
)
def events_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type (volume, unique
    users, exact ppm share of the type's traffic) — the periodicity
    audit run before any anomaly threshold or forecast is trusted
    (a Monday spike is seasonality, not anomaly; events_anomaly_mad's
    MAD rule assumes this profile has been read).  Numbering pinned to
    Spark's Sunday=1..7 (DuckDB's dayofweek is 0-based — the oracle
    adds 1).

    Scale shape: one (type, dow)-keyed aggregate — output bounded by
    7·|types| at any corpus size; the share normalizer joins the tiny
    type-totals frame.
    """
    e = table(spark, sf_dir, "events")
    base = e.groupBy("event_type", F.dayofweek("ts").alias("dow")).agg(
        F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users")
    )
    tot = base.groupBy("event_type").agg(F.sum("n").alias("type_total"))
    return (
        base.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            F.col("dow").cast("bigint").alias("dow"),
            F.col("n").cast("bigint").alias("n_events"),
            F.col("n_users").cast("bigint").alias("n_users"),
            F.expr("CAST(n * 1000000 DIV type_total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
        .orderBy("event_type", "dow")
    )


@query(
    "events_hot_key_profile",
    oracle="""
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_events,
        CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(MAX(c) AS BIGINT) AS max_user_events
      FROM per_user
    ), top10 AS (
      SELECT CAST(SUM(c) AS BIGINT) AS top10_events FROM (
        SELECT c FROM per_user ORDER BY c DESC, user_id LIMIT 10
      )
    ), hist AS (
      SELECT c, COUNT(*) AS nu FROM per_user GROUP BY c
    ), cum AS (
      SELECT c, SUM(nu) OVER (ORDER BY c) AS cum FROM hist
    ), pcts AS (
      SELECT
        (SELECT MIN(c) FROM cum, tot WHERE cum * 2 >= n_users)
          AS p50_user_events,
        (SELECT MIN(c) FROM cum, tot WHERE cum * 100 >= 99 * n_users)
          AS p99_user_events
    )
    SELECT n_events, n_users, max_user_events,
      CAST(max_user_events * 1000000 // n_events AS BIGINT)
        AS top1_ppm,
      CAST(top10_events * 1000000 // n_events AS BIGINT)
        AS top10_ppm,
      CAST(p50_user_events AS BIGINT) AS p50_user_events,
      CAST(p99_user_events AS BIGINT) AS p99_user_events,
      CAST(max_user_events * 1000 * n_users // n_events AS BIGINT)
        AS max_to_mean_x1000
    FROM tot, top10, pcts
    """,
)
def events_hot_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic over the event stream's shuffle key — the
    one-row report a 100 TB operator reads BEFORE choosing salting,
    AQE thresholds, or a capped operator (the r10 skew probe showed
    what happens when nobody looks: the hot user that is 30% of a
    corpus OOM-kills any per-key-quadratic plan).  Emits total/user
    counts, the single hottest key's event share and the top-10 mass
    (exact ppm), exact p50/p99 of per-key counts, and max/mean ×1000 —
    a max_to_mean in the thousands with p50 near mean is the salting
    signature; top10_ppm near 10⁶ means the key is unusable as a
    partition key at all.

    Scale shape: ONE user-keyed count (map-combined), then everything
    downstream is vocabulary-shaped: a distinct-count histogram (tiny)
    with a running cumsum for exact percentiles, a TakeOrdered-10 for
    the top mass, and 1-row rollups.  Percentiles are exact lower
    quantiles via the smallest-value-with-cum-rank rule (integer
    conditions — no float quantile semantics to disagree on).
    """
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("c"))
    tot = per_user.agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_users"),
        F.max("c").cast("bigint").alias("max_user_events"),
    )
    top10 = (
        per_user.orderBy(F.desc("c"), "user_id")
        .limit(10)
        .agg(F.sum("c").cast("bigint").alias("top10_events"))
    )
    hist = per_user.groupBy("c").agg(F.count("*").alias("nu"))
    # running cumsum over the distinct-count spine (vocabulary-shaped,
    # bounded by the count domain — tiny-window whitelist)
    cum = hist.withColumn(
        "cum", F.sum("nu").over(Window.orderBy("c"))
    )
    pcts = (
        cum.crossJoin(F.broadcast(tot.select("n_users")))
        .agg(
            F.min(F.when(F.col("cum") * 2 >= F.col("n_users"), F.col("c")))
            .cast("bigint")
            .alias("p50_user_events"),
            F.min(
                F.when(F.col("cum") * 100 >= 99 * F.col("n_users"), F.col("c"))
            )
            .cast("bigint")
            .alias("p99_user_events"),
        )
    )
    return (
        tot.crossJoin(F.broadcast(top10))
        .crossJoin(F.broadcast(pcts))
        .select(
            "n_events",
            "n_users",
            "max_user_events",
            F.expr("CAST(max_user_events * 1000000 DIV n_events AS BIGINT)")
            .alias("top1_ppm"),
            F.expr("CAST(top10_events * 1000000 DIV n_events AS BIGINT)")
            .alias("top10_ppm"),
            "p50_user_events",
            "p99_user_events",
            F.expr(
                "CAST(max_user_events * 1000 * n_users DIV n_events AS BIGINT)"
            ).alias("max_to_mean_x1000"),
        )
    )
