"""Behavioral analytics: market-basket affinity and funnel conversion.

The reference's portal counts registrations and payments per event
(``db.py`` dashboard aggregates); these queries are the next set of
questions the same owner asks — "which items co-occur?" and "where do
users drop off?" — expressed warehouse-side over the driver star
schema (part co-occurrence within orders; the view→click→purchase
event funnel).

Scale notes:
- market basket: the co-purchase front end of plans/graph.py — one
  order-keyed collect_set aggregate, then an in-row pair explode.
  Per-order fan-out is k² in basket size, so the ``MAX_BASKET`` guard
  drops pathological baskets BEFORE the explode (at 100 TB one
  million-line order would otherwise emit 10¹² pairs from a single
  key). Lift denominators come from the same distinct set, joined
  back broadcast-side after the top-K cut (50 rows).
- funnel: ONE shuffle — all three stage timestamps are per-user
  window minima over the same ``partitionBy(user_id)`` exchange, and
  the stage report is a tiny unconditional aggregate over the
  per-user collapse.

Determinism: counts are exact integers; support/lift/conversion are
single IEEE divides over identical integer operands on both engines,
rounded via compat.fround (SURVEY.md §7.4.4 policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compat import fround, sql_fround
from ..operators.windows import disc_quantiles
from ..registry import register
from ..sources.catalog import Catalog
from .graph import _KEPT_SQL, _basket_pairs, _kept_baskets

#: pairs reported
BASKET_TOP_K = 50


def part_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-occurring part pairs across orders with support and
    lift. guarded per-order part sets → in-row a<b pair explode →
    pair counts → top-K → join-back of the per-part order counts for
    lift."""
    cat = Catalog(spark, sf_dir)
    baskets = _kept_baskets(cat.lineitem)
    pairs = (
        _basket_pairs(baskets, triangular=True)
        .select(F.col("src").alias("part_a"), F.col("dst").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("pair_orders"))
        .orderBy(F.col("pair_orders").desc(), "part_a", "part_b")
        .limit(BASKET_TOP_K)
    )
    per_part = (baskets.select(F.explode("parts").alias("l_partkey"))
                .groupBy("l_partkey")
                .agg(F.count("*").cast("long").alias("part_orders")))
    total = baskets.agg(
        F.count("*").cast("long").alias("total_orders"))
    out = (
        pairs
        .join(per_part.withColumnRenamed("l_partkey", "part_a")
                      .withColumnRenamed("part_orders", "orders_a"), "part_a")
        .join(per_part.withColumnRenamed("l_partkey", "part_b")
                      .withColumnRenamed("part_orders", "orders_b"), "part_b")
        .crossJoin(total)
    )
    return (
        out.select(
            "part_a", "part_b", "pair_orders", "orders_a", "orders_b",
            fround(F.col("pair_orders").cast("double")
                   / F.col("total_orders").cast("double"), 6).alias("support"),
            fround((F.col("pair_orders").cast("double")
                    * F.col("total_orders").cast("double"))
                   / (F.col("orders_a").cast("double")
                      * F.col("orders_b").cast("double")), 6).alias("lift"))
        .orderBy(F.col("pair_orders").desc(), "part_a", "part_b")
    )


MARKET_BASKET_SQL = f"""
WITH {_KEPT_SQL},
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS pair_orders
    FROM kept a JOIN kept b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY pair_orders DESC, part_a, part_b
    LIMIT {BASKET_TOP_K}
),
per_part AS (
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS part_orders
    FROM kept GROUP BY 1
),
total AS (
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS total_orders
    FROM kept
)
SELECT part_a, part_b, pair_orders,
       pa.part_orders AS orders_a, pb.part_orders AS orders_b,
       {sql_fround('CAST(pair_orders AS DOUBLE)'
                   ' / CAST(total_orders AS DOUBLE)', 6)} AS support,
       {sql_fround('(CAST(pair_orders AS DOUBLE)'
                   ' * CAST(total_orders AS DOUBLE))'
                   ' / (CAST(pa.part_orders AS DOUBLE)'
                   ' * CAST(pb.part_orders AS DOUBLE))', 6)} AS lift
FROM pairs
JOIN per_part pa ON pa.l_partkey = part_a
JOIN per_part pb ON pb.l_partkey = part_b
CROSS JOIN total
ORDER BY pair_orders DESC, part_a, part_b
"""


#: ordered funnel stages over the event stream
FUNNEL_STAGES = ("view", "click", "purchase")

#: a stage counts only within this many hours of entering the
#: previous stage (without the bound the dense synthetic stream
#: saturates — every user eventually does everything)
FUNNEL_WINDOW_HOURS = 24


def funnel_per_user(events: DataFrame) -> DataFrame:
    """Per-user stage timestamps (user_id, t_view, t_click,
    t_purchase) — the funnel's sufficient statistic. Exposed
    separately because the incremental maintainer
    (streaming/funnel_state.py) persists exactly this frame as its
    state."""
    w = Window.partitionBy("user_id")
    bound = F.expr(f"INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")
    ev = (
        events
        # NULL user_ids would collapse all anonymous traffic into ONE
        # pseudo-user partition that near-certainly completes every
        # stage (+1 to each count) — excluded like the other
        # user-keyed analytics (review finding; latent, driver data
        # has no NULL users)
        .filter(F.col("user_id").isNotNull())
        .filter(F.col("event_type").isin(*FUNNEL_STAGES))
        .select("user_id", "event_type", "ts")
        .withColumn("t_view", F.min(F.when(F.col("event_type") == "view",
                                           F.col("ts"))).over(w))
    )
    ev = ev.withColumn(
        "t_click",
        F.min(F.when((F.col("event_type") == "click")
                     & (F.col("ts") >= F.col("t_view"))
                     & (F.col("ts") <= F.col("t_view") + bound),
                     F.col("ts"))).over(w))
    ev = ev.withColumn(
        "t_purchase",
        F.min(F.when((F.col("event_type") == "purchase")
                     & (F.col("ts") >= F.col("t_click"))
                     & (F.col("ts") <= F.col("t_click") + bound),
                     F.col("ts"))).over(w))
    return ev.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"))


def funnel_report_from_per_user(per_user: DataFrame) -> DataFrame:
    """Render the 3-row conversion report from the per-user stage
    timestamps (shared by the batch query and the incremental
    maintainer's state_to_report)."""
    counts = per_user.agg(
        F.count("t_view").cast("long").alias("n_view"),
        F.count("t_click").cast("long").alias("n_click"),
        F.count("t_purchase").cast("long").alias("n_purchase"))
    # first_users rides along inside each struct — deriving it as a
    # separate DataFrame would make Spark re-run the whole window
    # pipeline a second time for the scalar attach
    stages = counts.select(F.explode(F.array(
        F.struct(F.lit(1).cast("long").alias("stage"),
                 F.lit("view").alias("event_type"),
                 F.col("n_view").alias("n_users"),
                 F.col("n_view").alias("prev_users"),
                 F.col("n_view").alias("first_users")),
        F.struct(F.lit(2).cast("long").alias("stage"),
                 F.lit("click").alias("event_type"),
                 F.col("n_click").alias("n_users"),
                 F.col("n_view").alias("prev_users"),
                 F.col("n_view").alias("first_users")),
        F.struct(F.lit(3).cast("long").alias("stage"),
                 F.lit("purchase").alias("event_type"),
                 F.col("n_purchase").alias("n_users"),
                 F.col("n_click").alias("prev_users"),
                 F.col("n_view").alias("first_users")),
    )).alias("s")).select("s.*")
    return (
        stages
        .select(
            "stage", "event_type", "n_users",
            # NULL (not an ANSI divide-by-zero error) when a previous
            # stage is empty — NULLIF on both engines
            fround(F.col("n_users").cast("double")
                   / F.nullif(F.col("prev_users"), F.lit(0)).cast("double"),
                   6).alias("step_conversion"),
            fround(F.col("n_users").cast("double")
                   / F.nullif(F.col("first_users"), F.lit(0)).cast("double"),
                   6).alias("overall_conversion"))
        .orderBy("stage")
    )


def funnel_report(events: DataFrame) -> DataFrame:
    """DataFrame-level funnel core over (user_id, event_type, ts) —
    exposed separately so property tests can drive it on arbitrary
    in-memory event sets (tests/test_analytics.py)."""
    return funnel_report_from_per_user(funnel_per_user(events))


def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: a user reaches a stage only
    with an event at-or-after their entry to the previous stage and
    within FUNNEL_WINDOW_HOURS of it (first-touch, windowed
    semantics). All three stage timestamps are minima over the SAME
    user-partitioned window — one exchange, then a per-user collapse
    and a 3-row report with step and overall conversion rates."""
    return funnel_report(Catalog(spark, sf_dir).events)


FUNNEL_SQL = f"""
WITH ev AS (
    SELECT user_id, event_type, ts,
           MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
    FROM events WHERE user_id IS NOT NULL
      AND event_type IN ('view', 'click', 'purchase')
),
ev2 AS (
    SELECT *,
           MIN(CASE WHEN event_type = 'click' AND ts >= t_view
                    AND ts <= t_view + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
               THEN ts END)
               OVER (PARTITION BY user_id) AS t_click
    FROM ev
),
ev3 AS (
    SELECT *,
           MIN(CASE WHEN event_type = 'purchase' AND ts >= t_click
                    AND ts <= t_click + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
               THEN ts END)
               OVER (PARTITION BY user_id) AS t_purchase
    FROM ev2
),
per_user AS (
    SELECT user_id, MAX(t_view) AS t_view, MAX(t_click) AS t_click,
           MAX(t_purchase) AS t_purchase
    FROM ev3 GROUP BY 1
),
counts AS (
    SELECT CAST(COUNT(t_view) AS BIGINT) AS n_view,
           CAST(COUNT(t_click) AS BIGINT) AS n_click,
           CAST(COUNT(t_purchase) AS BIGINT) AS n_purchase
    FROM per_user
),
stages AS (
    SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
           n_view AS n_users, n_view AS prev_users, n_view AS first_users
    FROM counts
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'click', n_click, n_view, n_view FROM counts
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase', n_purchase, n_click, n_view
    FROM counts
)
SELECT stage, event_type, n_users,
       {sql_fround('CAST(n_users AS DOUBLE)'
                   ' / CAST(NULLIF(prev_users, 0) AS DOUBLE)', 6)}
           AS step_conversion,
       {sql_fround('CAST(n_users AS DOUBLE)'
                   ' / CAST(NULLIF(first_users, 0) AS DOUBLE)', 6)}
           AS overall_conversion
FROM stages
ORDER BY stage
"""


register("part_market_basket", part_market_basket, MARKET_BASKET_SQL)
register("events_funnel_conversion", events_funnel_conversion, FUNNEL_SQL)


# --------------------------------------------------------------------------
# Engagement stickiness (DAU/MAU)
# --------------------------------------------------------------------------

def events_stickiness_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month product-engagement stickiness: average daily active
    users over monthly active users (the classic DAU/MAU ratio) plus
    the raw actives — the one-number health metric next to
    session_stats (depth) and customer_new_vs_returning (acquisition).
    n_days is CALENDAR days in the month, so silent days pull the
    average down (an active-days denominator would score a
    one-day-a-month product as perfectly sticky).

    Exactness at scale: DAU and MAU are EXACT distincts, computed as
    two distinct-shuffles over (day, user) and (month, user) key
    pairs — both map-side-pre-deduped projections of the fact, never
    a sliding-window distinct (a trailing-30d MAU needs sketch unions
    — events_distinct_users_incremental's HLL state serves that
    shape). avg_dau = Σ dau / n_days and stickiness are single IEEE
    divisions of exact longs, fround-quantized.
    """
    cat = Catalog(spark, sf_dir)
    ev = (cat.events.filter(F.col("user_id").isNotNull())
          .select(F.date_trunc("month", F.col("ts")).alias("month"),
                  F.date_trunc("day", F.col("ts")).alias("day"),
                  "user_id"))
    dau = (ev.select("month", "day", "user_id").distinct()
           .groupBy("month", "day")
           .agg(F.count("*").cast("long").alias("dau")))
    # n_days = CALENDAR days in the month (review finding: dividing
    # by active days only would report a sparse month — one active
    # day — as near-perfect stickiness)
    daily = (dau.groupBy("month")
             .agg(F.dayofmonth(F.last_day(F.min("month")))
                  .cast("long").alias("n_days"),
                  F.sum("dau").cast("long").alias("sum_dau")))
    mau = (ev.select("month", "user_id").distinct()
           .groupBy("month")
           .agg(F.count("*").cast("long").alias("mau")))
    return (daily.join(mau, "month")
            .select("month", "n_days", "mau",
                    fround(F.col("sum_dau") / F.col("n_days"), 4)
                    .alias("avg_dau"),
                    fround(F.col("sum_dau")
                           / (F.col("n_days") * F.col("mau")), 6)
                    .alias("stickiness"))
            .orderBy("month"))


STICKINESS_SQL = f"""
WITH ev AS (
    SELECT date_trunc('month', ts) AS month,
           date_trunc('day', ts) AS day, user_id
    FROM events WHERE user_id IS NOT NULL
),
dau AS (
    SELECT month, day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
    FROM ev GROUP BY 1, 2
),
daily AS (
    SELECT month,
           CAST(date_part('day', last_day(CAST(month AS DATE)))
                AS BIGINT) AS n_days,
           CAST(SUM(dau) AS BIGINT) AS sum_dau
    FROM dau GROUP BY 1
),
mau AS (
    SELECT month, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
    FROM ev GROUP BY 1
)
SELECT d.month, d.n_days, m.mau,
       {sql_fround('CAST(d.sum_dau AS DOUBLE) / d.n_days', 4)} AS avg_dau,
       {sql_fround('CAST(d.sum_dau AS DOUBLE) / (d.n_days * m.mau)', 6)}
           AS stickiness
FROM daily d JOIN mau m ON d.month = m.month
ORDER BY d.month
"""

register("events_stickiness_monthly", events_stickiness_monthly,
         STICKINESS_SQL)

# --------------------------------------------------------------------------
# Conversion-latency distribution (time-to-convert SLA percentiles)
# --------------------------------------------------------------------------


def conversion_latency_quantiles(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every user whose first click
    is followed by a purchase inside FUNNEL_WINDOW_HOURS, the
    click→purchase latency in whole minutes — one-row report with the
    converter count and exact discrete p50/p90/p99/max. The funnel
    reports WHETHER users convert; this reports HOW FAST, the product
    SLA readout (same first-touch windowed semantics as
    events_ab_conversion_report — including the NULL-user exclusion —
    so the two readouts agree on who converted).

    Determinism: latencies are exact microsecond-integer differences
    (unix_micros / epoch_us) integer-DIV'd to minutes — no truncation
    mismatch between second-resolution engines; quantiles come from
    `operators.windows.disc_quantiles` over the bounded latency
    histogram (≤ window-hours×60 distinct values).

    Scale: one user-keyed window exchange + per-user collapse (the
    corpus term), then the minute histogram; the ranking windows see
    only the bounded histogram.
    """
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id")
    per_user = (
        cat.events
        .where(F.col("user_id").isNotNull()
               & F.col("event_type").isin("click", "purchase"))
        .select("user_id", "event_type", "ts")
        .withColumn(
            "t_click",
            F.min(F.when(F.col("event_type") == "click", F.col("ts")))
            .over(w))
        .where(F.col("t_click").isNotNull())
        .groupBy("user_id")
        .agg(F.max("t_click").alias("t_click"),
             F.min(F.when(
                 (F.col("event_type") == "purchase")
                 & (F.col("ts") >= F.col("t_click"))
                 & (F.col("ts") <= F.col("t_click")
                    + F.expr(f"INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")),
                 F.col("ts"))).alias("t_purchase"))
        .where(F.col("t_purchase").isNotNull()))
    lat = (per_user
           .select((F.unix_micros(F.col("t_purchase").cast("timestamp"))
                    - F.unix_micros(F.col("t_click").cast("timestamp")))
                   .alias("lat_us"))
           .select(F.expr("lat_us DIV 60000000").cast("long").alias("lat")))
    return (disc_quantiles(lat, [], "lat",
                           {"p50_min": (1, 2), "p90_min": (9, 10),
                            "p99_min": (99, 100), "max_min": (1, 1)})
            .select(F.coalesce("n", F.lit(0)).alias("n_converters"),
                    "p50_min", "p90_min", "p99_min", "max_min"))


CONVERSION_LATENCY_SQL = f"""
WITH ev AS (
    SELECT user_id, event_type, ts,
           MIN(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id) AS t_click
    FROM events
    WHERE user_id IS NOT NULL AND event_type IN ('click', 'purchase')
),
per_user AS (
    SELECT user_id, MAX(t_click) AS t_click,
           MIN(CASE WHEN event_type = 'purchase' AND ts >= t_click
                    AND ts <= t_click + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
               THEN ts END) AS t_purchase
    FROM ev WHERE t_click IS NOT NULL
    GROUP BY 1
),
hist AS (
    SELECT CAST((epoch_us(t_purchase) - epoch_us(t_click)) // 60000000
                AS BIGINT) AS lat,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM per_user WHERE t_purchase IS NOT NULL
    GROUP BY 1
),
ranked AS (
    SELECT lat,
           SUM(c) OVER (ORDER BY lat ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(c) OVER () AS n
    FROM hist
)
SELECT CAST(COALESCE(MAX(n), 0) AS BIGINT) AS n_converters,
       CAST(MIN(CASE WHEN cum * 2 >= n THEN lat END) AS BIGINT)
           AS p50_min,
       CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN lat END) AS BIGINT)
           AS p90_min,
       CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN lat END) AS BIGINT)
           AS p99_min,
       CAST(MAX(lat) AS BIGINT) AS max_min
FROM ranked
"""

register("conversion_latency_quantiles", conversion_latency_quantiles,
         CONVERSION_LATENCY_SQL)
