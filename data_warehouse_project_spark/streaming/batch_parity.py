"""Batch twins of the engine's streaming queries over the `events`
activity stream (SURVEY.md §2.9).

The reference has no stream processing — its closest analog is the
registration→payment state machine (reference db.py:342 'Pending' →
db.py:463 'Success'). The engine's streaming surface (streaming.jobs)
runs these same queries incrementally with watermarks; each batch
form here is the oracle-checkable ground truth the streaming tests
assert parity against (SURVEY.md §5.4).

Scale notes: hourly tumbling aggregation groups on (hour, type) —
bounded cardinality, partial-agg collapses each scan partition.
Sessionization is one shuffle on user_id + an in-partition sort (the
same layout the stateful streaming operator keeps as state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compat import dsum, fround, sql_dsum, sql_fround
from ..operators.windows import disc_quantiles
from ..registry import register
from ..sources.catalog import Catalog

#: session gap for sessionization (seconds)
SESSION_GAP_S = 1800


def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation per event_type (streaming:
    `window(ts, '1 hour')` + watermark; batch: date_trunc)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.events
        .groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


EVENTS_TUMBLING_SQL = f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


def events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dedup, batch form: first event per (user_id,
    event_type) by ts (streaming: dropDuplicatesWithinWatermark).
    Deterministic tiebreak on event_id (SURVEY.md §7.4.5)."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        cat.events
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


EVENTS_DEDUP_SQL = """
SELECT user_id, event_type, event_id, ts, value
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id) AS rn
    FROM events
) t WHERE rn = 1
"""


def session_islands(rows: DataFrame, seq_col: str = "session_seq") -> DataFrame:
    """THE gaps-and-islands session segmentation — flag rows whose gap
    from the previous event exceeds SESSION_GAP_S, running-sum the
    flags into a per-user 1-based island id (``seq_col``). Shared by
    the batch sessionizer below AND the incremental maintainer
    (streaming/sessions.py), so their "identical window logic" parity
    claim is true by construction, not by parallel maintenance."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        rows
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
                   > SESSION_GAP_S),
                1,
            ).otherwise(0),
        )
        .withColumn(seq_col, F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
    )


#: transition report size
TRANSITION_TOP_K = 20


def transition_counts(rows: DataFrame, keep) -> DataFrame:
    """THE transition count — (prev_type, next_type, n) from LAG over
    each user's (ts, event_id) order, rows with a NULL prev dropped.
    A row whose ``keep`` is false is not counted as the next side but
    still acts as its successor's prev; ``None`` counts every row.
    Shared by the batch miner below and both incremental maintainers
    (streaming/transitions.py, streaming/late_transitions.py), so
    their parity with it holds by construction."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    counted = F.col("prev_type").isNotNull()
    if keep is not None:
        counted = keep & counted
    return (rows.withColumn("prev_type", F.lag("event_type").over(w))
            .filter(counted)
            .groupBy("prev_type", F.col("event_type").alias("next_type"))
            .agg(F.count("*").cast("long").alias("n")))


def add_transition_counts(a: DataFrame, b: DataFrame) -> DataFrame:
    """Sum two ``transition_counts`` frames per (prev_type, next_type)."""
    return (a.unionByName(b)
            .groupBy("prev_type", "next_type")
            .agg(F.sum("n").cast("long").alias("n")))


def transition_report(counts: DataFrame) -> DataFrame:
    """The TRANSITION_TOP_K rows of a ``transition_counts`` frame with
    their ``share`` of all transitions, by (n desc, prev, next)."""
    total = counts.agg(F.sum("n").alias("total"))
    return (
        counts.join(total)
        .select("prev_type", "next_type", "n",
                fround(F.col("n") / F.col("total"), 6).alias("share"))
        .orderBy(F.col("n").desc(), "prev_type", "next_type")
        .limit(TRANSITION_TOP_K)
    )


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-min inactivity gap, batch form
    (streaming: `session_window(ts, '30 minutes')`).

    Classic gaps-and-islands (session_islands above), then aggregate
    per island.
    """
    cat = Catalog(spark, sf_dir)
    flagged = session_islands(cat.events)
    return (
        flagged.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            dsum(F.col("value")).alias("session_value"),
        )
    )


EVENTS_SESSIONIZE_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(LAG(ts) OVER w) > {SESSION_GAP_S}
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT *, CAST(SUM(new_session) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
    FROM flagged
)
SELECT user_id, session_seq,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS session_value
FROM sessions GROUP BY user_id, session_seq
"""


def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window, 30-min slide, batch form: each event
    lands in exactly 2 covering windows → explode the window starts
    then aggregate. (Streaming: `window(ts, '1 hour', '30 minutes')`.)
    """
    cat = Catalog(spark, sf_dir)
    ev = cat.events.withColumn(
        "win_start",
        F.explode(
            F.array(
                F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz"),
                F.when(
                    F.minute("ts") >= 30,
                    (F.date_trunc("hour", F.col("ts"))
                     + F.expr("INTERVAL 30 MINUTES")).cast("timestamp_ntz"),
                ).otherwise(
                    (F.date_trunc("hour", F.col("ts"))
                     - F.expr("INTERVAL 30 MINUTES")).cast("timestamp_ntz")
                ),
            )
        ),
    )
    return (
        ev.groupBy("win_start", "event_type")
        .agg(F.count("*").alias("n_events"),
             dsum(F.col("value")).alias("sum_value"))
    )


EVENTS_SLIDING_SQL = f"""
WITH exploded AS (
    SELECT e.*, w.win_start
    FROM events e, LATERAL (
        SELECT UNNEST([
            date_trunc('hour', ts),
            CASE WHEN EXTRACT(minute FROM ts) >= 30
                 THEN date_trunc('hour', ts) + INTERVAL 30 MINUTE
                 ELSE date_trunc('hour', ts) - INTERVAL 30 MINUTE END
        ]) AS win_start) w
)
SELECT win_start, event_type, COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM exploded GROUP BY win_start, event_type
"""


def events_state_machine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's registration→payment state machine (db.py:342
    → db.py:463) as a stream-shaped batch query: per user, did a
    'signup' lead to a 'purchase', and what was the conversion lag?
    """
    cat = Catalog(spark, sf_dir)
    signups = (
        cat.events.filter(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min("ts").alias("signup_ts"))
    )
    purchases = (
        cat.events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(F.min("ts").alias("first_purchase_ts"))
    )
    return (
        signups.join(purchases, "user_id", "left")
        .select(
            "user_id", "signup_ts", "first_purchase_ts",
            F.when(
                F.col("first_purchase_ts") >= F.col("signup_ts"),
                F.expr(
                    "(unix_micros(cast(first_purchase_ts as timestamp))"
                    " - unix_micros(cast(signup_ts as timestamp)))"
                    " div 1000000"
                ),
            ).alias("conversion_lag_s"),
        )
    )


EVENTS_STATE_MACHINE_SQL = """
WITH signups AS (
    SELECT user_id, MIN(ts) AS signup_ts FROM events
    WHERE event_type = 'signup' GROUP BY user_id
),
purchases AS (
    SELECT user_id, MIN(ts) AS first_purchase_ts FROM events
    WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT s.user_id, s.signup_ts, p.first_purchase_ts,
       CASE WHEN p.first_purchase_ts >= s.signup_ts
            THEN CAST((epoch_us(p.first_purchase_ts) - epoch_us(s.signup_ts))
                      // 1000000 AS BIGINT)
       END AS conversion_lag_s
FROM signups s LEFT JOIN purchases p ON s.user_id = p.user_id
"""


register("events_tumbling_hourly", events_tumbling_hourly, EVENTS_TUMBLING_SQL)
register("events_dedup_first", events_dedup_first, EVENTS_DEDUP_SQL)
register("events_sessionize", events_sessionize, EVENTS_SESSIONIZE_SQL)
register("events_sliding_windows", events_sliding_windows, EVENTS_SLIDING_SQL)
register("events_state_machine", events_state_machine, EVENTS_STATE_MACHINE_SQL)


def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: the events
    stream aggregated at (hour, day, total) granularities in one
    grouping-sets pass — the batch form of a cascading materialized
    rollup (hourly caggs compacting into daily).

    At scale each granularity level is a materialized incremental
    view refreshed from the level below; the grouping-sets form here
    is its exact batch semantics (and the refresh job's backfill
    query).
    """
    cat = Catalog(spark, sf_dir)
    cat.events.createOrReplaceTempView("events")
    return spark.sql(f"""
        SELECT date_trunc('day', ts)  AS day,
               date_trunc('hour', ts) AS hour,
               event_type,
               COUNT(*) AS n_events,
               {_SPARK_DSUM_VALUE} AS sum_value
        FROM events
        GROUP BY GROUPING SETS (
            (date_trunc('day', ts), date_trunc('hour', ts), event_type),
            (date_trunc('day', ts), event_type),
            (event_type)
        )
    """)


#: Spark-SQL text form of functions.compat.dsum('value') — 1e4-style
#: literals keep everything DOUBLE (plain x.y literals parse as DECIMAL)
_SPARK_DSUM_VALUE = (
    "(FLOOR((CAST(SUM(CAST(FLOOR(value * 1e4 + cast(0.5 as double)) AS BIGINT))"
    " AS BIGINT) + 50) / 1e2) / 1e2)"
)

HYPERTABLE_ROLLUP_SQL = f"""
SELECT date_trunc('day', ts)  AS day,
       date_trunc('hour', ts) AS hour,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY GROUPING SETS (
    (date_trunc('day', ts), date_trunc('hour', ts), event_type),
    (date_trunc('day', ts), event_type),
    (event_type)
)
"""

register("hypertable_rollup", hypertable_rollup, HYPERTABLE_ROLLUP_SQL)


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel per user: view → click → purchase, each stage
    counted only if it happens AFTER the previous stage's first
    occurrence. One conditional-min aggregation per stage — no
    self-joins, one shuffle on user_id."""
    cat = Catalog(spark, sf_dir)
    ev = cat.events
    v = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts")))
        .alias("t_view"))
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left").join(p, "user_id", "left")
        .select(
            "user_id",
            F.col("t_view").isNotNull().alias("reached_view"),
            F.col("t_click").isNotNull().alias("reached_click"),
            F.col("t_purchase").isNotNull().alias("reached_purchase"),
        )
    )


EVENTS_FUNNEL_SQL = """
WITH v AS (
    SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
    FROM events GROUP BY user_id
),
c AS (
    SELECT e.user_id, v.t_view, MIN(e.ts) AS t_click
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts >= v.t_view
    GROUP BY e.user_id, v.t_view
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS t_purchase
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
    GROUP BY e.user_id
)
SELECT v.user_id,
       v.t_view IS NOT NULL AS reached_view,
       c.t_click IS NOT NULL AS reached_click,
       p.t_purchase IS NOT NULL AS reached_purchase
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
"""


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention matrix: users grouped by first-activity day (cohort),
    counted by how many days later they were active again — the
    classic cohort triangle, as one self-join on user_id."""
    cat = Catalog(spark, sf_dir)
    first_day = cat.events.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day"))
    activity = cat.events.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("active_day")
    ).distinct()
    return (
        activity.join(first_day, "user_id")
        .withColumn("day_offset",
                    F.datediff(F.col("active_day"), F.col("cohort_day")))
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


EVENTS_RETENTION_SQL = """
WITH first_day AS (
    SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day FROM events
)
SELECT f.cohort_day,
       CAST(datediff('day', f.cohort_day, a.active_day) AS INT) AS day_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM activity a JOIN first_day f ON a.user_id = f.user_id
GROUP BY 1, 2
"""


register("events_funnel", events_funnel, EVENTS_FUNNEL_SQL)
register("events_retention_cohorts", events_retention_cohorts,
         EVENTS_RETENTION_SQL)


def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomaly score per (hour, event_type): z-score of each
    hour's event count against the trailing 24-hour window. Windowed
    moment sums over integer counts are exact, so the z-score is
    deterministic (no builtin stddev — functions.compat policy).
    Flags |z| >= 2 hours. The streaming form is the same query over a
    sliding state window."""
    cat = Catalog(spark, sf_dir)
    hourly = (
        cat.events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    w = (Window.partitionBy("event_type").orderBy("hour")
         .rowsBetween(-24, -1))
    stats = hourly.select(
        "hour", "event_type", "n",
        F.count("n").over(w).alias("w_n"),
        F.sum("n").over(w).alias("w_sum"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("w_sumsq"),
    ).filter(F.col("w_n") >= 12)
    mean = F.col("w_sum").cast("double") / F.col("w_n")
    var = ((F.col("w_sumsq").cast("double")
            - F.col("w_sum").cast("double") * F.col("w_sum") / F.col("w_n"))
           / (F.col("w_n") - 1))
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        stats
        .withColumn("z_score", F.when(var > 0, z))
        .select("hour", "event_type", "n",
                fround(F.col("z_score"), 6).alias("z_score"))
        .filter(F.coalesce(F.abs(F.col("z_score")) >= 2.0, F.lit(False)))
    )


EVENTS_ANOMALY_SQL = f"""
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT hour, event_type, n,
           COUNT(n) OVER w AS w_n,
           CAST(SUM(n) OVER w AS BIGINT) AS w_sum,
           CAST(SUM(n * n) OVER w AS BIGINT) AS w_sumsq
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
),
scored AS (
    SELECT hour, event_type, n,
           CASE WHEN (CAST(w_sumsq AS DOUBLE)
                      - CAST(w_sum AS DOUBLE) * w_sum / w_n) / (w_n - 1) > 0
                THEN (n - CAST(w_sum AS DOUBLE) / w_n)
                     / sqrt((CAST(w_sumsq AS DOUBLE)
                             - CAST(w_sum AS DOUBLE) * w_sum / w_n) / (w_n - 1))
           END AS z
    FROM stats WHERE w_n >= 12
)
SELECT hour, event_type, n, {sql_fround('z', 6)} AS z_score
FROM scored
WHERE COALESCE(abs({sql_fround('z', 6)}) >= 2.0, false)
"""

register("events_hourly_anomaly", events_hourly_anomaly, EVENTS_ANOMALY_SQL)


def events_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.jobs.click_purchase_join: every click
    joined to the same user's purchases within [click_ts, click_ts +
    1 hour] — the attribution-window stream-stream join, as a plain
    self-join with an interval predicate. One shuffle on user_id;
    AQE picks the join strategy."""
    cat = Catalog(spark, sf_dir)
    ev = cat.events
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts"),
                         F.col("value").alias("purchase_value")))
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts")
               + F.expr("INTERVAL 1 HOUR")),
            "inner",
        )
        .select(F.col("c_user").alias("user_id"), "click_id",
                "purchase_id", "click_ts", "purchase_ts",
                fround(F.col("purchase_value"), 6).alias("purchase_value"))
    )


EVENTS_CLICK_PURCHASE_SQL = f"""
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       c.ts AS click_ts, p.ts AS purchase_ts,
       {sql_fround('p.value', 6)} AS purchase_value
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""

register("events_click_purchase_join", events_click_purchase_join,
         EVENTS_CLICK_PURCHASE_SQL)


def events_top_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-sequence transition mining: the
    TRANSITION_TOP_K most frequent (prev_type → next_type) transitions
    (``transition_counts``) with their share of all transitions — the
    Markov-chain / clickstream-path statistic behind funnel discovery
    (where the funnel family assumes a known path, this one finds the
    paths).

    Scale: one shuffle on user_id for the LAG window (per-user
    partitions, bounded by the most active user), then a tiny
    (type × type) aggregation; the global total attaches as a
    broadcast one-row scalar. Ties rank deterministically on
    (count desc, prev, next).
    """
    cat = Catalog(spark, sf_dir)
    return transition_report(transition_counts(
        cat.events.select("user_id", "event_id", "ts", "event_type"), None))


EVENTS_TRANSITIONS_SQL = f"""
WITH ordered AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
),
trans AS (
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ordered WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
),
total AS (SELECT SUM(n) AS total FROM trans)
SELECT t.prev_type, t.next_type, t.n,
       {sql_fround('t.n / CAST(total.total AS DOUBLE)', 6)} AS share
FROM trans t CROSS JOIN total
ORDER BY t.n DESC, t.prev_type, t.next_type
LIMIT {TRANSITION_TOP_K}
"""

register("events_top_transitions", events_top_transitions,
         EVENTS_TRANSITIONS_SQL)


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust volume anomaly per (hour, event_type): flag hours whose
    count deviates from the type's MEDIAN hourly count by more than
    3× the median absolute deviation (MAD) — the robust complement to
    events_hourly_anomaly's z-score (a single traffic spike inflates
    mean AND stddev and can mask itself; it cannot move the median).

    Exact discrete medians (quantile_disc semantics: the value at
    rank ceil(0.5·n) in sorted order), spelled out as identical
    integer rank math in both engines — all-integer inputs make every
    intermediate deterministic. The windows run over the HOURLY
    aggregate (≈ hours × types rows), never the raw events — the same
    aggregate-first discipline as length_band_filter's histogram.
    """
    cat = Catalog(spark, sf_dir)
    hourly = (
        cat.events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    return mad_anomalies_from_hourly(hourly)


def mad_anomalies_from_hourly(hourly: DataFrame) -> DataFrame:
    """MAD anomaly flags from ANY (hour, event_type, n) frame — the
    detector half of events_anomaly_mad, factored out so the
    incrementally-maintained rollup state can serve the same
    anomalies without rescanning events (plans/incremental.
    anomalies_from_rollup_state; equivalence unit-pinned)."""

    def disc_median(df: DataFrame, val: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(val, "hour")
        ranked = df.select(
            "event_type", val,
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("event_type")).alias("c"))
        return (ranked
                .filter(F.col("rn") >= F.ceil(F.col("c") / 2))
                .groupBy("event_type").agg(F.min(val).alias(out)))

    med = disc_median(hourly, "n", "med")
    dev = (hourly.join(med, "event_type")
           .withColumn("adev", F.abs(F.col("n") - F.col("med"))))
    mad = disc_median(dev.select("event_type", "adev",
                                 F.col("hour")), "adev", "mad")
    return (
        dev.join(mad, "event_type")
        # greatest(mad, 1): a hyper-stable series has MAD 0 and the
        # bare 3×MAD rule would flag EVERY non-median hour; counts are
        # integers, so 1 is the minimum meaningful deviation scale
        .filter(F.col("adev") > 3 * F.greatest(F.col("mad"), F.lit(1)))
        .select("event_type", "hour", "n",
                F.col("med").cast("long").alias("med"),
                F.col("mad").cast("long").alias("mad"))
        .orderBy("event_type", "hour")
    )


EVENTS_ANOMALY_MAD_SQL = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT event_type, n,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY n, hour) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS c
    FROM hourly
),
med AS (
    SELECT event_type, MIN(n) AS med FROM ranked
    WHERE rn >= CEIL(c / 2.0) GROUP BY event_type
),
dev AS (
    SELECT h.event_type, h.hour, h.n, m.med,
           ABS(h.n - m.med) AS adev
    FROM hourly h JOIN med m ON h.event_type = m.event_type
),
dranked AS (
    SELECT event_type, adev,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY adev, hour) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS c
    FROM dev
),
mad AS (
    SELECT event_type, MIN(adev) AS mad FROM dranked
    WHERE rn >= CEIL(c / 2.0) GROUP BY event_type
)
SELECT d.event_type, d.hour, d.n,
       CAST(d.med AS BIGINT) AS med,
       CAST(ma.mad AS BIGINT) AS mad
FROM dev d JOIN mad ma ON d.event_type = ma.event_type
WHERE d.adev > 3 * GREATEST(ma.mad, 1)
ORDER BY d.event_type, d.hour
"""

register("events_anomaly_mad", events_anomaly_mad, EVENTS_ANOMALY_MAD_SQL)


def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row session-behavior summary over the sessionized events:
    session count, single-event-session fraction, and exact discrete
    p50/p90 of session duration (minutes) and events-per-session —
    the engagement dashboard a product team reads off the
    sessionizer's output.

    Scale: composes events_sessionize (one user-keyed window pass),
    aggregates sessions for the count/fraction row, and takes each
    column's percentiles from one `operators.windows.disc_quantiles`
    call over its BOUNDED histogram (minutes, event counts);
    fractions are single IEEE divides of exact integers."""
    sessions = (
        events_sessionize(spark, sf_dir)
        .select(
            F.col("n_events").cast("long").alias("n_events"),
            F.floor((F.unix_timestamp("session_end")
                     - F.unix_timestamp("session_start")) / F.lit(60.0))
            .cast("long").alias("dur_min"),
        )
    )

    base = sessions.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("long")).alias("n_single"))
    return (
        base
        .join(disc_quantiles(sessions, [], "dur_min",
                             {"p50_dur_min": (1, 2), "p90_dur_min": (9, 10)}))
        .join(disc_quantiles(sessions, [], "n_events",
                             {"p50_events": (1, 2), "p90_events": (9, 10)}))
        .select(
            "n_sessions",
            fround(F.col("n_single") / F.col("n_sessions"), 6)
            .alias("single_event_frac"),
            "p50_dur_min", "p90_dur_min", "p50_events", "p90_events",
        )
    )


SESSION_STATS_SQL = f"""
WITH sess AS (
    SELECT CAST(n_events AS BIGINT) AS n_events,
           CAST(FLOOR((epoch(session_end) - epoch(session_start)) / 60.0)
                AS BIGINT) AS dur_min
    FROM ({EVENTS_SESSIONIZE_SQL}) s
),
dq AS (
    SELECT MIN(CASE WHEN cum * 2 >= n THEN v END) AS p50_dur_min,
           MIN(CASE WHEN cum * 10 >= n * 9 THEN v END) AS p90_dur_min
    FROM (SELECT dur_min AS v,
                 SUM(c) OVER (ORDER BY dur_min ROWS UNBOUNDED PRECEDING)
                     AS cum,
                 SUM(c) OVER () AS n
          FROM (SELECT dur_min, COUNT(*) AS c FROM sess GROUP BY dur_min))
),
eq AS (
    SELECT MIN(CASE WHEN cum * 2 >= n THEN v END) AS p50_events,
           MIN(CASE WHEN cum * 10 >= n * 9 THEN v END) AS p90_events
    FROM (SELECT n_events AS v,
                 SUM(c) OVER (ORDER BY n_events ROWS UNBOUNDED PRECEDING)
                     AS cum,
                 SUM(c) OVER () AS n
          FROM (SELECT n_events, COUNT(*) AS c FROM sess GROUP BY n_events))
)
SELECT CAST((SELECT COUNT(*) FROM sess) AS BIGINT) AS n_sessions,
       {sql_fround('(SELECT SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)'
                   ' FROM sess) / CAST((SELECT COUNT(*) FROM sess)'
                   ' AS DOUBLE)', 6)} AS single_event_frac,
       CAST(dq.p50_dur_min AS BIGINT) AS p50_dur_min,
       CAST(dq.p90_dur_min AS BIGINT) AS p90_dur_min,
       CAST(eq.p50_events AS BIGINT) AS p50_events,
       CAST(eq.p90_events AS BIGINT) AS p90_events
FROM dq CROSS JOIN eq
"""

register("session_stats", session_stats, SESSION_STATS_SQL)


# --------------------------------------------------------------------------
# User-journey path mining (top session paths)
# --------------------------------------------------------------------------

#: events per session that enter the path string — the truncation cap
#: that keeps the per-session payload bounded no matter how long a
#: bot session runs (the rank-capped-postings discipline applied to
#: journeys; real path-analysis tools cap identically).
PATH_MAX = 8

#: report size.
PATH_TOP_K = 20


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user-journey paths: sessionize (the 30-min gap rule of
    events_sessionize), take each session's first PATH_MAX events in
    (ts, event_id) order, render them as a '>'-joined path string,
    and count sessions per path — the path-discovery complement to
    events_top_transitions (which sees only adjacent pairs) and the
    funnel (which checks ONE fixed path).

    Scale: one user-keyed window pass (shared gaps-and-islands shape
    with the sessionizer), a per-session rank filter that discards
    everything past the cap BEFORE any string materializes, one
    (user, session) aggregation building bounded path strings, and a
    tiny path-keyed count. Ordered-aggregation determinism: Spark's
    collect_list order is undefined, so the path is built by
    sort_array over (ts, event_id, type) structs — the same total
    order the oracle's ORDER BY inside string_agg uses.
    """
    cat = Catalog(spark, sf_dir)
    flagged = (
        session_islands(cat.events)
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("user_id", "session_seq")
            .orderBy("ts", "event_id")))
        .filter(F.col("rn") <= PATH_MAX)
    )
    paths = (
        flagged.groupBy("user_id", "session_seq")
        .agg(F.array_join(
            F.transform(
                F.sort_array(F.collect_list(
                    F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"]),
            ">").alias("path"))
    )
    return (paths.groupBy("path")
            .agg(F.count("*").cast("long").alias("n_sessions"))
            .orderBy(F.desc("n_sessions"), "path")
            .limit(PATH_TOP_K))


EVENTS_TOP_PATHS_SQL = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(LAG(ts) OVER w) > {SESSION_GAP_S}
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT user_id, ts, event_id, event_type,
           SUM(new_session) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM flagged
),
capped AS (
    SELECT user_id, session_seq, ts, event_id, event_type
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY user_id, session_seq
              ORDER BY ts, event_id) AS rn
          FROM sessions)
    WHERE rn <= {PATH_MAX}
),
paths AS (
    SELECT user_id, session_seq,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM capped GROUP BY 1, 2
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT {PATH_TOP_K}
"""

register("events_top_paths", events_top_paths, EVENTS_TOP_PATHS_SQL)
