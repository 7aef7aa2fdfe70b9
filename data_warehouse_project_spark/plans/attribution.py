"""Multi-touch revenue attribution — first-touch / last-touch /
linear credit of purchase revenue to preceding marketing touches
(round 7; the analytics family funnels and transition mining don't
cover: "which touch type gets the credit for this purchase?").

Semantics: for every purchase by a known user, the touches (view /
click events of the same user) in the trailing LOOKBACK_S seconds
split the purchase value three ways — all-to-earliest (first-touch),
all-to-latest (last-touch), and proportional-to-touch-count (linear).
Purchases with no in-window touch credit the '(none)' bucket.
NULL-user events are excluded up front in BOTH engines: a NULL user
partition would attribute anonymous purchases to other anonymous
users' touches.

Plan shape (the 100 TB path): ONE user-keyed window exchange
computes, per purchase row, the in-window touch counts and the
first/last touch via RANGE frames over integer seconds; everything
downstream is purchases-sized, and the final models are three
bounded aggregations (≤ touch-types + 1 rows each) stitched by
broadcast full-outer joins. No self-join of events against events —
the range join that naive attribution does is folded into the
window frame.

Determinism notes:
- first/last touch inside the frame is selected by an ENCODED long
  ``(sec − epoch0)·1e10 + event_id·2 + is_click`` — min/max over
  longs is engine-identical, ties inside one second break by
  event_id then type; this avoids struct-ordering semantics in
  window frames, which DuckDB and Spark don't share. Bounds:
  |sec − epoch0|·1e10 stays inside int64 for |sec − epoch0| <
  ~9.2·10^8 s, i.e. dates within ~29 years of epoch0 (≈1988–2046),
  and event_id < 5·10^9 keeps the low digits exact (asserted
  generously vs driver data, which is 2024; a 100 TB deployment
  with wider ids or dates would switch to the struct form on the
  Spark side and keep the oracle on a sampled slice). The parity
  decode below uses ``% 2 <> 0`` rather than ``= 1`` so pre-epoch0
  keys (negative, where both engines yield −1 for odd dividends)
  still decode as clicks.
- the RANGE frame is (−LOOKBACK_S, −1) on whole seconds: a touch in
  the purchase's own second is NOT in its lookback (sub-second order
  isn't portable across engines).
- money is cents-exact: value → floor(·100+.5) longs; the linear
  split quantizes each per-purchase share with the same floor(+.5)
  on identical integer operands, then sums as longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog

#: trailing attribution window (seconds)
LOOKBACK_S = 72 * 3600

#: encoding bases for the first/last touch argmin/argmax
_EPOCH0 = 1_500_000_000
_KEY_BASE = 10_000_000_000


def attribution_frame(events: DataFrame) -> DataFrame:
    """Core over any events-shaped frame (see module docstring).
    Output: touch_type, n_first, first_revenue, n_last, last_revenue,
    linear_revenue."""
    ev = (events
          .filter(F.col("user_id").isNotNull())
          .select(
              "user_id", "event_id", "event_type", "value",
              F.floor(F.unix_timestamp("ts")).cast("long").alias("sec")))
    is_click = (F.col("event_type") == "click").cast("long")
    is_view = (F.col("event_type") == "view").cast("long")
    touch_key = F.when(
        F.col("event_type").isin("view", "click"),
        (F.col("sec") - F.lit(_EPOCH0)) * F.lit(_KEY_BASE)
        + F.col("event_id") * 2 + is_click)
    w = (Window.partitionBy("user_id").orderBy("sec")
         .rangeBetween(-LOOKBACK_S, -1))
    zl = F.lit(0).cast("long")
    scored = (
        # COALESCE the frame sums: a purchase with an EMPTY lookback
        # frame gets NULL (not 0) from SUM-over-window in both
        # engines, which would silently drop its '(none)' linear
        # credit (n_total = NULL fails both > 0 and = 0)
        ev.withColumn("n_view", F.coalesce(F.sum(is_view).over(w), zl))
        .withColumn("n_click", F.coalesce(F.sum(is_click).over(w), zl))
        .withColumn("first_key", F.min(touch_key).over(w))
        .withColumn("last_key", F.max(touch_key).over(w))
        .filter(F.col("event_type") == "purchase")
        .withColumn("cents",
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .withColumn("n_total", F.col("n_view") + F.col("n_click"))
    )

    def _key_type(key):
        return (F.when(key.isNull(), F.lit("(none)"))
                .when(key % 2 != 0, F.lit("click"))
                .otherwise(F.lit("view")))

    from ..cache import pin
    scored = pin(scored.select(
        "cents", "n_view", "n_click", "n_total",
        _key_type(F.col("first_key")).alias("first_type"),
        _key_type(F.col("last_key")).alias("last_type")))

    first = (scored.groupBy(F.col("first_type").alias("touch_type"))
             .agg(F.count("*").cast("long").alias("n_first"),
                  F.sum("cents").cast("long").alias("first_cents")))
    last = (scored.groupBy(F.col("last_type").alias("touch_type"))
            .agg(F.count("*").cast("long").alias("n_last"),
                 F.sum("cents").cast("long").alias("last_cents")))
    share = lambda n: F.floor(  # noqa: E731
        F.col("cents") * n / F.col("n_total") + F.lit(0.5)).cast("long")
    linear = (
        scored.select(F.explode(F.array(
            F.struct(F.lit("view").alias("touch_type"),
                     F.when(F.col("n_total") > 0, share(F.col("n_view")))
                     .otherwise(F.lit(0)).alias("c")),
            F.struct(F.lit("click").alias("touch_type"),
                     F.when(F.col("n_total") > 0, share(F.col("n_click")))
                     .otherwise(F.lit(0)).alias("c")),
            F.struct(F.lit("(none)").alias("touch_type"),
                     F.when(F.col("n_total") == 0, F.col("cents"))
                     .otherwise(F.lit(0)).alias("c")))).alias("x"))
        .groupBy(F.col("x.touch_type").alias("touch_type"))
        .agg(F.sum("x.c").cast("long").alias("linear_cents")))
    z = F.lit(0).cast("long")
    return (
        first.join(last, "touch_type", "full_outer")
        .join(linear, "touch_type", "full_outer")
        .filter((F.coalesce(F.col("n_first"), z)
                 + F.coalesce(F.col("n_last"), z)
                 + F.coalesce(F.col("linear_cents"), z)) > 0)
        .select(
            "touch_type",
            F.coalesce(F.col("n_first"), z).alias("n_first"),
            fround(F.coalesce(F.col("first_cents"), z).cast("double")
                   / 100, 2).alias("first_revenue"),
            F.coalesce(F.col("n_last"), z).alias("n_last"),
            fround(F.coalesce(F.col("last_cents"), z).cast("double")
                   / 100, 2).alias("last_revenue"),
            fround(F.coalesce(F.col("linear_cents"), z).cast("double")
                   / 100, 2).alias("linear_revenue"),
        )
    )


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the attribution report over the corpus
    events table."""
    return attribution_frame(Catalog(spark, sf_dir).events)


EVENTS_ATTRIBUTION_SQL = f"""
WITH ev AS (
    SELECT user_id, event_id, event_type, value,
           CAST(FLOOR(date_part('epoch', ts)) AS BIGINT) AS sec
    FROM events WHERE user_id IS NOT NULL
),
scored AS (
    SELECT event_type, value,
           COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               OVER w, 0) AS n_view,
           COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               OVER w, 0) AS n_click,
           MIN(CASE WHEN event_type IN ('view', 'click') THEN
               (sec - {_EPOCH0}) * {_KEY_BASE} + event_id * 2
               + CASE WHEN event_type = 'click' THEN 1 ELSE 0 END END)
               OVER w AS first_key,
           MAX(CASE WHEN event_type IN ('view', 'click') THEN
               (sec - {_EPOCH0}) * {_KEY_BASE} + event_id * 2
               + CASE WHEN event_type = 'click' THEN 1 ELSE 0 END END)
               OVER w AS last_key
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN {LOOKBACK_S} PRECEDING AND 1 PRECEDING)
),
p AS (
    SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
           n_view, n_click, n_view + n_click AS n_total,
           CASE WHEN first_key IS NULL THEN '(none)'
                WHEN first_key % 2 <> 0 THEN 'click' ELSE 'view' END
               AS first_type,
           CASE WHEN last_key IS NULL THEN '(none)'
                WHEN last_key % 2 <> 0 THEN 'click' ELSE 'view' END
               AS last_type
    FROM scored WHERE event_type = 'purchase'
),
first_m AS (
    SELECT first_type AS touch_type, CAST(COUNT(*) AS BIGINT) AS n_first,
           CAST(SUM(cents) AS BIGINT) AS first_cents
    FROM p GROUP BY 1
),
last_m AS (
    SELECT last_type AS touch_type, CAST(COUNT(*) AS BIGINT) AS n_last,
           CAST(SUM(cents) AS BIGINT) AS last_cents
    FROM p GROUP BY 1
),
linear_m AS (
    SELECT touch_type, CAST(SUM(c) AS BIGINT) AS linear_cents FROM (
        SELECT 'view' AS touch_type,
               CASE WHEN n_total > 0 THEN
                   CAST(FLOOR(cents * n_view / n_total + 0.5) AS BIGINT)
                   ELSE 0 END AS c
        FROM p
        UNION ALL
        SELECT 'click',
               CASE WHEN n_total > 0 THEN
                   CAST(FLOOR(cents * n_click / n_total + 0.5) AS BIGINT)
                   ELSE 0 END
        FROM p
        UNION ALL
        SELECT '(none)',
               CASE WHEN n_total = 0 THEN cents ELSE 0 END
        FROM p
    ) GROUP BY 1
)
SELECT touch_type,
       CAST(COALESCE(f.n_first, 0) AS BIGINT) AS n_first,
       {sql_fround('COALESCE(f.first_cents, 0) / 100.0', 2)}
           AS first_revenue,
       CAST(COALESCE(l.n_last, 0) AS BIGINT) AS n_last,
       {sql_fround('COALESCE(l.last_cents, 0) / 100.0', 2)}
           AS last_revenue,
       {sql_fround('COALESCE(li.linear_cents, 0) / 100.0', 2)}
           AS linear_revenue
FROM first_m f
FULL OUTER JOIN last_m l USING (touch_type)
FULL OUTER JOIN linear_m li USING (touch_type)
WHERE COALESCE(f.n_first, 0) + COALESCE(l.n_last, 0)
      + COALESCE(li.linear_cents, 0) > 0
"""

register("events_attribution", events_attribution, EVENTS_ATTRIBUTION_SQL)


# ---------------------------------------------------------------------------
# Markov-chain removal-effect attribution (round 7)
# ---------------------------------------------------------------------------
# The data-driven attribution model the position-based family above
# cannot express (public methodology: first-order Markov journeys,
# Anderl et al. 2014 "Mapping the customer journey"): estimate a
# transition matrix over per-user event journeys, then credit each
# channel by its REMOVAL EFFECT — how much the journey-level
# conversion probability drops when the channel's state is deleted
# from the chain (transitions into it become lost mass).
#
# Journey semantics (identical in both engines):
# - NULL-user events are excluded (same convention as the
#   position-based report above).
# - per user, events order by (ts, event_id) — a total order;
#   the journey TRUNCATES at the first 'purchase' (the conversion);
#   its states are START -> touches... -> CONV (converted) / NULL.
# - transitions: (START, first touch), consecutive touch pairs, and
#   (last touch | START, CONV | NULL).
#
# Exactness: transition probabilities quantize to parts-per-million
# via cnt*SCALE // total (positive integer floor division, identical
# both engines); conversion probability is a fixed-horizon absorbing
# recurrence v_{k+1}(s) = p(s,CONV) + (Σ_t p(s,t)·v_k(t)) // SCALE —
# all int64-exact (p ≤ 1e6, v ≤ 1e6, Σ of ≤ 4 terms ≤ 4e12).
#
# Scale design (100 TB): the corpus term is ONE user-keyed window
# pass (seq + first-purchase in the same exchange) plus a
# states²-bounded transition aggregate. The chain solve consumes
# that ≤ (|states|+1)² ≈ 30-row matrix — corpus-INDEPENDENT bounded
# state, solved driver-side in exact Python ints (the same
# distributed-aggregate / driver-solve split as the covariance →
# eigendecomposition PCA path in llm/distributions.py, with an even
# smaller state). The oracle unrolls the identical recurrence as SQL
# CTEs, so the whole model — journeys, matrix, recurrence, shares —
# is hash-checked end to end.

#: the non-absorbing channel states (the events vocabulary minus the
#: conversion event), fixed so both engines iterate the same grid
TOUCH_STATES = ("click", "error", "signup", "view")

#: parts-per-million probability quantization
_MK_SCALE = 1_000_000

#: recurrence updates after v0 = p(s, CONV) — conversion horizon 6
_MK_UPDATES = 5


def journey_transitions(events: DataFrame) -> DataFrame:
    """Distributed part: (src, dst, n) journey-transition counts.

    One user-keyed window exchange computes the per-user sequence
    number and first-purchase position together; the lag pass and the
    last-touch aggregate reuse the same hash partitioning."""
    ev = events.where(F.col("user_id").isNotNull())
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id")
    seqd = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("seq", F.row_number().over(wseq).cast("long"))
        .withColumn(
            "first_p",
            F.min(F.when(F.col("event_type") == "purchase", F.col("seq")))
            .over(wall))
    )
    touches = seqd.where(F.col("first_p").isNull()
                         | (F.col("seq") < F.col("first_p")))
    wlag = Window.partitionBy("user_id").orderBy("seq")
    t1 = touches.select(
        F.coalesce(F.lag("event_type").over(wlag), F.lit("START"))
        .alias("src"),
        F.col("event_type").alias("dst"))
    last_touch = (touches.groupBy("user_id")
                  .agg(F.max_by("event_type", "seq").alias("last_touch")))
    per_user = (seqd.groupBy("user_id")
                .agg(F.max("first_p").alias("first_p"))
                .join(last_touch, "user_id", "left"))
    t2 = per_user.select(
        F.coalesce(F.col("last_touch"), F.lit("START")).alias("src"),
        F.when(F.col("first_p").isNotNull(), F.lit("CONV"))
        .otherwise(F.lit("NULL")).alias("dst"))
    return (t1.unionByName(t2)
            .groupBy("src", "dst")
            .agg(F.count("*").cast("long").alias("n")))


def markov_solve(trans: list[tuple[str, str, int]]) -> list[dict]:
    """Exact-integer chain solve over the bounded transition counts.

    Returns one dict per channel: removal_conv_q, base_conv_q,
    removal_effect_q (ppm longs) and attribution_share (double,
    fround-6 of effect / Σ effects)."""
    import math

    cnt: dict[tuple[str, str], int] = {}
    for s, d, n in trans:
        cnt[(s, d)] = cnt.get((s, d), 0) + int(n)
    states = ("START",) + TOUCH_STATES
    dsts = TOUCH_STATES + ("CONV",)
    tot = {s: sum(n for (a, _), n in cnt.items() if a == s)
           for s in states}
    p = {(s, d): (cnt.get((s, d), 0) * _MK_SCALE) // tot[s]
         if tot[s] else 0
         for s in states for d in dsts}

    def conv_prob(removed: str | None) -> int:
        keep = [t for t in TOUCH_STATES if t != removed]
        sts = ["START"] + keep
        v = {s: p[(s, "CONV")] for s in sts}
        for _ in range(_MK_UPDATES):
            v = {s: p[(s, "CONV")]
                 + sum(p[(s, t)] * v[t] for t in keep) // _MK_SCALE
                 for s in sts}
        return v["START"]

    base = conv_prob(None)
    removal = {r: conv_prob(r) for r in TOUCH_STATES}
    effects = {r: (_MK_SCALE - (cr * _MK_SCALE) // base
                   if base > 0 else 0)
               for r, cr in removal.items()}
    tot_eff = sum(effects.values())
    out = []
    for r in TOUCH_STATES:
        share = (math.floor(effects[r] / tot_eff * 1e6 + 0.5) / 1e6
                 if tot_eff > 0 else None)
        out.append({"channel": r,
                    "removal_conv_q": removal[r],
                    "base_conv_q": base,
                    "removal_effect_q": effects[r],
                    "attribution_share": share})
    return out


def events_markov_attribution(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Registered query: Markov removal-effect attribution over the
    events journeys. The collect below is the documented bounded-state
    read: the transition matrix is ≤ (|states|+1)² rows regardless of
    corpus size (see the family note above)."""
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)
    cat = Catalog(spark, sf_dir)
    trans = [(r["src"], r["dst"], r["n"])
             for r in journey_transitions(cat.events).collect()]
    schema = StructType([
        StructField("channel", StringType()),
        StructField("removal_conv_q", LongType()),
        StructField("base_conv_q", LongType()),
        StructField("removal_effect_q", LongType()),
        StructField("attribution_share", DoubleType()),
    ])
    return (spark.createDataFrame(markov_solve(trans), schema)
            .orderBy("channel"))


def _mk_iter_sql(prev: str, i: int) -> str:
    return f"""
v{i} AS (
    SELECT vs.rm, vs.state,
           COALESCE(MAX(pc.pq), 0)
           + COALESCE(CAST(SUM(pv.pq * vp.v) AS BIGINT) // {_MK_SCALE}, 0)
               AS v
    FROM vst vs
    LEFT JOIN pv pc ON pc.rm = vs.rm AND pc.src = vs.state
                   AND pc.dst = 'CONV'
    LEFT JOIN pv ON pv.rm = vs.rm AND pv.src = vs.state
                AND pv.dst <> 'CONV'
    LEFT JOIN {prev} vp ON vp.rm = pv.rm AND vp.state = pv.dst
    GROUP BY vs.rm, vs.state
)"""


def _markov_sql() -> str:
    iters = ",".join(_mk_iter_sql(f"v{i - 1}", i)
                     for i in range(1, _MK_UPDATES + 1))
    touch_vals = ",".join(f"('{t}')" for t in TOUCH_STATES)
    share = sql_fround(
        "CAST(removal_effect_q AS DOUBLE)"
        " / CAST(SUM(removal_effect_q) OVER () AS DOUBLE)", 6)
    return f"""
WITH ev AS (
    SELECT user_id, event_type, ts, event_id FROM events
    WHERE user_id IS NOT NULL
),
seq0 AS (
    SELECT user_id, event_type,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS BIGINT) AS seq
    FROM ev
),
seqd AS (
    SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN seq END)
                  OVER (PARTITION BY user_id) AS first_p
    FROM seq0
),
touches AS (
    SELECT * FROM seqd WHERE first_p IS NULL OR seq < first_p
),
t1 AS (
    SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id
                                          ORDER BY seq), 'START') AS src,
           event_type AS dst
    FROM touches
),
lastt AS (
    SELECT user_id, arg_max(event_type, seq) AS last_touch
    FROM touches GROUP BY 1
),
pu AS (
    SELECT user_id, MAX(first_p) AS first_p FROM seqd GROUP BY 1
),
t2 AS (
    SELECT COALESCE(l.last_touch, 'START') AS src,
           CASE WHEN p.first_p IS NOT NULL THEN 'CONV'
                ELSE 'NULL' END AS dst
    FROM pu p LEFT JOIN lastt l USING (user_id)
),
trans AS (SELECT src, dst FROM t1 UNION ALL SELECT src, dst FROM t2),
cnt AS (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
    FROM trans GROUP BY 1, 2
),
tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS t FROM cnt GROUP BY 1),
sts AS (SELECT * FROM (VALUES ('START'),{touch_vals}) AS s(state)),
dsts AS (SELECT * FROM (VALUES {touch_vals},('CONV')) AS d(dst)),
p AS (
    SELECT s.state AS src, d.dst,
           CASE WHEN COALESCE(t.t, 0) = 0 THEN 0
                ELSE (COALESCE(c.n, 0) * {_MK_SCALE}) // t.t
           END AS pq
    FROM sts s
    CROSS JOIN dsts d
    LEFT JOIN cnt c ON c.src = s.state AND c.dst = d.dst
    LEFT JOIN tot t ON t.src = s.state
),
vars AS (SELECT * FROM (VALUES ('none'),{touch_vals}) AS v(rm)),
vst AS (SELECT v.rm, s.state FROM vars v JOIN sts s ON s.state <> v.rm),
pv AS (
    SELECT v.rm, p.src, p.dst, p.pq
    FROM vars v JOIN p ON p.src <> v.rm AND p.dst <> v.rm
),
v0 AS (
    SELECT vs.rm, vs.state, COALESCE(pc.pq, 0) AS v
    FROM vst vs
    LEFT JOIN pv pc ON pc.rm = vs.rm AND pc.src = vs.state
                   AND pc.dst = 'CONV'
),
{iters},
base AS (SELECT v FROM v{_MK_UPDATES} WHERE rm = 'none' AND state = 'START'),
fin AS (
    SELECT v.rm AS channel, v.v AS removal_conv_q, b.v AS base_conv_q,
           CASE WHEN b.v > 0
                THEN {_MK_SCALE} - (v.v * {_MK_SCALE}) // b.v
                ELSE 0 END AS removal_effect_q
    FROM v{_MK_UPDATES} v CROSS JOIN base b
    WHERE v.rm <> 'none' AND v.state = 'START'
)
SELECT channel,
       CAST(removal_conv_q AS BIGINT) AS removal_conv_q,
       CAST(base_conv_q AS BIGINT) AS base_conv_q,
       CAST(removal_effect_q AS BIGINT) AS removal_effect_q,
       CASE WHEN SUM(removal_effect_q) OVER () > 0
            THEN {share} END AS attribution_share
FROM fin
ORDER BY channel
"""


EVENTS_MARKOV_ATTRIBUTION_SQL = _markov_sql()

register("events_markov_attribution", events_markov_attribution,
         EVENTS_MARKOV_ATTRIBUTION_SQL)
