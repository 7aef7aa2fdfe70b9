"""A/B experimentation analysis — deterministic hash bucketing, per-
arm conversion funnel, and the two-proportion z-test, as one
registered report (the analysis a growth team runs on the reference's
events stream; bucketing-by-hash and the pooled two-proportion z are
the standard experimentation-platform primitives, e.g. Kohavi et al.,
"Trustworthy Online Controlled Experiments").

Arm assignment hashes a salted user key with sha256 (the engine-
side `sha2` / DuckDB `sha256` idiom of filter_computed_hash,
operators/relational.py:89): the LAST hex nibble's parity splits
users 50/50. Salting by experiment name is what makes consecutive
experiments independent — reusing user_id % 2 would put the same
users in 'A' forever.

Conversion semantics: a user is EXPOSED at their first 'click'
event; they CONVERT if any 'purchase' lands inside the 24-hour
attribution window after exposure (an unbounded window is vacuous on
this domain — virtually every active user purchases eventually; the
bounded window is also what real experiments measure). The exposure
time attaches to each of the user's events via a per-user analytic
min, so one pass computes the windowed flag — no self-join.

Cross-engine determinism: counts are exact longs; rates, lift and
the z statistic are a fixed dag of IEEE ops (divide / multiply /
subtract / sqrt — ALL correctly rounded per IEEE-754, including
sqrt; no libm transcendental anywhere), so doubles match bit-for-bit
and fround is belt-and-braces (compat.py policy).

Scale design (100 TB): one events scan -> per-user partial
aggregation (shuffle on user_id, map-side combined); the per-arm
rollup shuffles 2 rows; the final single-row report joins arms by a
pivot-free conditional aggregation. Nothing downstream of the user
collapse scales with the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog

#: experiment salt — distinct experiments get independent splits
_SALT = "exp-checkout-v1:"

#: two-sided 95% critical value
_Z_CRIT = 1.96

#: attribution window after first exposure
_WINDOW_HOURS = 24

#: hex nibbles that map to arm A (parity of the last sha256 nibble)
_A_NIBBLES = "02468ace"


def _arm():
    return F.when(
        F.substring(F.sha2(F.concat(F.lit(_SALT),
                                    F.col("user_id").cast("string")), 256),
                    64, 1).isin(*_A_NIBBLES),
        F.lit("A")).otherwise(F.lit("B"))


def events_ab_conversion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row experiment readout: per-arm exposed/converted
    counts and rates, absolute and relative lift (B vs A), the pooled
    two-proportion z statistic, and the |z| > 1.96 significance
    flag."""
    from pyspark.sql import Window

    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id")
    per_user = (
        cat.events
        .where(F.col("user_id").isNotNull()
               & F.col("event_type").isin("click", "purchase"))
        .select("user_id", "event_type", "ts")
        .withColumn(
            "first_click",
            F.min(F.when(F.col("event_type") == "click", F.col("ts")))
            .over(w))
        .where(F.col("first_click").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.when((F.col("event_type") == "purchase")
                       & (F.col("ts") >= F.col("first_click"))
                       & (F.col("ts") <= F.col("first_click")
                          + F.expr(f"INTERVAL {_WINDOW_HOURS} HOURS")), 1)
                .otherwise(0)).cast("long").alias("converted"),
        )
        .select(_arm().alias("arm"), "converted")
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    one = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("conv"))).alias("conv_b"),
    )
    ra = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    rb = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pooled = ((F.col("conv_a") + F.col("conv_b")).cast("double")
              / (F.col("n_a") + F.col("n_b")).cast("double"))
    se = F.sqrt(pooled * (F.lit(1.0) - pooled)
                * (F.lit(1.0) / F.col("n_a").cast("double")
                   + F.lit(1.0) / F.col("n_b").cast("double")))
    z = F.when(se > 0, (rb - ra) / se)
    return one.select(
        "n_a", "conv_a", "n_b", "conv_b",
        fround(ra, 9).alias("rate_a"),
        fround(rb, 9).alias("rate_b"),
        fround(rb - ra, 9).alias("abs_lift"),
        fround(F.when(ra > 0, (rb - ra) / ra), 9).alias("rel_lift"),
        fround(z, 9).alias("z_score"),
        (F.abs(F.coalesce(z, F.lit(0.0))) > F.lit(_Z_CRIT))
        .alias("significant"),
    )


EVENTS_AB_SQL = f"""
WITH flagged AS (
    SELECT user_id, event_type, ts,
           MIN(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id) AS first_click
    FROM events
    WHERE user_id IS NOT NULL AND event_type IN ('click', 'purchase')
),
per_user AS (
    SELECT user_id,
           CAST(MAX(CASE WHEN event_type = 'purchase'
                          AND ts >= first_click
                          AND ts <= first_click
                              + INTERVAL {_WINDOW_HOURS} HOUR
                         THEN 1 ELSE 0 END) AS BIGINT) AS converted
    FROM flagged
    WHERE first_click IS NOT NULL
    GROUP BY 1
),
assigned AS (
    SELECT CASE WHEN substr(sha256('{_SALT}' || CAST(user_id AS VARCHAR)),
                            64, 1) IN
                ('0','2','4','6','8','a','c','e')
                THEN 'A' ELSE 'B' END AS arm,
           converted
    FROM per_user
),
arms AS (
    SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(converted) AS BIGINT) AS conv
    FROM assigned GROUP BY 1
),
one AS (
    SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS n_a,
           MAX(CASE WHEN arm = 'A' THEN conv END) AS conv_a,
           MAX(CASE WHEN arm = 'B' THEN n END) AS n_b,
           MAX(CASE WHEN arm = 'B' THEN conv END) AS conv_b
    FROM arms
)
SELECT n_a, conv_a, n_b, conv_b,
       {sql_fround('CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)', 9)}
           AS rate_a,
       {sql_fround('CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)', 9)}
           AS rate_b,
       {sql_fround('CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)'
                   ' - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)', 9)}
           AS abs_lift,
       {sql_fround(
           'CASE WHEN conv_a > 0 THEN'
           ' (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)'
           '  - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))'
           ' / (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)) END', 9)}
           AS rel_lift,
       {sql_fround(
           'CASE WHEN SQRT((CAST(conv_a + conv_b AS DOUBLE)'
           '   / CAST(n_a + n_b AS DOUBLE))'
           '  * (1.0 - CAST(conv_a + conv_b AS DOUBLE)'
           '     / CAST(n_a + n_b AS DOUBLE))'
           '  * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))'
           ' > 0 THEN'
           ' (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)'
           '  - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))'
           ' / SQRT((CAST(conv_a + conv_b AS DOUBLE)'
           '   / CAST(n_a + n_b AS DOUBLE))'
           '  * (1.0 - CAST(conv_a + conv_b AS DOUBLE)'
           '     / CAST(n_a + n_b AS DOUBLE))'
           '  * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))'
           ' END', 9)} AS z_score,
       ABS(COALESCE(
           CASE WHEN SQRT((CAST(conv_a + conv_b AS DOUBLE)
               / CAST(n_a + n_b AS DOUBLE))
              * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE))
              * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
             > 0 THEN
             (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
              - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
             / SQRT((CAST(conv_a + conv_b AS DOUBLE)
               / CAST(n_a + n_b AS DOUBLE))
              * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE))
              * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
           END, 0.0)) > {_Z_CRIT} AS significant
FROM one
"""

register("events_ab_conversion_report", events_ab_conversion_report,
         EVENTS_AB_SQL)


# ---------------------------------------------------------------------------
# CUPED — variance-reduced experiment readout (Controlled-experiment
# Using Pre-Experiment Data; Deng, Xu, Kohavi & Walker, WSDM 2013).
# The adjusted metric y' = y - theta * (x - E[x]) with
# theta = cov(x, y) / var(x) removes the variance explained by the
# pre-experiment covariate, shrinking confidence intervals without
# biasing the treatment effect (x predates assignment, so E[x|arm]
# is equal in expectation). theta comes from the POOLED population —
# the standard practice that keeps the estimator unbiased under the
# null. The same report carries the sample-ratio-mismatch (SRM)
# chi-square — the first sanity gate any experiment platform applies
# before trusting a readout.
#
# Scale design: one events scan -> per-user (x, y) partials (shuffle
# on user_id, map-side combined), then a SINGLE global aggregation
# computes every sufficient sum — pooled AND per-arm via conditional
# terms — so the model solve is one row. The sufficient sums are the
# regression.py discipline: exact integer value-hundredths summed as
# DECIMAL(38,0) (DuckDB: HUGEINT), the closed forms a fixed dag of
# IEEE ops on identical doubles.

#: experiment-period split: events before this are the pre-period
_PERIOD_SPLIT = "2024-01-15"

#: SRM alarm threshold: chi-square(1 dof) at p ~ 0.001
_SRM_CHI2 = 10.83


def events_ab_cuped_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row CUPED readout: per-arm counts and raw means of the
    experiment-period purchase value, pooled theta and rho-squared
    (the variance-reduction fraction), adjusted means and lift, and
    the SRM chi-square gate."""
    cat = Catalog(spark, sf_dir)
    vq = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    pre = F.col("ts") < F.lit(_PERIOD_SPLIT).cast("timestamp")
    per_user = (
        cat.events
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.when(pre, vq)), F.lit(0))
            .cast("long").alias("x"),
            F.coalesce(F.sum(F.when((~pre)
                                    & (F.col("event_type") == "purchase"),
                                    vq)), F.lit(0))
            .cast("long").alias("y"),
        )
        .select(_arm().alias("arm"), "x", "y")
    )
    a = F.col("arm") == "A"
    dec = "decimal(38,0)"
    sums = per_user.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x").cast(dec) * F.col("x").cast(dec))).alias("sxx"),
        F.sum((F.col("x").cast(dec) * F.col("y").cast(dec))).alias("sxy"),
        F.sum((F.col("y").cast(dec) * F.col("y").cast(dec))).alias("syy"),
        F.sum(F.when(a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(a, F.col("x")).otherwise(0)).cast("long").alias("sx_a"),
        F.sum(F.when(a, F.col("y")).otherwise(0)).cast("long").alias("sy_a"),
        F.sum(F.when(~a, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(~a, F.col("x")).otherwise(0)).cast("long").alias("sx_b"),
        F.sum(F.when(~a, F.col("y")).otherwise(0)).cast("long").alias("sy_b"),
    )

    def d(c: str):
        return F.col(c).cast("double")

    n, sx, sy = d("n"), d("sx"), d("sy")
    var_x = n * d("sxx") - sx * sx
    var_y = n * d("syy") - sy * sy
    cov = n * d("sxy") - sx * sy
    theta = F.when(var_x > 0, cov / var_x)
    rho2 = F.when((var_x > 0) & (var_y > 0), cov * cov / (var_x * var_y))
    # empty-population guards: n_a/n_b are conditional COUNTS (0 when
    # an arm is empty, not NULL), so the per-arm mean divisions would
    # be runtime DIVIDE_BY_ZERO crashes under Spark-4 ANSI semantics
    # on a corpus whose users all hash to one arm — NULL means/lifts
    # /SRM instead (the kw_fold ANSI finding applied family-wide)
    mean_x = F.when(n > 0, sx / n)
    th = F.coalesce(theta, F.lit(0.0))
    mean_y_a = F.when(d("n_a") > 0, d("sy_a") / d("n_a"))
    mean_y_b = F.when(d("n_b") > 0, d("sy_b") / d("n_b"))
    adj_a = mean_y_a - th * (F.when(d("n_a") > 0, d("sx_a") / d("n_a"))
                             - mean_x)
    adj_b = mean_y_b - th * (F.when(d("n_b") > 0, d("sx_b") / d("n_b"))
                             - mean_x)
    nd = d("n_a") - d("n_b")
    srm = F.when(d("n_a") + d("n_b") > 0,
                 nd * nd / (d("n_a") + d("n_b")))
    cur = F.lit(100.0)
    return sums.select(
        "n_a", "n_b",
        fround(mean_y_a / cur, 6).alias("mean_y_a"),
        fround(mean_y_b / cur, 6).alias("mean_y_b"),
        fround(theta, 9).alias("theta"),
        fround(rho2, 9).alias("rho2"),
        fround(adj_a / cur, 6).alias("mean_y_a_adj"),
        fround(adj_b / cur, 6).alias("mean_y_b_adj"),
        fround((mean_y_b - mean_y_a) / cur, 6).alias("abs_lift_raw"),
        fround((adj_b - adj_a) / cur, 6).alias("abs_lift_adj"),
        fround(srm, 9).alias("srm_chi2"),
        (srm <= F.lit(_SRM_CHI2)).alias("srm_ok"),
    )


EVENTS_AB_CUPED_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '{_PERIOD_SPLIT}'
                THEN CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) END), 0)
               AS BIGINT) AS x,
           CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '{_PERIOD_SPLIT}'
                     AND event_type = 'purchase'
                THEN CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) END), 0)
               AS BIGINT) AS y
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
assigned AS (
    SELECT CASE WHEN substr(sha256('{_SALT}' || CAST(user_id AS VARCHAR)),
                            64, 1) IN
                ('0','2','4','6','8','a','c','e')
                THEN 'A' ELSE 'B' END AS arm, x, y
    FROM per_user
),
sums AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS DOUBLE)
               AS sxx,
           CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE)
               AS sxy,
           CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE)
               AS syy,
           CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
           CAST(SUM(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS DOUBLE)
               AS sx_a,
           CAST(SUM(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS DOUBLE)
               AS sy_a,
           CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
           CAST(SUM(CASE WHEN arm = 'B' THEN x ELSE 0 END) AS DOUBLE)
               AS sx_b,
           CAST(SUM(CASE WHEN arm = 'B' THEN y ELSE 0 END) AS DOUBLE)
               AS sy_b
    FROM assigned
),
m AS (
    SELECT *,
           (n * sxx - sx * sx) AS var_x,
           (n * syy - sy * sy) AS var_y,
           (n * sxy - sx * sy) AS cov,
           CASE WHEN n > 0 THEN sx / n END AS mean_x,
           CASE WHEN n_a > 0 THEN sy_a / CAST(n_a AS DOUBLE) END
               AS mean_y_a,
           CASE WHEN n_b > 0 THEN sy_b / CAST(n_b AS DOUBLE) END
               AS mean_y_b,
           CASE WHEN n_a + n_b > 0 THEN
               CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
               / CAST(n_a + n_b AS DOUBLE) END AS srm
    FROM sums
),
t AS (
    SELECT *,
           CASE WHEN var_x > 0 THEN cov / var_x END AS theta,
           COALESCE(CASE WHEN var_x > 0 THEN cov / var_x END, 0.0) AS th
    FROM m
)
SELECT n_a, n_b,
       {sql_fround('mean_y_a / 100.0', 6)} AS mean_y_a,
       {sql_fround('mean_y_b / 100.0', 6)} AS mean_y_b,
       {sql_fround('theta', 9)} AS theta,
       {sql_fround('CASE WHEN var_x > 0 AND var_y > 0'
                   ' THEN cov * cov / (var_x * var_y) END', 9)} AS rho2,
       {sql_fround('(mean_y_a - th * (CASE WHEN n_a > 0 THEN'
                   ' sx_a / CAST(n_a AS DOUBLE) END'
                   ' - mean_x)) / 100.0', 6)} AS mean_y_a_adj,
       {sql_fround('(mean_y_b - th * (CASE WHEN n_b > 0 THEN'
                   ' sx_b / CAST(n_b AS DOUBLE) END'
                   ' - mean_x)) / 100.0', 6)} AS mean_y_b_adj,
       {sql_fround('(mean_y_b - mean_y_a) / 100.0', 6)} AS abs_lift_raw,
       {sql_fround('((mean_y_b - th * (CASE WHEN n_b > 0 THEN'
                   ' sx_b / CAST(n_b AS DOUBLE) END'
                   ' - mean_x))'
                   ' - (mean_y_a - th * (CASE WHEN n_a > 0 THEN'
                   ' sx_a / CAST(n_a AS DOUBLE) END'
                   ' - mean_x))) / 100.0', 6)} AS abs_lift_adj,
       {sql_fround('srm', 9)} AS srm_chi2,
       srm <= {_SRM_CHI2} AS srm_ok
FROM t
"""

register("events_ab_cuped_report", events_ab_cuped_report,
         EVENTS_AB_CUPED_SQL)


# --------------------------------------------------------------------------
# Mann-Whitney U — the nonparametric member of the experimentation
# family. The two-proportion z (conversion) and CUPED (means) both
# lean on normal-ish aggregates; purchase VALUES are heavy-tailed, and
# the rank-sum test is the standard robust readout for "did arm B
# shift the spend distribution?" without a distributional assumption.
# --------------------------------------------------------------------------

def events_ab_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row Mann-Whitney U (Wilcoxon rank-sum) report on
    per-purchase spend by experiment arm, with the tie-corrected
    normal approximation.

    Exact-integer rank algebra: spend is bucketed to whole dollars
    (cents DIV 100 — deliberate: real spend data is tie-heavy, and
    bucketing keeps the tie-correction branch non-vacuous on every
    scale factor), then ranks are computed PER DISTINCT VALUE from
    the grouped histogram, never per row. With cb = count of rows
    below a value and c its tie-group size, every row in the group
    has average rank (cb+1 + cb+c)/2, so the DOUBLED average rank
    d = 2*cb + c + 1 is an exact BIGINT and the doubled rank sum
    2*R_B = sum(cnt_b * d) stays exact — no half-integer ever
    materializes. U_B follows as 2*U_B = 2*R_B - n_b*(n_b+1).

    Tie-corrected variance (Lehmann): sigma^2 = n_a*n_b/12 *
    ((N+1) - T/(N*(N-1))) with T = sum over tie groups of (c^3 - c);
    z = (2U_B - n_a*n_b) / (2*sigma). The integer aggregates (n_a,
    n_b, 2R_B, T) are exact longs; z is a fixed dag of IEEE ops
    (* / - sqrt, all correctly rounded — no transcendental), fround'd
    to 6dp (compat.py policy). No continuity correction (documented
    choice, applied identically on both engines).

    Integer headroom: c^3 caps the tie cube at (rows per dollar
    value)^3 — ~1e5 rows/value at sf100 is 1e15, safe; past ~2e6
    rows/value widen T to DECIMAL(38,0) (compat.py escape hatch).

    Scale design (100 TB): one events scan filtered to purchases ->
    groupBy(dollar value): the shuffle is keyed on the VALUE DOMAIN
    (bounded — spend in whole dollars), not on rows; the rank window
    then runs over that bounded histogram (same discipline as the
    length-band / quantile families), and the final fold is a
    single-row aggregation. Nothing after the histogram scales with
    the corpus.
    """
    from pyspark.sql import Window

    cat = Catalog(spark, sf_dir)
    hist = (cat.events
            # NULL-user rows carry no arm assignment — exclude them,
            # matching the rest of the experiment family's population
            # (ADVICE r7: the CASE ELSE would otherwise bucket them
            # into arm B)
            .where(F.col("event_type") == "purchase")
            .where(F.col("user_id").isNotNull())
            .select(F.expr("CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)"
                           " DIV 100").alias("v"),
                    _arm().alias("arm"))
            .groupBy("v")
            .agg(F.count("*").cast("long").alias("cnt"),
                 F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
                 .cast("long").alias("cnt_b")))
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = hist.select(
        "cnt", "cnt_b",
        (F.sum("cnt").over(w) - F.col("cnt")).cast("long").alias("cb"))
    d = F.lit(2) * F.col("cb") + F.col("cnt") + F.lit(1)
    t = (ranked.agg(
            (F.sum("cnt") - F.sum("cnt_b")).cast("long").alias("n_a"),
            F.sum("cnt_b").cast("long").alias("n_b"),
            F.sum(F.col("cnt_b") * d).cast("long").alias("r_b_doubled"),
            F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt")
                  - F.col("cnt")).cast("long").alias("tie_term")))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    nn = na + nb
    u2 = (F.col("r_b_doubled") - F.col("n_b") * (F.col("n_b") + F.lit(1))
          ).cast("long")
    # degenerate-input guards (the kw_fold ADVICE-r7 class applied to
    # its two-sample sibling): nn <= 1 would divide by zero inside the
    # tie fraction (guarded to 0 — tie_term is 0 there anyway), and
    # sigma2 is exactly 0 when every value ties or either arm is empty
    # — z and the verdict are NULL then, not NaN
    tie_frac = F.when(
        nn > F.lit(1.0),
        F.col("tie_term").cast("double") / (nn * (nn - F.lit(1.0)))
    ).otherwise(F.lit(0.0))
    sigma2 = na * nb / F.lit(12.0) * ((nn + F.lit(1.0)) - tie_frac)
    z = F.when(sigma2 > 0,
               (u2.cast("double") - na * nb)
               / (F.lit(2.0) * F.sqrt(sigma2)))
    return (t.select(
                "n_a", "n_b", "r_b_doubled",
                u2.alias("u_b_doubled"), "tie_term",
                fround(z, 6).alias("z"),
                (F.abs(z) > F.lit(_Z_CRIT)).alias("significant")))


EVENTS_AB_MANNWHITNEY_SQL = f"""
WITH hist AS (
    SELECT CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) // 100 AS v,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CASE WHEN substr(sha256('{_SALT}'
                         || CAST(user_id AS VARCHAR)), 64, 1)
                         IN ({", ".join("'" + c + "'" for c in _A_NIBBLES)})
                    THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
    FROM events
    WHERE event_type = 'purchase' AND user_id IS NOT NULL
    GROUP BY 1
),
ranked AS (
    SELECT cnt, cnt_b,
           CAST(SUM(cnt) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - cnt AS BIGINT) AS cb
    FROM hist
),
t AS (
    SELECT CAST(SUM(cnt) - SUM(cnt_b) AS BIGINT) AS n_a,
           CAST(SUM(cnt_b) AS BIGINT) AS n_b,
           CAST(SUM(cnt_b * (2 * cb + cnt + 1)) AS BIGINT)
               AS r_b_doubled,
           CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term
    FROM ranked
),
s AS (
    SELECT n_a, n_b, r_b_doubled, tie_term,
           CAST(r_b_doubled - n_b * (n_b + 1) AS BIGINT) AS u_b_doubled,
           CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
             * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
                - CASE WHEN n_a + n_b > 1 THEN
                    CAST(tie_term AS DOUBLE)
                    / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                       * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                          - 1.0))
                  ELSE 0.0 END) AS sigma2
    FROM t
)
SELECT n_a, n_b, r_b_doubled, u_b_doubled, tie_term,
       {sql_fround('CASE WHEN sigma2 > 0 THEN'
                   ' (CAST(u_b_doubled AS DOUBLE)'
                   ' - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))'
                   ' / (2.0 * SQRT(sigma2)) END', 6)} AS z,
       ABS(CASE WHEN sigma2 > 0 THEN
           (CAST(u_b_doubled AS DOUBLE)
            - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           / (2.0 * SQRT(sigma2)) END) > {_Z_CRIT} AS significant
FROM s
"""

register("events_ab_mannwhitney", events_ab_mannwhitney,
         EVENTS_AB_MANNWHITNEY_SQL)


# --------------------------------------------------------------------------
# General r x c chi-square independence test (type x arm)
# --------------------------------------------------------------------------

#: chi-square upper critical values at p = 0.05 by degrees of
#: freedom — pinned spec constants. dof is computed from the OBSERVED
#: marginals, (n_types-1)*(n_arms-1) (ADVICE r7: a reduced grid, e.g.
#: 2x2, must test against its own dof, not the full 5x2 grid's 4).
#: Arms are structurally <= 2 and TPC-H-ish event types <= 5, so
#: dof <= 4 on driver data; the table extends to 9 for headroom, and
#: dof outside it yields NULL significance rather than a wrong gate.
_CHI2_CRIT: dict[int, float] = {
    1: 3.841, 2: 5.991, 3: 7.815, 4: 9.488, 5: 11.070,
    6: 12.592, 7: 14.067, 8: 15.507, 9: 16.919,
}

#: nano-unit quantization of the per-cell chi-square terms: each term
#: is a deterministic double from exact longs; quantizing before the
#: cell sum keeps the 10-cell aggregation order-independent (the
#: Benford audit's discipline)
_CHI2_Q = 1_000_000_000


def events_type_arm_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is event TYPE independent of experiment ARM? The general r x c
    contingency chi-square beside the 2-cell SRM gate: under the
    salted-hash bucketing the answer must be yes (the null branch is
    live on driver data — a significant result here would mean the
    bucketing correlates with behavior, the alarm every experiment
    platform monitors).

    The contingency grid is COMPLETED before testing: a (type, arm)
    cell with zero observations still contributes (0-E)^2/E —
    dropping absent cells understates the statistic exactly on the
    most dependent inputs (the Benford-audit review finding applied
    here from the start). Expected counts E = row_total*col_total/N
    are deterministic doubles from exact longs; each cell's term is
    quantized to nano-units before the order-independent integer sum.

    Scale: one events scan -> (type, arm) counts (bounded grid);
    marginals and the grid completion are grid-sized broadcasts.
    """
    cat = Catalog(spark, sf_dir)
    cells = (cat.events
             .select("event_type", _arm().alias("arm"))
             .groupBy("event_type", "arm")
             .agg(F.count("*").cast("long").alias("o")))
    rt = cells.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("rt"))
    ct = cells.groupBy("arm").agg(F.sum("o").cast("long").alias("ct"))
    nrow = cells.agg(F.sum("o").cast("long").alias("n"))
    # ct is one row per arm; Catalyst sizes it as the events scan, so
    # without the hint a large scan turns the grid into a cartesian
    grid = (rt.crossJoin(F.broadcast(ct))
            .join(cells, ["event_type", "arm"], "left")
            .select("event_type", "arm", "rt", "ct",
                    F.coalesce(F.col("o"), F.lit(0)).cast("long")
                    .alias("o"))
            .crossJoin(nrow))
    e = (F.col("rt").cast("double") * F.col("ct").cast("double")
         / F.col("n").cast("double"))
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double")
                                              - e) / e
    termq = F.floor(term * F.lit(float(_CHI2_Q)) + F.lit(0.5)).cast("long")
    agg = grid.agg(
        F.max("n").alias("n"),
        F.count("*").cast("long").alias("n_cells"),
        F.countDistinct("event_type").cast("int").alias("n_types"),
        F.countDistinct("arm").cast("int").alias("n_arms"),
        F.sum(termq).cast("long").alias("chi2_scaled"))
    chi2 = F.col("chi2_scaled").cast("double") / F.lit(float(_CHI2_Q))
    # dof from the OBSERVED marginals is meaningless on an empty grid:
    # countDistinct = 0 would report dof = (0-1)*(0-1) = 1 for a table
    # with zero cells (ADVICE r8). NULL it out; chi2/significant are
    # already NULL there, so the whole row degrades consistently.
    dof = F.when(
        F.col("n_cells") > 0,
        ((F.col("n_types") - 1) * (F.col("n_arms") - 1))).cast("int")
    crit = F.lit(None).cast("double")
    for d, c in _CHI2_CRIT.items():
        crit = F.when(dof == d, F.lit(c)).otherwise(crit)
    return agg.select(
        "n", "n_cells",
        dof.alias("dof"),
        "chi2_scaled",
        fround(chi2, 6).alias("chi2"),
        (chi2 > crit).alias("significant"))


EVENTS_TYPE_ARM_CHI2_SQL = f"""
WITH cells AS (
    SELECT event_type,
           CASE WHEN substr(sha256('{_SALT}' || CAST(user_id AS VARCHAR)),
                            64, 1) IN
                ({", ".join("'" + c + "'" for c in _A_NIBBLES)})
                THEN 'A' ELSE 'B' END AS arm,
           CAST(COUNT(*) AS BIGINT) AS o
    FROM events GROUP BY 1, 2
),
rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt
       FROM cells GROUP BY 1),
ct AS (SELECT arm, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
nrow AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
grid AS (
    SELECT r.event_type, c.arm, r.rt, c.ct,
           CAST(COALESCE(x.o, 0) AS BIGINT) AS o, w.n
    FROM rt r CROSS JOIN ct c
    LEFT JOIN cells x ON x.event_type = r.event_type AND x.arm = c.arm
    CROSS JOIN nrow w
),
terms AS (
    SELECT n, event_type, arm,
           CAST(FLOOR(
               (CAST(o AS DOUBLE)
                - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                  / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE)
                  - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                    / CAST(n AS DOUBLE))
               / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                  / CAST(n AS DOUBLE))
               * {_CHI2_Q}.0 + 0.5) AS BIGINT) AS termq
    FROM grid
)
SELECT MAX(n) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(CASE WHEN COUNT(*) > 0
                 THEN (COUNT(DISTINCT event_type) - 1)
                      * (COUNT(DISTINCT arm) - 1)
            END AS INT) AS dof,
       CAST(SUM(termq) AS BIGINT) AS chi2_scaled,
       {sql_fround(f'CAST(CAST(SUM(termq) AS BIGINT) AS DOUBLE)'
                   f' / {_CHI2_Q}.0', 6)} AS chi2,
       CAST(CAST(SUM(termq) AS BIGINT) AS DOUBLE) / {_CHI2_Q}.0
           > (CASE CAST((COUNT(DISTINCT event_type) - 1)
                        * (COUNT(DISTINCT arm) - 1) AS INT)
              {" ".join(f"WHEN {d} THEN {c}"
                        for d, c in _CHI2_CRIT.items())}
              END) AS significant
FROM terms
"""

register("events_type_arm_chi2", events_type_arm_chi2,
         EVENTS_TYPE_ARM_CHI2_SQL)
