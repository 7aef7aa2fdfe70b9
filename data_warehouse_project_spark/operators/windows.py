"""Window-based per-group operators: greatest-per-group and exact
discrete quantiles.

The reference's two correlated subqueries are both "latest per group"
queries in disguise (SURVEY.md §2.5):

- latest payment status per registration: correlated scalar subquery
  `ORDER BY p.payment_date DESC LIMIT 1` (reference db.py:386-390);
- newest registration per (user,event): `registration_id = (SELECT
  MAX(...) ...)` greatest-per-group filter (reference db.py:394-399).

Both decorrelate to `row_number() OVER (PARTITION BY ... ORDER BY ...
DESC) = 1`. These helpers generalize that to the engine's reusable
top-k-per-group operator.

Determinism: MySQL's `LIMIT 1` on ties is nondeterministic; callers
must pass tiebreaker columns so results are reproducible (SURVEY.md
§7.4.5 — an intentional semantic tightening).

Scale notes: row_number over a window is a single shuffle on the
partition keys with no driver materialization; Spark's window exec
sorts within partitions and streams. For heavily skewed groups the
rank-filter pattern still beats a self-join-on-max because it is one
shuffle instead of two. AQE handles partition-count right-sizing.

`disc_quantiles` is the engine's one exact discrete quantile. Its
windows run over a (group, value) count histogram, so they see the
distinct values of each group, never one row per input row.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

_RANK_COL = "__rank"
_Q_VAL, _Q_CNT, _Q_CUM = "__q_v", "__q_c", "__q_cum"


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    k: int = 1,
    rank_col: str | None = None,
) -> DataFrame:
    """Keep the top-k rows of each group, ranked by ``order_by``
    descending.

    ``order_by`` should include a unique tiebreaker as its last column
    for deterministic results.
    """
    desc = [(F.col(c) if isinstance(c, str) else c).desc() for c in order_by]
    w = Window.partitionBy(*partition_by).orderBy(*desc)
    ranked = df.withColumn(_RANK_COL, F.row_number().over(w))
    out = ranked.filter(F.col(_RANK_COL) <= k)
    if rank_col:
        return out.withColumnRenamed(_RANK_COL, rank_col)
    return out.drop(_RANK_COL)


def latest_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Keep exactly the latest row per group (top-1 descending)."""
    return top_k_per_group(df, partition_by, order_by, k=1)


def disc_quantiles(
    df: DataFrame,
    by: Sequence[str],
    v: str,
    qs: Mapping[str, tuple[int, int]],
) -> DataFrame:
    """Exact discrete quantiles of ``v`` per ``by`` group (one row
    overall when ``by`` is empty).

    Each row holds ``by``, the group's row count ``n`` and, for each
    ``out: (num, den)`` in ``qs``, the smallest ``v`` whose cumulative
    count ``cum`` satisfies ``cum * den >= n * num``: the value at
    sorted rank ceil(num * n / den), in integer math both engines
    share (``(1, 2)`` is the lower median, ``(1, 1)`` the maximum).

    The running and total counts are two frames of one window over the
    (``by``, ``v``) count histogram.
    """
    w = Window.partitionBy(*by).orderBy(_Q_VAL)
    hist = (df.groupBy(*by, F.col(v).alias(_Q_VAL))
            .agg(F.count("*").alias(_Q_CNT)))
    ranked = hist.select(
        *by, _Q_VAL,
        F.sum(_Q_CNT).over(w.rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow)).alias(_Q_CUM),
        F.sum(_Q_CNT).over(w.rowsBetween(Window.unboundedPreceding,
                                         Window.unboundedFollowing))
        .alias("n"))
    return ranked.groupBy(*by).agg(
        F.max("n").alias("n"),
        *[F.min(F.when(F.col(_Q_CUM) * den >= F.col("n") * num,
                       F.col(_Q_VAL))).alias(out)
          for out, (num, den) in qs.items()])
