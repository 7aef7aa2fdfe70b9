"""Count-min-sketch heavy hitters — bounded-memory frequency
estimation with a driver-visible accuracy gate (round 7; extends the
index/sketch quality-gate family of ann_recall_floor /
minhash_accuracy_floor / hll_distinct_accuracy_floor).

Why a CMS when exact token counts exist? The exact count table is
vocabulary-sized — fine for this corpus, unbounded at 100 TB of web
text (vocabulary grows with corpus under Heaps' law, and per-batch
exact counts can't be capped without losing tail mass). The CMS is
the standard bounded-state answer: a fixed (d × w) integer matrix
(here 4 × 2048 longs = 64 KiB) that merges by cell-wise addition —
the same mergeable-state discipline as the HLL rollup
(plans/incremental.py) — and answers point queries with one-sided
error: estimate ≥ exact always, overestimate ≤ e·N/w with
probability 1 − e^−d per query (Cormode & Muthukrishnan 2005).

Plan shape: token counts reduce map-side to the vocabulary-keyed
frame ONCE (pinned); the sketch is d shuffles of (seed, bucket, n)
longs — cardinality ≤ d·w regardless of corpus; the heavy-hitter
probe joins the top-K exact rows (bounded) against the d·w-row
sketch. Nothing anywhere is corpus-sized after the first aggregation.

Oracle: xxhash64 bucketing is engine-defined → the heavy-hitter
table registers rows-only; the accuracy FLOOR registers against a
pinned-constant oracle (the minhash_accuracy_floor pattern): the
pipeline is deterministic given the data, so structural truths
(estimate ≥ exact for every probe) and a generous overestimate bound
(5× the ε = e/w theory bound, measured ≥ 20× margin on driver data at
all three sfs) hash-match constants at any tested scale, while any
estimator regression (seed drift, bucket math, merge bug) flips a
boolean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..registry import register
from ..sources.catalog import Catalog
from ..streaming.state_fold import key_split, replay

#: sketch geometry: d hash rows × w buckets (64 KiB of longs)
CMS_D = 4
CMS_W = 2048

#: heavy-hitter probe set: top-K exact tokens
CMS_TOP_K = 30

#: overestimate gate: max_over ≤ CMS_OVER_GATE · N / w — vs the
#: one-query theory bound e·N/w (≈ 2.72·N/w); 5× headroom because the
#: gate must hold over K probes at every sf, deterministically
CMS_OVER_GATE = 14


def _token_counts(docs: DataFrame) -> DataFrame:
    return (docs
            .select(F.explode(F.split(F.trim(F.col("text")), r"\s+"))
                    .alias("token"))
            .groupBy("token")
            .agg(F.count("*").cast("long").alias("n_exact")))


def _bucket(seed: int):
    return F.pmod(F.xxhash64(F.col("token"), F.lit(seed)),
                  F.lit(CMS_W)).cast("long")


def cms_table(counts: DataFrame) -> DataFrame:
    """(seed, bucket, n) sketch cells from a (token, n_exact) count
    frame — ≤ d·w rows by construction, merges with any other batch's
    table by (seed, bucket) addition."""
    per_seed = [
        counts.select(F.lit(s).cast("long").alias("seed"),
                      _bucket(s).alias("bucket"), "n_exact")
        for s in range(CMS_D)
    ]
    u = per_seed[0]
    for p in per_seed[1:]:
        u = u.unionByName(p)
    return (u.groupBy("seed", "bucket")
            .agg(F.sum("n_exact").cast("long").alias("n")))


def _scored_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top-K exact tokens with their CMS estimates: the exact count
    frame is pinned (sketch build + probe set + total all read it)."""
    from ..cache import pin
    counts = pin(_token_counts(Catalog(spark, sf_dir).documents))
    sketch = cms_table(counts)
    top = (counts.orderBy(F.col("n_exact").desc(), F.col("token"))
           .limit(CMS_TOP_K))
    probes_per_seed = [
        top.select("token", "n_exact",
                   F.lit(s).cast("long").alias("seed"),
                   _bucket(s).alias("bucket"))
        for s in range(CMS_D)
    ]
    probes = probes_per_seed[0]
    for p in probes_per_seed[1:]:
        probes = probes.unionByName(p)
    est = (probes.join(F.broadcast(sketch), ["seed", "bucket"])
           .groupBy("token", "n_exact")
           .agg(F.min("n").cast("long").alias("n_est")))
    total = counts.agg(F.sum("n_exact").cast("long").alias("n_total"))
    return est.crossJoin(total).select("token", "n_exact", "n_est",
        (F.col("n_est") - F.col("n_exact")).cast("long")
        .alias("overestimate"),
        "n_total")


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (rows-only: xxhash64 bucketing is
    engine-defined): top-K exact tokens with sketch estimates and
    per-token overestimate."""
    return (_scored_heavy_hitters(spark, sf_dir)
            .select("token", "n_exact", "n_est", "overestimate")
            .orderBy(F.col("n_exact").desc(), "token"))


def cms_accuracy_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible CMS quality gate, pinned-constant oracle: one
    row asserting (a) every probe has estimate ≥ exact (the CMS
    one-sided-error structural guarantee — a violation means the
    sketch math is broken, not that the data changed) and (b) max
    overestimate ≤ CMS_OVER_GATE · N / w (integer-exact compare).
    Measured driver-data margins: zero overestimate on the top-30
    probes at sf0.001, sf0.01 AND sf0.1 (gate headroom at sf0.1:
    1850 tokens); gate ≈ 5× the per-query theory bound."""
    scored = _scored_heavy_hitters(spark, sf_dir)
    return (
        scored.agg(F.count("*").alias("k"),
                   F.min(F.col("n_est") - F.col("n_exact")).alias("min_over"),
                   F.max("overestimate").alias("max_over"),
                   F.max("n_total").alias("n_total"))
        .select(
            F.lit(CMS_D).cast("long").alias("d_rows"),
            F.lit(CMS_W).cast("long").alias("w_buckets"),
            (F.col("k") == CMS_TOP_K).alias("has_k_probes"),
            (F.col("min_over") >= 0).alias("never_underestimates"),
            (F.col("max_over") * CMS_W
             <= F.col("n_total") * CMS_OVER_GATE).alias("max_over_le_gate"),
        )
    )


CMS_ACCURACY_SQL = f"""
SELECT CAST({CMS_D} AS BIGINT) AS d_rows,
       CAST({CMS_W} AS BIGINT) AS w_buckets,
       TRUE AS has_k_probes,
       TRUE AS never_underestimates,
       TRUE AS max_over_le_gate
"""

register("cms_heavy_hitters", cms_heavy_hitters, None)
register("cms_accuracy_floor", cms_accuracy_floor, CMS_ACCURACY_SQL)


def cms_state(batch_docs: DataFrame) -> DataFrame:
    """CMS maintainer state of one batch: ≤ CMS_D·CMS_W (seed, bucket, n)
    rows, whatever the corpus size."""
    return cms_table(_token_counts(batch_docs))


def merge_cms_state(prev: DataFrame, batch_docs: DataFrame) -> DataFrame:
    """Cell-wise addition — the CMS merge is exact (integer sums), so
    the folded sketch is BIT-IDENTICAL to a single-pass build over
    the union (unit-pinned), the same guarantee class as the HLL
    rollup's register-maxima merge."""
    delta = cms_state(batch_docs)
    return (prev.unionByName(delta)
            .groupBy("seed", "bucket")
            .agg(F.sum("n").cast("long").alias("n")))


# --------------------------------------------------------------------------
# CMS inner-product join-size estimation (the AGMS/CMS cardinality
# estimate a cost-based planner uses before committing to a join)
# --------------------------------------------------------------------------

#: inner-product overestimate gate multiplier: slack ≤ GATE · N² / w,
#: vs the one-query theory bound e·N²/w (Cormode & Muthukrishnan §4.2);
#: same 5× headroom policy as CMS_OVER_GATE. Measured driver-data
#: slack sits ON the expected-value line E[slack] ≈ N²/w: 1.09e7
#: observed vs 1.10e7 predicted at sf0.1 (where 15k keys over 2048
#: buckets make collisions dominate — the estimate is 7.6× exact,
#: honest CMS behavior at that key:bucket ratio and still 13×
#: inside the gate), shrinking to +5.7% at sf0.001 where keys ≪ w.
#: A planner wanting tighter joins at 15k+ keys widens w — the knob
#: the geometry constants expose.
JOIN_EST_GATE = 14


def _custkey_counts(orders: DataFrame) -> DataFrame:
    """Per-customer order counts shaped for cms_table reuse
    (delegates to the generic _key_counts below)."""
    return _key_counts(orders, "o_custkey")


def _join_size_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: exact vs CMS-estimated size of the orders⋈orders
    self-join on o_custkey — Σ c_k² (the join-amplification statistic
    join_skew_report profiles exactly) estimated from the 64 KiB
    sketch alone as min over rows of Σ_b cell². The same estimator
    with two different sketches prices any equi-join; the self-join
    keeps the oracle's exact side one aggregate."""
    counts = _custkey_counts(Catalog(spark, sf_dir).orders)
    per_seed = (cms_table(counts)
                .groupBy("seed")
                .agg(F.sum(F.col("n") * F.col("n")).cast("long").alias("ip")))
    # coalesce the empty-input corner (SUM/MIN over zero rows is
    # NULL, which would NULL-poison the floor booleans): an empty
    # orders table prices an empty join as exactly 0
    est = per_seed.agg(F.coalesce(F.min("ip"), F.lit(0)).cast("long")
                       .alias("est_join_size"))
    exact = counts.agg(
        F.coalesce(F.sum(F.col("n_exact") * F.col("n_exact")), F.lit(0))
        .cast("long").alias("exact_join_size"),
        F.coalesce(F.sum("n_exact"), F.lit(0)).cast("long")
        .alias("n_rows"),
        F.count("*").cast("long").alias("n_keys"))
    return exact.crossJoin(est)


def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (rows-only: xxhash64 bucketing is
    engine-defined): exact self-join size, sketch estimate, and the
    collision slack — the planner-facing cardinality report."""
    return _join_size_scored(spark, sf_dir).select(
        "n_rows", "n_keys", "exact_join_size", "est_join_size",
        (F.col("est_join_size") - F.col("exact_join_size")).cast("long")
        .alias("overestimate"))


def join_size_estimate_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible gate, pinned-constant oracle (the
    cms_accuracy_floor pattern): (a) the estimate never underestimates
    — structural for a CMS inner product of a non-negative vector with
    itself, Σ_b(Σ_{k∈b}c_k)² ≥ Σ_k c_k², so a False here means broken
    sketch math, not changed data; (b) collision slack ≤
    JOIN_EST_GATE · N²/w (integer-exact cross-multiplied compare).
    Any seed/bucket/merge regression flips a boolean at every sf."""
    return (_join_size_scored(spark, sf_dir)
            .select(
                F.lit(CMS_D).cast("long").alias("d_rows"),
                F.lit(CMS_W).cast("long").alias("w_buckets"),
                (F.col("est_join_size") >= F.col("exact_join_size"))
                .alias("never_underestimates"),
                ((F.col("est_join_size") - F.col("exact_join_size"))
                 * F.lit(CMS_W)
                 <= F.col("n_rows") * F.col("n_rows")
                 * F.lit(JOIN_EST_GATE)).alias("slack_le_gate"),
            ))


JOIN_SIZE_FLOOR_SQL = f"""
SELECT CAST({CMS_D} AS BIGINT) AS d_rows,
       CAST({CMS_W} AS BIGINT) AS w_buckets,
       TRUE AS never_underestimates,
       TRUE AS slack_le_gate
"""

register("join_size_estimate", join_size_estimate, None)
register("join_size_estimate_floor", join_size_estimate_floor,
         JOIN_SIZE_FLOOR_SQL)


def _key_counts(df: DataFrame, key: str) -> DataFrame:
    """Per-key row counts shaped for cms_table reuse."""
    return (df.groupBy(F.col(key).cast("string").alias("token"))
            .agg(F.count("*").cast("long").alias("n_exact")))


def _equijoin_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: exact vs CMS-estimated size of orders ⋈ events on
    o_custkey = user_id — the TWO-relation form of the estimator (the
    self-join variant above prices amplification; this prices a real
    cross-fact equi-join from two independently built 64 KiB sketches
    that never see each other's rows until the d·w-cell cell-product
    — exactly how a planner with per-table sketch statistics prices a
    join it has never executed)."""
    from ..cache import pin
    cat = Catalog(spark, sf_dir)
    oc = pin(_key_counts(cat.orders, "o_custkey"))
    ec = pin(_key_counts(cat.events, "user_id"))
    # inner join on (seed, bucket): a seed with ZERO overlapping cells
    # drops out rather than contributing ip=0. One-sidedness is
    # unaffected — a zero-overlap seed can only exist when the true
    # join is empty, and the COALESCEd est/exact price that corner as
    # 0 ≥ 0 (review round 2: SUM/MIN over empty frames are NULL, which
    # would otherwise NULL-poison the floor booleans on disjoint key
    # spaces — unit-tested below with a disjoint planted pair). When
    # exact > 0 every seed shares at least the common keys' buckets,
    # so all d rows appear and est = min over all d inner products.
    per_seed = (
        cms_table(oc).withColumnRenamed("n", "na")
        .join(cms_table(ec).withColumnRenamed("n", "nb"),
              ["seed", "bucket"])
        .groupBy("seed")
        .agg(F.sum(F.col("na") * F.col("nb")).cast("long").alias("ip")))
    est = per_seed.agg(F.coalesce(F.min("ip"), F.lit(0)).cast("long")
                       .alias("est_join_size"))
    exact = (
        oc.withColumnRenamed("n_exact", "na")
        .join(ec.withColumnRenamed("n_exact", "nb"), "token")
        .agg(F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
             .cast("long").alias("exact_join_size")))
    totals = oc.agg(F.sum("n_exact").cast("long").alias("n_orders")) \
        .crossJoin(ec.agg(F.sum("n_exact").cast("long").alias("n_events")))
    return (totals.crossJoin(exact)
            .crossJoin(est))


def equijoin_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (rows-only: xxhash64 bucketing is
    engine-defined): exact orders⋈events join size vs the two-sketch
    estimate and the collision slack."""
    return _equijoin_scored(spark, sf_dir).select(
        "n_orders", "n_events", "exact_join_size", "est_join_size",
        (F.col("est_join_size") - F.col("exact_join_size")).cast("long")
        .alias("overestimate"))


def equijoin_size_estimate_floor(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Driver-visible gate, pinned-constant oracle: the CMS inner
    product of two non-negative key-frequency vectors never
    underestimates the true join size (Σ_b(Σ_{k∈b}a_k)(Σ_{k∈b}b_k) ≥
    Σ_k a_k·b_k), and collision slack ≤ JOIN_EST_GATE · Na·Nb / w
    (integer-exact cross-multiplied compare; theory bound e·Na·Nb/w)."""
    return (_equijoin_scored(spark, sf_dir)
            .select(
                F.lit(CMS_D).cast("long").alias("d_rows"),
                F.lit(CMS_W).cast("long").alias("w_buckets"),
                (F.col("est_join_size") >= F.col("exact_join_size"))
                .alias("never_underestimates"),
                ((F.col("est_join_size") - F.col("exact_join_size"))
                 * F.lit(CMS_W)
                 <= F.col("n_orders") * F.col("n_events")
                 * F.lit(JOIN_EST_GATE)).alias("slack_le_gate"),
            ))


register("equijoin_size_estimate", equijoin_size_estimate, None)
register("equijoin_size_estimate_floor", equijoin_size_estimate_floor,
         JOIN_SIZE_FLOOR_SQL)


# --------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-value sketches — mergeable set-
# operation cardinality (Beyer, Haas, Reinwald, Sismanis, Gemulla,
# SIGMOD 2007). Completes the sketch family: HLL answers "how many
# distinct" (plans/incremental.py), CMS answers "how often / how big
# a join" (above), MinHash answers "how similar are two documents"
# (llm/dedup.py) — KMV answers "how big is the INTERSECTION / UNION
# of two distinct-sets" from k-row summaries, without the exact
# distinct self-join. Application here: year-over-year returning-
# customer overlap on orders — each year's distinct o_custkey set is
# summarized by its k smallest xxhash64 values; |A∪B| and |A∩B| for
# consecutive years come from merging two k-row sketches.
#
# Plan shape (the part that must survive 100 TB): the only corpus-
# sized shuffle is the distinct (year, hash) dedup — the same shuffle
# class as ANY distinct count, with map-side partial aggregation.
# Truncation is two-level so no single task ever sorts a year's full
# hash set: level 1 takes bottom-k per (year, salt) over KMV_SALT
# salt buckets (bounded window partitions), level 2 takes bottom-k of
# the ≤ SALT·k survivors. Level-2 output ≡ true global bottom-k: any
# of a year's k smallest hashes is necessarily among the k smallest
# of its own salt bucket. After truncation EVERYTHING downstream
# (per-year estimates, all pairwise union/intersection estimates) is
# arithmetic over ≤ k rows per group — the sketch is built once and
# prices any number of overlap questions without rescanning orders,
# and merges across batches/partitions by "union hashes, re-truncate"
# (same mergeable-state discipline as the HLL/CMS maintainers).
#
# Estimator (all IEEE-exact +,/ on doubles — no libm call, so none of
# the cross-platform log2 rounding residual documented in
# functions/compat.py): map h ∈ [-2^63, 2^63) to u ∈ (0, 1] via
# u = (h + 2^63 + 2^11) / 2^64 — the 2^11 is exactly one ulp at that
# magnitude (a literal +1 would be absorbed), keeping u > 0 even at
# the h = −2^63 corner at a bias of 2^−53, orders below estimator
# noise; with the k-th smallest value u_k,
#   n̂ = (k − 1) / u_k            (unbiased; RSE ≈ 1/√(k−2))
# and for two sketches, with K = bottom-k of the merged hash set,
#   ρ̂ = |{h ∈ K : h ∈ both sketches}| / |K|,   |A∩B|̂ = ρ̂ · |A∪B|̂.
# A group with fewer than k distinct values keeps them all and
# reports the exact count (the estimate degrades gracefully to
# exact). On driver data every year is saturated at every sf
# (85–120 / ~1 170 / ~11 700 distinct customers per year vs k = 64),
# so the estimator path — not the fallback — is what the gates probe.
#
# Oracle: xxhash64 is engine-defined → the overlap report registers
# rows-only; the accuracy FLOOR registers against a pinned-constant
# oracle (cms_accuracy_floor pattern): deterministic pipeline + fixed
# data ⇒ structural truths (sketch size ≤ k, intersection ≤ union,
# pair count = years − 1) and generous measured-margin error gates
# hash-match constants, while any estimator regression (hash drift,
# truncation bug, merge bug, u-mapping slip) flips a boolean.
# --------------------------------------------------------------------------

#: sketch size: k smallest hash values per group. 64 keeps every
#: driver-data year saturated at sf0.001 (min 85 distinct) so the
#: gates exercise the estimator, not the exact fallback.
KMV_K = 64

#: level-1 truncation fan-out (bounds any single window partition)
KMV_SALT = 16

#: per-year distinct-count gate: max relative error ≤ 45% — vs the
#: k=64 theory RSE of 1/√62 ≈ 12.7% (3.5σ headroom, so the gate
#: survives a driver testdata regeneration re-rolling the hash draws:
#: P(any of 7 years exceeding 3.5σ) ≲ 0.2%); measured driver-data max
#: across all years: 12.7% (sf0.001), 24.3% (sf0.01), 16.2% (sf0.1)
KMV_DIST_GATE_PCT = 45

#: pairwise-intersection gate: max relative error ≤ 60% — the ρ̂
#: binomial noise (RSE ≈ √((1−ρ)/(ρk)) ≈ 8% at ρ≈0.66) stacks on the
#: union estimate's ~12.7%, giving ~15% combined per-pair σ (4σ
#: headroom); measured driver-data max across all consecutive-year
#: pairs: 19.0% (sf0.001), 30.1% (sf0.01), 13.5% (sf0.1)
KMV_INTER_GATE_PCT = 60


def _kmv_u(hcol):
    """h ∈ [-2^63, 2^63) → u ∈ (0, 1], order-preserving. The 2^11
    offset is one double-ulp at 2^63 (see section comment)."""
    return ((hcol.cast("double") + F.lit(float(2 ** 63) + 2048.0))
            / F.lit(float(2 ** 64)))


def kmv_sketch(df: DataFrame, group_col, key_col) -> DataFrame:
    """(g, h, r): the k = KMV_K smallest distinct xxhash64(key) per
    group, rank-ordered. Two-level truncation (see section comment) so
    no window partition exceeds the salt bucket's share of one group's
    distinct set."""
    d = (df.select(F.col(group_col).cast("long").alias("g"),
                   F.xxhash64(F.col(key_col).cast("string")).alias("h"))
         .distinct()
         .withColumn("s", F.pmod(F.col("h"), F.lit(KMV_SALT))))
    w1 = Window.partitionBy("g", "s").orderBy("h")
    lvl1 = (d.withColumn("r1", F.row_number().over(w1))
            .filter(F.col("r1") <= KMV_K).drop("r1", "s"))
    w2 = Window.partitionBy("g").orderBy("h")
    return (lvl1.withColumn("r", F.row_number().over(w2))
            .filter(F.col("r") <= KMV_K))


def kmv_estimates(sketch: DataFrame) -> DataFrame:
    """(g, kk, est): distinct-count estimate per group — (k−1)/u_k
    when the sketch is saturated, the exact kept-row count when the
    whole set fit."""
    return (sketch.groupBy("g")
            .agg(F.count("*").alias("kk"), F.max("h").alias("hk"))
            .select("g", "kk",
                    F.when(F.col("kk") < KMV_K,
                           F.col("kk").cast("double"))
                    .otherwise(F.lit(float(KMV_K - 1))
                               / _kmv_u(F.col("hk")))
                    .alias("est")))


def kmv_pair_estimates(sketch: DataFrame) -> DataFrame:
    """(p, kk, n_both, est_union, est_inter) for every consecutive
    group pair (p, p+1) where both groups exist: merge the two k-row
    sketches, re-truncate to bottom-k (≡ the union's true sketch),
    and apply the ρ̂ intersection estimator. Work per pair is ≤ 2k
    rows end-to-end."""
    a = sketch.select(F.col("g").alias("p"), "h",
                      F.lit(1).alias("ia"), F.lit(0).alias("ib"))
    b = sketch.select((F.col("g") - 1).alias("p"), "h",
                      F.lit(0).alias("ia"), F.lit(1).alias("ib"))
    groups = sketch.select("g").distinct()
    valid = (groups.join(
        groups.select((F.col("g") - 1).alias("g")), "g")
        .select(F.col("g").alias("p")))
    merged = (a.unionByName(b)
              .join(F.broadcast(valid), "p")
              .groupBy("p", "h")
              .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib")))
    w = Window.partitionBy("p").orderBy("h")
    trunc = (merged.withColumn("r", F.row_number().over(w))
             .filter(F.col("r") <= KMV_K))
    agg = (trunc.groupBy("p")
           .agg(F.count("*").alias("kk"), F.max("h").alias("hk"),
                F.sum(F.col("ia") * F.col("ib")).cast("long")
                .alias("n_both")))
    est_union = F.when(F.col("kk") < KMV_K, F.col("kk").cast("double")) \
        .otherwise(F.lit(float(KMV_K - 1)) / _kmv_u(F.col("hk")))
    return agg.select(
        "p", "kk", "n_both", est_union.alias("est_union"),
        (F.col("n_both") / F.col("kk") * est_union).alias("est_inter"))


def _kmv_year_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = Catalog(spark, sf_dir).orders
    return kmv_sketch(
        orders.select(F.year("o_orderdate").alias("y"), "o_custkey"),
        "y", "o_custkey")


def kmv_customer_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (rows-only: xxhash64 is engine-defined):
    year-over-year returning-customer overlap priced entirely from
    k-row sketches — per consecutive year pair, the estimated union,
    intersection, and Jaccard (ppm) of the two years' distinct
    customer sets."""
    from ..cache import pin
    sketch = pin(_kmv_year_sketch(spark, sf_dir))
    per_year = kmv_estimates(sketch)
    pairs = kmv_pair_estimates(sketch)
    return (pairs
            .join(per_year.select(F.col("g").alias("p"),
                                  F.col("est").alias("est_a")), "p")
            .join(per_year.select((F.col("g") - 1).alias("p"),
                                  F.col("est").alias("est_b")), "p")
            .select(F.col("p").cast("long").alias("year_a"),
                    (F.col("p") + 1).cast("long").alias("year_b"),
                    F.round("est_a").cast("long").alias("est_distinct_a"),
                    F.round("est_b").cast("long").alias("est_distinct_b"),
                    F.round("est_union").cast("long").alias("est_union"),
                    F.round("est_inter").cast("long")
                    .alias("est_intersection"),
                    F.round(F.col("n_both") / F.col("kk") * 1e6)
                    .cast("long").alias("est_jaccard_ppm"))
            .orderBy("year_a"))


def kmv_accuracy_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible KMV quality gate, pinned-constant oracle: one
    row asserting (a) every per-year sketch holds ≤ k rows (truncation
    discipline), (b) every consecutive-year pair is priced and
    intersection ≤ union (ρ̂ ≤ 1 structurally), (c) max per-year
    distinct-count relative error ≤ KMV_DIST_GATE_PCT %, and (d) max
    pairwise-intersection relative error ≤ KMV_INTER_GATE_PCT %.
    Exact sides are one distinct + one self-join on the 7-year
    distinct frame — SQL-expressible, so only the gates' truth values
    are pinned. Measured margins in the section constants; every
    arithmetic step is IEEE-exact +,/ so the booleans carry no
    cross-libm rounding residual."""
    from ..cache import pin
    orders = Catalog(spark, sf_dir).orders
    d = pin(orders.select(F.year("o_orderdate").cast("long").alias("y"),
                          "o_custkey").distinct())
    exact_year = d.groupBy("y").agg(F.count("*").cast("long").alias("n"))
    exact_pair = (d.join(d.select((F.col("y") - 1).alias("y"),
                                  "o_custkey"),
                         ["y", "o_custkey"])
                  .groupBy("y")
                  .agg(F.count("*").cast("long").alias("n_inter")))
    sketch = pin(_kmv_year_sketch(spark, sf_dir))
    year_err = (kmv_estimates(sketch)
                .join(exact_year, F.col("g") == F.col("y"))
                .select((F.abs(F.col("est") - F.col("n")) / F.col("n"))
                        .alias("rel_err"), "kk"))
    pair_err = (kmv_pair_estimates(sketch)
                .join(exact_pair, F.col("p") == F.col("y"))
                .select((F.abs(F.col("est_inter") - F.col("n_inter"))
                         / F.col("n_inter")).alias("rel_err"),
                        (F.col("est_inter") <= F.col("est_union"))
                        .alias("ile")))
    n_years = exact_year.agg(F.count("*").alias("ny"))
    ya = year_err.agg(F.max("rel_err").alias("dmax"),
                      F.max("kk").alias("kmax"),
                      F.count("*").alias("nyr"))
    pa = pair_err.agg(F.max("rel_err").alias("imax"),
                      F.min(F.col("ile").cast("int")).alias("ile_min"),
                      F.count("*").alias("npair"))
    return (n_years.crossJoin(F.broadcast(ya)).crossJoin(F.broadcast(pa))
            .select(
                F.lit(KMV_K).cast("long").alias("k"),
                (F.col("kmax") <= KMV_K).alias("sketch_bounded"),
                ((F.col("nyr") == F.col("ny"))
                 & (F.col("npair") == F.col("ny") - 1))
                .alias("all_groups_priced"),
                (F.col("ile_min") == 1).alias("inter_le_union"),
                (F.col("dmax") * 100 <= KMV_DIST_GATE_PCT)
                .alias("dist_err_le_gate"),
                (F.col("imax") * 100 <= KMV_INTER_GATE_PCT)
                .alias("inter_err_le_gate"),
            ))


KMV_ACCURACY_SQL = f"""
SELECT CAST({KMV_K} AS BIGINT) AS k,
       TRUE AS sketch_bounded,
       TRUE AS all_groups_priced,
       TRUE AS inter_le_union,
       TRUE AS dist_err_le_gate,
       TRUE AS inter_err_le_gate
"""

register("kmv_customer_overlap", kmv_customer_overlap, None)
register("kmv_accuracy_floor", kmv_accuracy_floor, KMV_ACCURACY_SQL)


def kmv_state(batch_orders: DataFrame) -> DataFrame:
    """KMV maintainer state of one batch: ≤ KMV_K (g, h, r) rows per
    order year."""
    return kmv_sketch(
        batch_orders.select(F.year("o_orderdate").alias("y"),
                            "o_custkey"),
        "y", "o_custkey")


def merge_kmv_state(prev: DataFrame, batch_orders: DataFrame) -> DataFrame:
    """Union hashes, re-truncate — the KMV merge is EXACT: any of the
    union's k smallest distinct hashes is necessarily among the k
    smallest of whichever side it arrived in, so
    bottom-k(bottom-k(A) ∪ bottom-k(B)) = bottom-k(A ∪ B) and the
    folded sketch is BIT-IDENTICAL to a single-pass build over all
    history (unit-pinned) — the same guarantee class as the CMS
    cell-addition and HLL register-maxima merges."""
    merged = (prev.select("g", "h")
              .unionByName(kmv_state(batch_orders).select("g", "h"))
              .distinct())
    w = Window.partitionBy("g").orderBy("h")
    return (merged.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= KMV_K))


def _frames_identical(a: DataFrame, b: DataFrame):
    """1-row frame with a TRUE iff the two frames hold exactly the
    same multiset of rows (symmetric exceptAll emptiness)."""
    return (a.exceptAll(b).agg(F.count("*").alias("x"))
            .crossJoin(b.exceptAll(a).agg(F.count("*").alias("y")))
            .select(((F.col("x") == 0) & (F.col("y") == 0)).alias("ok")))


def sketch_fold_identity_floor(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Driver-visible merge-exactness gate for every mergeable sketch
    in the engine, pinned-constant oracle: split each input table in
    half by a deterministic key predicate, fold half 2 into half 1's
    sketch with the SAME merge the streaming maintainers run, and
    assert the folded sketch is row-for-row identical to a single-pass
    build over the whole table — CMS (cell addition), KMV (union +
    re-truncate), Bloom (set-bit union). The unit suite pins these on
    planted fixtures; this gate re-proves them on the driver's own
    data in the driver's own environment, so a merge regression (or
    an engine-version change in hashing/aggregation) flips a boolean
    in CORRECTNESS rather than only failing CI."""
    from ..operators.bloom import bloom_state, merge_bloom_state
    cat = Catalog(spark, sf_dir)

    def fold_ok(df, key, init, merge, out):
        return _frames_identical(
            replay(key_split(df, F.col(key), 2), init, merge), init(df)) \
            .withColumnRenamed("ok", out)

    cms_ok = fold_ok(cat.documents, "doc_id", cms_state, merge_cms_state,
                     "cms_fold_identical")
    kmv_ok = fold_ok(cat.orders, "o_orderkey", kmv_state, merge_kmv_state,
                     "kmv_fold_identical")
    bloom_ok = fold_ok(cat.part, "p_partkey", bloom_state,
                       merge_bloom_state, "bloom_fold_identical")

    return (cms_ok.crossJoin(kmv_ok)
            .crossJoin(F.broadcast(bloom_ok)))


SKETCH_FOLD_IDENTITY_SQL = """
SELECT TRUE AS cms_fold_identical,
       TRUE AS kmv_fold_identical,
       TRUE AS bloom_fold_identical
"""

register("sketch_fold_identity_floor", sketch_fold_identity_floor,
         SKETCH_FOLD_IDENTITY_SQL)

# --------------------------------------------------------------------------
# Misra-Gries mergeable heavy-hitters summary (deterministic bounds)
# --------------------------------------------------------------------------

#: Misra-Gries summary size: ≤ MG_K (token, weight) rows survive any
#: reduce, and every estimate underestimates by at most
#: (N − S) / (MG_K + 1)
MG_K = 20


def mg_reduce(weights: DataFrame, k: int = MG_K) -> DataFrame:
    """Misra-Gries reduction of a (token, weight: long) frame to ≤ k
    rows: subtract the (k+1)-th largest weight (under the total order
    weight DESC, token ASC) from every token and drop the non-positive
    — the mergeable-summaries formulation (Agarwal, Cormode,
    Huang, Phillips, Wei & Yi, PODS 2012): merging two summaries is
    weight addition followed by this reduce, and the classical MG
    guarantee 0 ≤ exact − weight ≤ (N − S)/(k+1) survives ANY merge
    tree (N = total stream mass, S = surviving summary mass).

    Scale: the (k+1)-th order statistic comes from a TakeOrdered
    limit(k+1) (map-side heaps, no global sort), broadcast back as a
    scalar onto the count frame. The input is evaluated twice (order
    statistic + subtraction passes): callers feeding corpus-scale
    frames pin them first (mg_heavy_hitters and the fold floor do);
    the maintainers' micro-batch frames re-evaluate cheaply."""
    topk1 = (weights.orderBy(F.col("weight").desc(), F.col("token"))
             .limit(k + 1))
    wstar = topk1.agg(
        F.coalesce(F.when(F.count("*") == k + 1, F.min("weight")),
                   F.lit(0)).cast("long").alias("wstar"))
    return (weights.crossJoin(F.broadcast(wstar))
            .select("token",
                    (F.col("weight") - F.col("wstar")).cast("long")
                    .alias("weight"))
            .where(F.col("weight") > 0))


def mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the one-shot Misra-Gries summary of the
    corpus token stream — ≤ MG_K survivors with their deterministic
    lower-bound weights beside the exact counts. Unlike the CMS (which
    overestimates, randomly-hashed) the MG summary underestimates with
    a DETERMINISTIC bound, so the whole operator is exact integer
    arithmetic with a full SQL oracle — no rows-only concession. For
    a one-shot reduce every survivor's underestimate equals the
    subtracted (k+1)-th weight; the fold gates below prove the bound
    where it is non-trivial (multi-batch merge trees)."""
    counts = _token_counts(Catalog(spark, sf_dir).documents)
    summary = mg_reduce(counts.select(
        "token", F.col("n_exact").alias("weight")))
    total = counts.agg(F.sum("n_exact").cast("long").alias("n_total"))
    return (summary
            .join(counts, "token")
            .crossJoin(total)
            .select("token", "weight", "n_exact",
                    (F.col("n_exact") - F.col("weight")).cast("long")
                    .alias("underestimate"),
                    "n_total")
            .orderBy(F.col("weight").desc(), "token"))


MG_HEAVY_HITTERS_SQL = f"""
WITH counts AS (
    SELECT term AS token, CAST(COUNT(*) AS BIGINT) AS n_exact
    FROM (SELECT UNNEST(string_split_regex(trim(text), '\\s+')) AS term
          FROM documents)
    GROUP BY 1
),
topk1 AS (
    SELECT n_exact AS weight FROM counts
    ORDER BY n_exact DESC, token LIMIT {MG_K + 1}
),
ws AS (
    SELECT CAST(COALESCE(CASE WHEN COUNT(*) = {MG_K + 1}
                         THEN MIN(weight) END, 0) AS BIGINT) AS wstar
    FROM topk1
),
total AS (SELECT CAST(SUM(n_exact) AS BIGINT) AS n_total FROM counts)
SELECT c.token,
       CAST(c.n_exact - w.wstar AS BIGINT) AS weight,
       c.n_exact,
       CAST(w.wstar AS BIGINT) AS underestimate,
       t.n_total
FROM counts c CROSS JOIN ws w CROSS JOIN total t
WHERE c.n_exact - w.wstar > 0
ORDER BY weight DESC, token
"""


def mg_fold_bound_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible Misra-Gries quality gate, pinned-constant
    oracle: fold the corpus through a two-batch merge tree — the
    MAINTAINER'S OWN fold functions (mg_state/merge_mg_state on a doc_id
    parity split), so the gate exercises the exact code the streaming
    path runs — and assert the mergeable-summaries guarantees on
    the REAL data: (a) ≤ k survivors, (b) every weight is a lower
    bound of the exact count, (c) every underestimate clears
    (exact − weight)·(k+1) ≤ N − S in exact integers, (d) every token
    with exact·(k+1) > N is present (the frequent-item completeness
    the summary exists for), (e) the state's meta row carries exactly
    the corpus token mass. A one-shot summary satisfies these
    trivially; the fold is where a merge bug would break them."""
    from ..cache import pin
    docs = Catalog(spark, sf_dir).documents
    counts = pin(_token_counts(docs))
    state = pin(replay(key_split(docs, F.col("doc_id"), 2),
                       mg_state, merge_mg_state))
    folded = (state.where(F.col("token").isNotNull())
              .select("token", "weight"))
    total = counts.agg(F.sum("n_exact").cast("long").alias("n_total"))
    joined = (folded.join(counts, "token")
              .crossJoin(total))
    s_mass = joined.agg(F.sum("weight").cast("long").alias("s")) \
        .collect()[0]["s"] or 0
    checks = joined.agg(
        F.count("*").alias("n_rows"),
        F.min(F.col("n_exact") - F.col("weight")).alias("min_under"),
        F.max((F.col("n_exact") - F.col("weight")) * (MG_K + 1)
              - (F.col("n_total") - F.lit(s_mass))).alias("worst_slack"),
        F.max("n_total").alias("n_total"))
    present = folded.select("token")
    missing_frequent = (counts.crossJoin(total)
                        .where(F.col("n_exact") * (MG_K + 1)
                               > F.col("n_total"))
                        .join(present, "token", "left_anti")
                        .count())
    meta_mass = state.where(F.col("token").isNull()) \
        .select("n_total").collect()[0]["n_total"]
    return checks.select(
        F.lit(MG_K).cast("long").alias("k"),
        (F.col("n_rows") <= MG_K).alias("at_most_k_rows"),
        (F.col("min_under") >= 0).alias("never_overestimates"),
        (F.col("worst_slack") <= 0).alias("bound_holds"),
        F.lit(missing_frequent == 0).alias("frequent_items_present"),
        (F.col("n_total") == F.lit(meta_mass)).alias("meta_mass_exact"))


MG_FOLD_BOUND_SQL = f"""
SELECT CAST({MG_K} AS BIGINT) AS k,
       TRUE AS at_most_k_rows,
       TRUE AS never_overestimates,
       TRUE AS bound_holds,
       TRUE AS frequent_items_present,
       TRUE AS meta_mass_exact
"""

register("mg_heavy_hitters", mg_heavy_hitters, MG_HEAVY_HITTERS_SQL)
register("mg_fold_bound_floor", mg_fold_bound_floor, MG_FOLD_BOUND_SQL)

# --- Misra-Gries maintainer (shared idempotent-fold template) ---


def mg_state(batch_docs: DataFrame) -> DataFrame:
    """MG state from one batch: the reduced summary plus one NULL-token
    meta row carrying the batch's total token mass (the N the error
    bound is stated against — it must ride in state because the
    summary alone can't reconstruct it, and an all-ties reduce can
    legitimately leave ZERO summary rows)."""
    counts = _token_counts(batch_docs)
    total = counts.agg(F.coalesce(F.sum("n_exact"), F.lit(0))
                       .cast("long").alias("n_total"))
    summ = mg_reduce(counts.select("token",
                                   F.col("n_exact").alias("weight")))
    meta = total.select(F.lit(None).cast("string").alias("token"),
                        F.lit(0).cast("long").alias("weight"), "n_total")
    return summ.crossJoin(total).unionByName(meta)


def merge_mg_state(prev: DataFrame, batch_docs: DataFrame) -> DataFrame:
    """Mergeable-summaries merge: weight addition over the union of
    the two summaries, then one mg_reduce; total mass adds. The
    (N − S)/(k+1) guarantee survives this by the PODS'12 argument
    (each reduce removes ≥ (k+1)·w* of mass, so the per-token
    cumulative subtraction is bounded by the mass the state lost)."""
    delta = mg_state(batch_docs)

    def meta(df: DataFrame) -> DataFrame:
        return df.where(F.col("token").isNull()).select("n_total")

    def real(df: DataFrame) -> DataFrame:
        return df.where(F.col("token").isNotNull()) \
            .select("token", "weight")

    n_tot = (meta(prev).unionByName(meta(delta))
             .agg(F.sum("n_total").cast("long").alias("n_total")))
    summ = mg_reduce(
        real(prev).unionByName(real(delta))
        .groupBy("token").agg(F.sum("weight").cast("long")
                              .alias("weight")))
    new_meta = n_tot.select(F.lit(None).cast("string").alias("token"),
                            F.lit(0).cast("long").alias("weight"),
                            "n_total")
    return summ.crossJoin(n_tot).unionByName(new_meta)
