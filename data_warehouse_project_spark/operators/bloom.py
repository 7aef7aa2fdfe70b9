"""Bloom-filter semi-join reduction — the shuffle-avoidance primitive
for selective fact⋈dim joins at scale (round 7; Bloom 1970, and the
technique behind Spark's own runtime `bloom_filter_agg` row-level
filtering, which Spark does not expose as a SQL/DataFrame function —
this is the same idea built from first principles in DataFrame ops).
The engine's one Bloom filter: the dim semi-join below and
triangle's wedge prune (plans/graph.py) share bloom_bits/bloom_probe.

The problem it solves at 100 TB: a fact⋈dim join where the dim
SUBSET is selective but the dim itself is too large to broadcast
would shuffle the entire fact table just to discard ~96% of it on
the other side. The Bloom reduction ships a FIXED-SIZE summary
instead: the dim subset's bitmap — at most BLOOM_M/64 rows no
matter how many keys the dim holds — broadcast to the fact scan,
where k hash probes drop non-joining rows BEFORE the join exchange.
False positives survive the probe (and are removed by the exact
join that follows); false negatives are impossible: every set bit
of a present key was inserted by construction.

When the probe runs: only when the dim subset will NOT be broadcast
(`fits_broadcast` is False — Catalyst's size estimate exceeds
spark.sql.autoBroadcastJoinThreshold, or the threshold is -1). A dim
that fits is broadcast-joined, and that broadcast hash join is an
exact filter at the same fact scan: a Bloom probe in front of it
drops nothing the join would keep and costs a bit-table build, two
pins and k extra broadcasts (17 Spark jobs instead of 5 for
`bloom_semijoin_revenue` at sf0.01, where the subset is 93 rows).

Why not Spark's runtime Bloom filter
(spark.sql.optimizer.runtime.bloomFilter.enabled, on by default): it
never fires for this join under the engine's 64 MB broadcast
threshold. Its creation-side check uses the dim's size estimate from
before the filter — Catalyst puts the `p_partkey` projection of all
of `part` and of the `p_size ≤ 2` subset alike at 4 793 B at sf0.01
— so the dim always counts as broadcastable and Spark injects
nothing. Past the threshold the hand-rolled probe below is the only
prune.

Plan shape: one word-bitmap layout for every caller. The build
explodes each key's k positions xxhash64(*cols, i) & (nbits − 1) and
ORs each position's lane into its 64-bit word: groupBy(w).agg(bit_or)
gives ≤ min(nbits/64, k·n) rows of (w, bits), 16 B each — bounded by
the filter geometry, not the data. The probe is k broadcast LEFT SEMI
joins, each keyed on the word index shiftright(p, 6) with the lane
test bits & (1 << (p & 63)) ≠ 0 as its join condition — JVM-side
hashing, no Python, and the probed stream never shuffles a dropped
row. The exact join that follows sees the survivor stream.

Geometry: k = 2 on one shared nbits array, theory FPR
(1 − e^(−kn/m))^k. The semi-join, the floor and the fold use the fixed
m = BLOOM_M = 65 536 bits: ≈ 5.4e-4 at the sf0.1 dim subset
(n = 767), and the fold state stays ≤ m/64 = 1 024 rows forever.
Triangle sizes its filter from its edge count (bloom_nbits: ≥ 16 bits
per key, so ≤ 1.4%).

Oracle: the headline query's answer is EXACT — the Bloom stage is a
pure pre-filter, so the oracle is the plain join+aggregate SQL with
no sketch anywhere (the strongest correctness statement available:
the optimization is invisible in the result). The floor gates the
filter's quality on a pinned-constant oracle: zero false negatives
(structural), measured false-positive rate ≤ gate, and genuine
pruning (survivor count ≤ gate × true-match count). The floor always
probes: the filter's quality is what it measures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..sources.catalog import Catalog

#: fixed filter geometry of the dim semi-join, the floor and the fold
#: (one geometry keeps fold merges exact): m bits, k hash probes
BLOOM_M = 65536
BLOOM_K = 2

#: dim-subset predicate: small parts (p_size ≤ 2 → ~4% of parts)
_PART_SIZE_MAX = 2

#: false-positive gate: measured FPR·10^6 ≤ 20 000 (2%) — vs the
#: theory (1−e^(−kn/m))^k ≈ 5.4e-4 at the sf0.1 subset (n = 767
#: keys, m = 65 536, k = 2) and the measured 584 ppm there (11 of
#: 19 233 non-matching keys pass; none at sf0.001/sf0.01); theory
#: stays under the gate up to n ≈ 5 000 qualifying keys, so it holds
#: if the data regenerates with ~6× more of them
BLOOM_FPR_GATE_PPM = 20000

#: pruning gate: bloom survivors ≤ 1.05 × true-matching fact rows —
#: the filter must actually reduce the stream, not wave rows through
BLOOM_PASS_GATE_PCT = 105

#: Spark's default spark.sql.autoBroadcastJoinThreshold (10 MB): the
#: cap on an explicit broadcast when the session turns automatic
#: broadcast off — a hint still broadcasts then, so it needs a bound
_DEFAULT_BROADCAST_BYTES = 10 * 1024 * 1024


def _broadcast_threshold(spark: SparkSession) -> int:
    return int(spark._jsparkSession.sessionState().conf()
               .autoBroadcastJoinThreshold())


def fits_broadcast(df: DataFrame) -> bool:
    """True when Spark broadcasts ``df`` as a join side on its own:
    Catalyst's size estimate of its optimized plan is within the
    session's spark.sql.autoBroadcastJoinThreshold — the test Spark's
    JoinSelection applies. Reads plan statistics only, launches no
    job. A threshold of -1 (automatic broadcast off) never fits."""
    size = int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    return 0 <= size <= _broadcast_threshold(df.sparkSession)


def broadcast_budget(spark: SparkSession) -> int:
    """Bytes an explicit `F.broadcast` of a data-sized side may ship:
    the session's broadcast threshold, or Spark's 10 MB default when
    automatic broadcast is off (threshold ≤ 0)."""
    threshold = _broadcast_threshold(spark)
    return threshold if threshold > 0 else _DEFAULT_BROADCAST_BYTES


def bloom_nbits(n: int) -> int:
    """Filter size for n keys: ≥ 16 bits per key, a power of two (so
    a position is a mask, not a modulo), at least 1 024."""
    return max(1 << 10, 1 << (16 * n - 1).bit_length())


def bloom_bytes(nbits: int, n: int) -> int:
    """Upper bound on the broadcast size of an nbits filter over n
    keys: ≤ min(nbits/64, k·n) rows of 16 B."""
    return 16 * min(nbits // 64, BLOOM_K * n)


def _positions(cols: list[str], nbits: int) -> list:
    return [F.xxhash64(*cols, F.lit(i)).bitwiseAND(F.lit(nbits - 1))
            for i in range(BLOOM_K)]


def _lane(p):
    """Position p's one-hot lane inside its 64-bit word."""
    return F.call_function("shiftleft", F.lit(1).cast("long"),
                           p.bitwiseAND(F.lit(63)).cast("int"))


def bloom_bits(keys: DataFrame, cols: list[str], nbits: int) -> DataFrame:
    """The filter itself: (w, bits) rows, one per 64-bit word with a
    set bit — ≤ min(nbits/64, k·n) rows regardless of input size.
    Callers that probe with it should pin() the result: the probe
    reads it once per hash."""
    return (keys.select(F.explode(F.array(*_positions(cols, nbits)))
                        .alias("__bloom_p"))
            .groupBy(F.shiftright("__bloom_p", 6).alias("w"))
            .agg(F.bit_or(_lane(F.col("__bloom_p"))).alias("bits")))


def bloom_probe(df: DataFrame, cols: list[str], bits: DataFrame,
                nbits: int) -> DataFrame:
    """Keep rows of ``df`` whose k positions are ALL set: k broadcast
    left-semi joins — a dropped row never reaches the next exchange.
    Precondition: ``cols`` have the same types as the columns the
    filter was built from (xxhash64 hashes a long and an int of the
    same value differently, which would read as false negatives);
    ``nbits`` is the build's. The bitmap side carries
    collision-safe column names."""
    side = F.broadcast(bits.select(F.col("w").alias("__bloom_w"),
                                   F.col("bits").alias("__bloom_bits")))
    out = df
    for p in _positions(cols, nbits):
        out = out.join(
            side,
            (F.shiftright(p, 6) == F.col("__bloom_w"))
            & (F.col("__bloom_bits").bitwiseAND(_lane(p)) != 0),
            "left_semi")
    return out


def _small_parts(cat: Catalog) -> DataFrame:
    return cat.part.filter(F.col("p_size") <= _PART_SIZE_MAX)


def bloom_semijoin_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (EXACT — full SQL oracle, no sketch in the
    answer): revenue of lineitems whose part is small (p_size ≤ 2),
    by brand. A dim subset that fits the broadcast threshold is
    broadcast-joined, which already filters the lineitem scan
    exactly. Otherwise the lineitem stream is Bloom-pruned before the
    exact part join; false positives the filter admits are removed by
    that join, so the result is identical either way."""
    cat = Catalog(spark, sf_dir)
    dim = _small_parts(cat).select("p_partkey", "p_brand")
    fact = cat.lineitem.select("l_partkey", "l_extendedprice",
                               "l_discount")
    if not fits_broadcast(dim):
        from ..cache import pin
        dim = pin(dim)
        bits = pin(bloom_bits(dim, ["p_partkey"], BLOOM_M))
        fact = bloom_probe(fact, ["l_partkey"], bits, BLOOM_M)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (fact
            .join(dim, F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand")
            .agg(F.round(F.sum(rev), 2).alias("revenue"),
                 F.count("*").cast("long").alias("n_items"))
            .orderBy("p_brand"))


BLOOM_REVENUE_SQL = f"""
SELECT p_brand,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= {_PART_SIZE_MAX}
GROUP BY p_brand
ORDER BY p_brand
"""


def bloom_filter_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible Bloom quality gate, pinned-constant oracle:
    (a) ZERO false negatives — every truly-joining fact row passes
    the probe (structural: a present key's bits were all inserted;
    a False means broken hash/position math, not changed data);
    (b) measured false-positive rate ≤ BLOOM_FPR_GATE_PPM (integer
    ppm compare); (c) survivors ≤ BLOOM_PASS_GATE_PCT% of true
    matches — the filter genuinely prunes. All counts are exact
    integers; nothing transcendental enters the compare."""
    from ..cache import pin
    cat = Catalog(spark, sf_dir)
    dim = _small_parts(cat).select("p_partkey")
    bits = pin(bloom_bits(dim, ["p_partkey"], BLOOM_M))
    fact = cat.lineitem.select("l_partkey")
    passed = pin(bloom_probe(fact, ["l_partkey"], bits, BLOOM_M))
    true_match = fact.join(dim,
                           F.col("l_partkey") == F.col("p_partkey"),
                           "left_semi")
    # a passed row is a false positive iff it does NOT truly match
    fp = passed.join(dim,
                     F.col("l_partkey") == F.col("p_partkey"),
                     "left_anti")
    # a false negative is a truly-matching row that did NOT pass:
    # true_match minus (passed ∩ true_match) == n_true - (n_pass - n_fp)
    counts = (fact.agg(F.count("*").alias("n_fact"))
              .crossJoin(true_match.agg(F.count("*").alias("n_true")))
              .crossJoin(passed.agg(F.count("*").alias("n_pass")))
              .crossJoin(fp.agg(F.count("*").alias("n_fp"))))
    return counts.select(
        F.lit(BLOOM_M).cast("long").alias("m_bits"),
        F.lit(BLOOM_K).cast("long").alias("k_hashes"),
        ((F.col("n_pass") - F.col("n_fp")) == F.col("n_true"))
        .alias("no_false_negatives"),
        (F.col("n_fp") * 1000000
         <= (F.col("n_fact") - F.col("n_true")) * BLOOM_FPR_GATE_PPM)
        .alias("fpr_le_gate"),
        (F.col("n_pass") * 100
         <= F.col("n_true") * BLOOM_PASS_GATE_PCT).alias("prunes_to_gate"),
    )


BLOOM_FLOOR_SQL = f"""
SELECT CAST({BLOOM_M} AS BIGINT) AS m_bits,
       CAST({BLOOM_K} AS BIGINT) AS k_hashes,
       TRUE AS no_false_negatives,
       TRUE AS fpr_le_gate,
       TRUE AS prunes_to_gate
"""

register("bloom_semijoin_revenue", bloom_semijoin_revenue,
         BLOOM_REVENUE_SQL)
register("bloom_filter_floor", bloom_filter_floor, BLOOM_FLOOR_SQL)


def bloom_state(batch_parts: DataFrame) -> DataFrame:
    """Bloom maintainer state of one batch of parts: ≤ BLOOM_M/64 =
    1 024 (w, bits) rows."""
    return bloom_bits(
        batch_parts.filter(F.col("p_size") <= _PART_SIZE_MAX)
        .select("p_partkey"), ["p_partkey"], BLOOM_M)


def merge_bloom_state(prev: DataFrame, batch_parts: DataFrame) -> DataFrame:
    """Word-wise OR — the Bloom merge is EXACT (a bit is set in the
    union iff some batch set it), so the folded filter is
    BIT-IDENTICAL to a single-pass build over all history
    (unit-pinned): the same guarantee class as the CMS cell-addition,
    HLL register-maxima, and KMV union-retruncate merges. Inserts
    only — a Bloom filter cannot delete; key removal means rebuild,
    which the floor's exactness contract makes safe to defer (false
    positives never corrupt results, they only cost probe passes)."""
    return (prev.unionByName(bloom_state(batch_parts))
            .groupBy("w").agg(F.bit_or("bits").alias("bits")))
